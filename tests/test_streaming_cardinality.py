"""Streaming form of the HLL cardinality sketch: the register table IS
the sketch's whole state and max-per-(key, bucket) IS its merge, so
registers built per micro-batch and max-merged must equal the batch-mode
registers over the union of all batches (merge associativity), and
merging a redelivered or empty batch must change nothing (merge
idempotence = effectively-once under at-least-once delivery, no ledger
needed)."""

from __future__ import annotations

from functools import reduce

from conftest import SF_SMALL
from pyspark.sql import functions as F

from spark_deal_observer_spark.operators.sketches import hll_estimate, hll_registers
from spark_deal_observer_spark.sources.tables import load_table


def _splits(events, n=3):
    return [events.where(F.col("event_id") % n == i) for i in range(n)]


def _merge(*regs):
    return (
        reduce(lambda a, b: a.unionByName(b), regs)
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def _cells(regs):
    return {(r["event_type"], r["bucket"]): r["rho"] for r in regs.collect()}


def _est(regs):
    return {
        r["event_type"]: round(r["est"], 4)
        for r in hll_estimate(regs, ["event_type"]).collect()
    }


def test_streamed_registers_match_batch(spark):
    events = load_table(spark, SF_SMALL, "events")
    streamed = _merge(*(hll_registers(b) for b in _splits(events)))
    batch = hll_registers(events)
    assert _cells(streamed) == _cells(batch)
    # the estimate read off the merged state equals the batch-mode estimate
    assert _est(streamed) == _est(batch)


def test_replayed_batch_is_idempotent(spark):
    events = load_table(spark, SF_SMALL, "events")
    first, second, _ = _splits(events)
    state = _merge(hll_registers(first), hll_registers(second))
    before = _cells(state)
    # at-least-once delivery: batch 1 arrives again
    after = _cells(_merge(state, hll_registers(second)))
    assert before == after


def test_empty_batch_keeps_state_and_reports(spark):
    events = load_table(spark, SF_SMALL, "events")
    state = hll_registers(events)
    merged = _merge(state, hll_registers(events.where(F.lit(False))))
    assert _cells(merged) == _cells(state)
    assert _est(merged) == _est(state)
