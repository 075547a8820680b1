"""Streaming ingest + egress semantics: checkpoint resume (T3), in-flight and
cross-batch dedup (T6), bounded egress batches with partial failure (T7)."""

from __future__ import annotations

import datetime as dt
import logging
import os

import pytest
from conftest import SF_SMALL

from pyspark.sql import functions as F

from spark_deal_observer_spark.operators.merge import DEAL_KEY
from spark_deal_observer_spark.plans.deals import REF_TS, deals_df
from spark_deal_observer_spark.sources.tables import load_table
from spark_deal_observer_spark.streaming.egress import submit_eligible
from spark_deal_observer_spark.streaming.ingest import EVENTS_DDL, start_ingest
from spark_deal_observer_spark.streaming.sink import PartitionedDealTableSink


@pytest.fixture()
def dirs(tmp_path):
    return {
        "source": str(tmp_path / "source"),
        "table": str(tmp_path / "table"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _drain(q):
    q.awaitTermination(120)


def test_ingest_end_to_end_idempotent(spark, dirs):
    events = load_table(spark, SF_SMALL, "events")
    events.write.mode("overwrite").parquet(dirs["source"])
    n_keys = deals_df(spark, SF_SMALL).select(*DEAL_KEY).dropDuplicates().count()

    q = start_ingest(
        spark, dirs["source"], dirs["table"], dirs["ckpt"],
        available_now=True, max_files_per_trigger=1,
    )
    _drain(q)
    sink = PartitionedDealTableSink(spark, dirs["table"])
    first = sink.count()
    assert first == n_keys

    # restart with the same checkpoint: nothing new to process
    q = start_ingest(
        spark, dirs["source"], dirs["table"], dirs["ckpt"], available_now=True
    )
    _drain(q)
    assert sink.count() == first

    # replay the same events as new files: checkpoint sees new files, but the
    # keyed anti-join sink drops every row — effectively-once
    events.write.mode("append").parquet(dirs["source"])
    q = start_ingest(
        spark, dirs["source"], dirs["table"], dirs["ckpt"], available_now=True
    )
    _drain(q)
    assert sink.count() == first


def test_ingest_keeps_late_events_and_drops_redeliveries(spark, dirs):
    """The keyed sink is the only dedup, like the reference's ON CONFLICT
    DO NOTHING: events 10 h older than everything already ingested are
    stored (nothing is dropped for lateness), while an event re-delivered
    across runs and one duplicated within a file are each stored once."""
    t = dt.datetime(2026, 8, 1, 12, 0, 0)

    def event(eid, ts):
        return (eid, ts, eid, "purchase", 1.0 + eid, "{}")

    def ingest(rows):
        spark.createDataFrame(rows, EVENTS_DDL).coalesce(1).write.mode(
            "append"
        ).parquet(dirs["source"])
        _drain(start_ingest(
            spark, dirs["source"], dirs["table"], dirs["ckpt"], available_now=True
        ))

    first = [event(i, t) for i in range(1, 11)]
    ingest(first)
    late = [event(i, t - dt.timedelta(hours=10)) for i in range(11, 21)]
    ingest(late + [first[0], late[0]])  # same checkpoint, one new file

    stored = PartitionedDealTableSink(spark, dirs["table"]).read()
    assert stored.count() == 20
    assert stored.dropDuplicates(list(DEAL_KEY)).count() == 20
    assert sorted(r.id for r in stored.select("id").collect()) == list(range(1, 21))


def test_egress_before_first_ingest_commit_is_a_zero_tick(spark, dirs):
    """Egress may tick before ingest has committed anything: on an empty
    table directory it returns zero counts and never calls the poster."""
    os.makedirs(dirs["table"])
    posts = []
    res = submit_eligible(PartitionedDealTableSink(spark, dirs["table"]), posts.append)
    assert res == {"submitted": 0, "ingested": 0, "skipped": 0, "failed_batches": 0}
    assert posts == []


def test_egress_partial_failure_then_retry(spark, dirs, caplog):
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, dirs["table"])
    sink.append_dedup(deals)
    stored = sink.count()

    calls = []

    def flaky_poster(payload):
        calls.append(len(payload))
        if len(calls) == 2:
            raise ConnectionError("spark-api 500")
        return {"ingested": len(payload), "skipped": 0}

    now = F.lit(REF_TS).cast("timestamp_ntz")
    with caplog.at_level(logging.ERROR, logger="spark_deal_observer_spark.streaming.egress"):
        res1 = submit_eligible(sink, flaky_poster, now=now)
    n_eligible = sum(calls)
    assert res1["submitted"] == n_eligible - calls[1]  # failed batch skipped
    assert res1["failed_batches"] == 1
    # the skipped batch's exception is logged with its traceback
    (failure,) = [r for r in caplog.records if r.exc_info]
    assert isinstance(failure.exc_info[1], ConnectionError)
    assert sink.count() == stored  # merge rewrites, never grows

    # next tick retries only the failed batch's deals
    calls2 = []

    def ok_poster(payload):
        calls2.append(len(payload))
        return {"ingested": len(payload), "skipped": 0}

    res2 = submit_eligible(sink, ok_poster, now=now)
    assert res2["submitted"] == calls[1]
    assert res2["failed_batches"] == 0
    assert sum(calls2) == calls[1]

    # third tick: nothing left
    res3 = submit_eligible(sink, ok_poster, now=now)
    assert res3["submitted"] == 0


def test_egress_marks_submitted_at(spark, dirs):
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, dirs["table"])
    sink.append_dedup(deals)
    now = F.lit(REF_TS).cast("timestamp_ntz")
    res = submit_eligible(sink, lambda p: {"ingested": len(p)}, now=now)
    marked = sink.read().where(
        F.col("submitted_at") == F.lit(REF_TS).cast("timestamp_ntz")
    )
    assert marked.count() == res["submitted"]
    assert res["ingested"] == res["submitted"]


def test_windowed_counts_finalize_and_drop_late(spark, tmp_path):
    """T2-as-watermark: windows finalize once the watermark passes them and
    late rows for finalized windows are dropped, across query restarts."""
    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from spark_deal_observer_spark.streaming.windows import windowed_event_counts

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("event_type", StringType()),
        ]
    )
    src = tmp_path / "events"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    t = dt.datetime(2026, 8, 1, 10, 0, 0)

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type"])
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    collected = []

    def run(name):
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (
            windowed_event_counts(stream, window="10 minutes", watermark="5 minutes")
            .writeStream.foreachBatch(
                lambda b, _id: collected.extend(r.asDict() for r in b.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

    # batch 1: three purchases in [10:00, 10:10); nothing finalizes yet
    write_batch("b1", [(1, t, "purchase"), (2, t + dt.timedelta(minutes=2), "purchase"),
                       (3, t + dt.timedelta(minutes=9), "purchase")])
    run("w1")
    assert collected == []

    # batch 2: an event at 10:40 pushes the watermark to 10:35 → the
    # [10:00,10:10) window finalizes with its count of 3
    write_batch("b2", [(4, t + dt.timedelta(minutes=40), "view")])
    run("w2")
    finalized = {(r["window_start"], r["event_type"]): r["n_events"] for r in collected}
    assert finalized[(t, "purchase")] == 3

    # batch 3: a late purchase at 10:05 — behind the watermark, dropped;
    # no finalized window changes
    n_before = len(collected)
    write_batch("b3", [(5, t + dt.timedelta(minutes=5), "purchase")])
    run("w3")
    assert len(collected) == n_before


def test_telemetry_listener_records_observed_metrics(spark, dirs):
    """S11: the observe() hook + StreamingQueryListener pair records per-batch
    ingest counters without a second pass over the data."""
    import time

    from spark_deal_observer_spark.streaming.telemetry import MetricsRecorder

    events = load_table(spark, SF_SMALL, "events")
    events.write.mode("overwrite").parquet(dirs["source"])
    n_events = events.count()

    emitted = []
    rec = MetricsRecorder(emit=emitted.append)
    spark.streams.addListener(rec)
    try:
        q = start_ingest(
            spark, dirs["source"], dirs["table"], dirs["ckpt"],
            available_now=True, max_files_per_trigger=1,
        )
        _drain(q)
        # listener callbacks are async to the query thread
        deadline = time.time() + 30
        while time.time() < deadline:
            if rec.observed_total("ingest", "ingest", "rows") >= n_events:
                break
            time.sleep(0.5)
        assert rec.observed_total("ingest", "ingest", "rows") == n_events
        batches = [p for p in rec.points if p["query"] == "ingest" and p["observed"]]
        assert all(p["duration_ms"] is not None for p in batches)
        assert emitted  # the fire-and-forget emit seam saw the same points
    finally:
        spark.streams.removeListener(rec)


def test_streaming_session_windows_merge_finalize_drop_late(spark, tmp_path):
    """Native session_window sessionization: events within `gap` merge into
    one session per key, sessions finalize when the watermark passes their
    end, and late events for finalized sessions are dropped instead of
    re-opening them (state stays O(open sessions) forever)."""
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from spark_deal_observer_spark.streaming.windows import session_window_stats

    schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    src = tmp_path / "events"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    t = dt.datetime(2026, 8, 1, 10, 0, 0)

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    collected = []

    def run(name):
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (
            session_window_stats(stream, gap="30 minutes", watermark="5 minutes")
            .writeStream.foreachBatch(
                lambda b, _id: collected.extend(r.asDict() for r in b.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

    # session A (user 1): two events 10 min apart -> ONE merged session;
    # user 2 opens a parallel session
    write_batch("b1", [(1, t, 1.0), (1, t + dt.timedelta(minutes=10), 2.0),
                       (2, t + dt.timedelta(minutes=5), 5.0)])
    run("s1")
    assert collected == []  # nothing finalized yet (watermark at 10:05)

    # a much later event advances the watermark past both open sessions'
    # ends (A ends 10:40, B ends 10:35; watermark -> 11:55) and opens C
    write_batch("b2", [(1, t + dt.timedelta(hours=2), 10.0)])
    run("s2")
    done = {(r["user_id"], r["session_start"]): r for r in collected}
    a = done[(1, t)]
    assert a["session_end"] == t + dt.timedelta(minutes=40)
    assert a["n_events"] == 2 and a["total_value"] == 3.0
    b = done[(2, t + dt.timedelta(minutes=5))]
    assert b["n_events"] == 1 and b["total_value"] == 5.0

    # late event inside finalized session A: behind the watermark -> dropped,
    # A is NOT re-opened or re-emitted
    n_before = len(collected)
    write_batch("b3", [(1, t + dt.timedelta(minutes=20), 99.0)])
    run("s3")
    assert len(collected) == n_before

    # closing event finalizes session C with only its own rows
    write_batch("b4", [(1, t + dt.timedelta(hours=4), 0.5)])
    run("s4")
    c = {(r["user_id"], r["session_start"]): r for r in collected}[
        (1, t + dt.timedelta(hours=2))
    ]
    assert c["n_events"] == 1 and c["total_value"] == 10.0


@pytest.mark.slow  # r10 test tier: see pytest.ini
def test_stream_stream_join_attribution(spark, tmp_path):
    """Stream-stream left-outer join with dual watermarks + time-range
    condition: matches emit as clicks arrive; an unmatched view emits its
    NULL row only after the watermark proves no click can still arrive;
    clicks behind the watermark never resurrect a closed view."""
    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from spark_deal_observer_spark.streaming.joins import view_click_attribution

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
        ]
    )
    src = tmp_path / "events"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    t = dt.datetime(2026, 8, 1, 10, 0, 0)

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])
        spark.createDataFrame(pdf, schema=schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    collected = []

    def run(name):
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (
            view_click_attribution(stream, horizon_minutes=60, watermark="30 minutes")
            .writeStream.foreachBatch(
                lambda b, _id: collected.extend(r.asDict() for r in b.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)

    # user 1: view + click 20 min later (inside horizon) -> inner match;
    # user 2: view with no click (outer row must WAIT for the watermark)
    write_batch("b1", [(1, t, 1, "view"), (2, t + dt.timedelta(minutes=20), 1, "click"),
                       (3, t + dt.timedelta(minutes=5), 2, "view")])
    run("j1")
    matched = [r for r in collected if r["click_id"] is not None]
    assert [(r["view_id"], r["click_id"]) for r in matched] == [(1, 2)]
    assert not [r for r in collected if r["click_id"] is None]

    # advance event time on BOTH sides (the join's global watermark is the
    # MIN of the two input watermarks — views alone cannot move it) far
    # enough that view 3's horizon + watermark lag is exhausted; the
    # watermark commits at the END of a batch, so the NULL outer row emits
    # in the batch AFTER it advances (standard outer-join deferral)
    write_batch("b2", [(4, t + dt.timedelta(hours=3), 9, "view"),
                       (5, t + dt.timedelta(hours=3), 8, "click")])
    run("j2")
    write_batch("b3", [(6, t + dt.timedelta(hours=3, minutes=10), 9, "view"),
                       (7, t + dt.timedelta(hours=3, minutes=10), 8, "click")])
    run("j3")
    outer = [r for r in collected if r["click_id"] is None]
    assert [r["view_id"] for r in outer] == [3]  # emitted exactly once

    # a click for view 3 arriving FAR behind the watermark cannot resurrect
    # the closed attribution: the view's buffered state was evicted when
    # its outer row emitted, and an unmatched right row produces nothing
    # in a left-outer join — view 3 stays a single NULL-click row forever
    write_batch("b4", [(8, t + dt.timedelta(minutes=30), 2, "click")])
    run("j4")
    assert [r["view_id"] for r in collected if r["click_id"] is None] == [3]
    assert len([r for r in collected if r["user_id"] == 2]) == 1
