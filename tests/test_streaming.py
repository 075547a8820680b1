"""Streaming ingest + egress semantics: checkpoint resume (T3), in-flight and
cross-batch dedup (T6), bounded egress batches with partial failure (T7)."""

from __future__ import annotations

import datetime as dt
import logging

import pytest
from conftest import SF_SMALL

from pyspark.sql import functions as F

from spark_deal_observer_spark.operators.merge import DEAL_KEY
from spark_deal_observer_spark.plans.deals import REF_TS, deals_df
from spark_deal_observer_spark.sources.tables import load_table
from spark_deal_observer_spark.streaming.egress import submit_eligible
from spark_deal_observer_spark.streaming.ingest import start_ingest
from spark_deal_observer_spark.streaming.sink import DealTableSink


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
    sink = DealTableSink(spark, dirs["table"])
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


def test_egress_partial_failure_then_retry(spark, dirs, caplog):
    deals = deals_df(spark, SF_SMALL)
    sink = DealTableSink(spark, dirs["table"])
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
    sink = DealTableSink(spark, dirs["table"])
    sink.append_dedup(deals)
    now = F.lit(REF_TS).cast("timestamp_ntz")
    res = submit_eligible(sink, lambda p: {"ingested": len(p)}, now=now)
    marked = sink.read().where(
        F.col("submitted_at") == F.lit(REF_TS).cast("timestamp_ntz")
    )
    assert marked.count() == res["submitted"]
    assert res["ingested"] == res["submitted"]


@pytest.mark.parametrize("api", ["applyInPandasWithState", "transformWithState"])
def test_streaming_state_machine_transitions(spark, tmp_path, api):
    """T5 as keyed streaming state: NOT_QUERIED→UNRESOLVED→(backoff gate)
    →TERMINAL, NOT_QUERIED→RESOLVED, absorbing states — across restarts of
    the query (state survives via checkpoint). Parameterized over BOTH
    stateful APIs (VERDICT r7 #4): the transformWithStateInPandas variant
    runs the identical shared fold but its state client needs protobuf —
    absent here (and installs are forbidden), so the param skips with the
    verified reason; it runs for real wherever protobuf exists."""
    import pandas as pd

    from spark_deal_observer_spark.operators.state import RESOLVED, TERMINAL, UNRESOLVED
    from spark_deal_observer_spark.streaming.state_machine import (
        ATTEMPT_SCHEMA,
        resolution_state_stream,
        resolution_state_stream_tws,
        tws_available,
    )

    if api == "transformWithState":
        if not tws_available():
            pytest.skip(
                "transformWithStateInPandas state client needs protobuf "
                "(pyspark.sql.streaming.proto imports google.protobuf) — "
                "not installed in this environment"
            )
        build = resolution_state_stream_tws
    else:
        build = resolution_state_stream

    src = tmp_path / "attempts"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    t0 = dt.datetime(2026, 8, 1, 0, 0, 0)

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["id", "attempt_ts", "found_payload"])
        spark.createDataFrame(pdf, schema=ATTEMPT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    collected = []

    def run_and_collect(name):
        collected.clear()
        stream = spark.readStream.schema(ATTEMPT_SCHEMA).parquet(str(src / "*"))
        q = (
            build(stream)
            .writeStream.foreachBatch(
                lambda batch, _id: collected.extend(r.asDict() for r in batch.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q)
        return {r["id"]: r for r in collected}

    # batch 1: deal 1 misses (→UNRESOLVED), deal 2 resolves (→RESOLVED)
    write_batch("b1", [(1, t0, None), (2, t0, "bafyFOUND")])
    out = run_and_collect("sm1")
    assert out[1]["payload_retrievability_state"] == UNRESOLVED
    assert out[2]["payload_retrievability_state"] == RESOLVED
    assert out[2]["payload_cid"] == "bafyFOUND"

    # batch 2 (new query run, same checkpoint — state survives):
    #   deal 1 retried after 1 day → inside backoff, ignored (no output row)
    #   deal 2 gets another attempt → absorbing, ignored
    write_batch("b2", [(1, t0 + dt.timedelta(days=1), None), (2, t0, None)])
    out = run_and_collect("sm2")
    assert out == {}

    # batch 3: deal 1 retried after 4 days and still missing → TERMINAL
    write_batch("b3", [(1, t0 + dt.timedelta(days=4), None)])
    out = run_and_collect("sm3")
    assert out[1]["payload_retrievability_state"] == TERMINAL
    assert out[1]["payload_cid"] is None

    # batch 4: even a successful attempt cannot leave TERMINAL
    write_batch("b4", [(1, t0 + dt.timedelta(days=8), "bafyLATE")])
    out = run_and_collect("sm4")
    assert out == {}


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


def test_egress_distributed_partial_failure(spark, dirs):
    """Executor-side egress: batches post from worker partitions; a
    deterministically failing batch stays unflagged and retries next tick."""
    from spark_deal_observer_spark.streaming.egress import (
        submit_eligible,
        submit_eligible_distributed,
    )

    deals = deals_df(spark, SF_SMALL)
    sink = DealTableSink(spark, dirs["table"])
    sink.append_dedup(deals)
    now = F.lit(REF_TS).cast("timestamp_ntz")

    # poster pickled to workers: fails any batch containing a minerId
    # divisible by 5 (content-determined — no driver-side call counters)
    def poster(payload):
        if any(int(p["minerId"][2:]) % 5 == 0 for p in payload):
            raise ConnectionError("spark-api 500")
        return {"ingested": len(payload), "skipped": 0}

    # reference totals from the driver-side variant on a parallel sink
    ref_sink = DealTableSink(spark, dirs["table"] + "_ref")
    ref_sink.append_dedup(deals)
    res_ref = submit_eligible(ref_sink, poster, now=now, batch_size=7)

    res1 = submit_eligible_distributed(sink, poster, now=now, batch_size=7)
    assert res1["submitted"] > 0
    assert res1["failed_batches"] > 0 and res_ref["failed_batches"] > 0
    flagged = sink.read().where(F.col("submitted_at") == now).count()
    assert flagged == res1["submitted"] == res1["ingested"]

    # batch composition differs between the two variants (partitioning), but
    # both must leave the failing deals unflagged and retry-able
    res2 = submit_eligible_distributed(
        sink, lambda p: {"ingested": len(p)}, now=now, batch_size=7
    )
    total = res1["submitted"] + res2["submitted"]
    ref_total = res_ref["submitted"] + submit_eligible(
        ref_sink, lambda p: {"ingested": len(p)}, now=now, batch_size=7
    )["submitted"]
    assert total == ref_total  # every eligible deal submitted exactly once
    assert submit_eligible_distributed(sink, lambda p: {"ingested": len(p)}, now=now)[
        "submitted"
    ] == 0


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


def test_egress_distributed_posts_exactly_once_per_tick(spark, dirs, tmp_path):
    """The distributed egress materializes the POSTing mapInPandas ONCE
    (localCheckpoint): the counter aggregate and the mark-submitted
    semi-join are both actions over the checkpointed result, so neither
    re-executes the poster — no deal is ever POSTed twice in one tick."""
    from spark_deal_observer_spark.streaming.egress import submit_eligible_distributed

    deals = deals_df(spark, SF_SMALL)
    sink = DealTableSink(spark, dirs["table"])
    sink.append_dedup(deals)
    now = F.lit(REF_TS).cast("timestamp_ntz")
    log = str(tmp_path / "posts.log")

    def poster(payload):
        with open(log, "a") as f:
            for p in payload:
                f.write(f"{p['minerId']}/{p['pieceCid']}\n")
        return {"ingested": len(payload), "skipped": 0}

    res = submit_eligible_distributed(sink, poster, now=now, batch_size=7)
    assert res["submitted"] > 0
    with open(log) as f:
        posted = [ln for ln in f.read().splitlines() if ln]
    # a re-executed poster stage would double the log relative to the counter
    assert len(posted) == res["submitted"], (len(posted), res["submitted"])
    flagged = sink.read().where(F.col("submitted_at") == now).count()
    assert flagged == res["submitted"]


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
