"""Crash-interruption (torn-write) recovery for the stateful sink
families — not replay idempotence (well tested elsewhere) but the
partial-directory protocol itself: a process killed mid-commit leaves a
state directory that EXISTS without its _SUCCESS marker (some part files
already moved in). Restart + redelivery must yield effectively-once
output: torn snapshots invisible to selection, torn batch dirs healed by
overwrite, orphaned stage/backup dirs swept (and a backup whose live dir
vanished RESTORED, never deleted)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # r10 test tier: see pytest.ini

import os
import shutil

from conftest import SF_SMALL
from pyspark.sql import functions as F

from spark_deal_observer_spark.sources.tables import load_table


def _tear(src_committed: str, dst: str) -> None:
    """Fabricate a torn directory at `dst`: one real part file copied
    from a committed dir (files move in before the marker), a leftover
    _temporary dir, and NO _SUCCESS."""
    os.makedirs(dst, exist_ok=True)
    os.makedirs(os.path.join(dst, "_temporary"), exist_ok=True)
    part = next(
        f for f in os.listdir(src_committed) if f.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(src_committed, part), os.path.join(dst, "x-" + part)
    )
    assert not os.path.exists(os.path.join(dst, "_SUCCESS"))


def _splits(df, col, n=3):
    return [df.where(F.col(col) % n == i) for i in range(n)]


def test_line_dedup_torn_snapshot_heals_on_redelivery(spark, tmp_path):
    from spark_deal_observer_spark.streaming.line_dedup import (
        LineDedupIngestSink,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    parts = _splits(docs, "doc_id")

    clean = LineDedupIngestSink(spark, str(tmp_path / "clean"))
    for i, b in enumerate(parts):
        clean.process_batch(b, batch_id=i)
    want = {
        r["doc_id"]: (r["n_kept"], r["clean_text"])
        for r in clean.read_docs().collect()
    }

    crash = LineDedupIngestSink(spark, str(tmp_path / "crash"))
    crash.process_batch(parts[0], batch_id=0)
    crash.process_batch(parts[1], batch_id=1)
    # batch 2 crashes mid-commit: torn store snapshot AND torn docs dir
    _tear(f"{crash.store}/snapshot=1", f"{crash.store}/snapshot=2")
    _tear(f"{crash.docs}/batch_id=1", f"{crash.docs}/batch_id=2")
    # the torn snapshot must be invisible to snapshot selection
    assert crash._store.prior_id(3) == 1

    restarted = LineDedupIngestSink(spark, str(tmp_path / "crash"))
    restarted.process_batch(parts[2], batch_id=2)  # redelivery
    got = {
        r["doc_id"]: (r["n_kept"], r["clean_text"])
        for r in restarted.read_docs().collect()
    }
    assert got == want
    assert os.path.exists(f"{restarted.store}/snapshot=2/_SUCCESS")


def test_frequency_ledger_does_not_count_torn_snapshot(spark, tmp_path):
    """The CMS ledger treats ids <= last snapshot as applied — if a TORN
    snapshot were counted as latest, the crashed batch's redelivery would
    be skipped (lost counts) and partial cells would feed the merge."""
    from spark_deal_observer_spark.operators.sketches import cms_cells
    from spark_deal_observer_spark.streaming.frequency import (
        FrequencyMonitorSink,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    parts = _splits(docs, "doc_id")
    path = str(tmp_path / "freq")
    f1 = FrequencyMonitorSink(spark, path)
    f1.process_batch(parts[0], batch_id=0)
    f1.process_batch(parts[1], batch_id=1)
    _tear(f"{path}/sketch/snapshot=1", f"{path}/sketch/snapshot=2")

    f2 = FrequencyMonitorSink(spark, path)
    assert f2._last_snapshot == 1  # torn snapshot invisible
    f2.process_batch(parts[2], batch_id=2)  # redelivery NOT skipped
    got = {(r["d"], r["cell"]): r["cnt"] for r in f2._sketch().collect()}
    want = {(r["d"], r["cell"]): r["cnt"] for r in cms_cells(docs).collect()}
    assert got == want


def test_cardinality_restart_over_torn_snapshot(spark, tmp_path):
    from spark_deal_observer_spark.operators.sketches import hll_registers
    from spark_deal_observer_spark.streaming.cardinality import (
        CardinalityMonitorSink,
    )

    events = load_table(spark, SF_SMALL, "events")
    parts = _splits(events, "event_id")
    path = str(tmp_path / "card")
    s1 = CardinalityMonitorSink(spark, path)
    s1.process_batch(parts[0], batch_id=0)
    s1.process_batch(parts[1], batch_id=1)
    _tear(f"{path}/registers/snapshot=1", f"{path}/registers/snapshot=2")

    s2 = CardinalityMonitorSink(spark, path)
    s2.process_batch(parts[2], batch_id=2)  # overwrites the torn dir
    got = {
        (r["event_type"], r["bucket"]): r["rho"]
        for r in s2._registers().collect()
    }
    want = {
        (r["event_type"], r["bucket"]): r["rho"]
        for r in hll_registers(events).collect()
    }
    assert got == want


def test_admission_budget_ignores_torn_batch_dir(spark, tmp_path):
    from spark_deal_observer_spark.streaming.admission import (
        BudgetAdmissionSink,
    )

    docs = load_table(spark, SF_SMALL, "documents")
    parts = _splits(docs, "doc_id")
    budget = 40_000

    clean = BudgetAdmissionSink(spark, budget, str(tmp_path / "clean"))
    for i, b in enumerate(parts):
        clean.process_batch(b, batch_id=i)
    want_ids = {r["doc_id"] for r in clean.read_admitted().collect()}
    want_spent = clean._consumed

    path = str(tmp_path / "crash")
    c = BudgetAdmissionSink(spark, budget, path)
    c.process_batch(parts[0], batch_id=0)
    c.process_batch(parts[1], batch_id=1)
    _tear(f"{path}/admitted/batch_id=1", f"{path}/admitted/batch_id=2")

    r = BudgetAdmissionSink(spark, budget, path)
    assert r._applied == {0, 1}  # torn dir is NOT applied
    assert r._consumed == sum(
        x["n_tokens"]
        for i in (0, 1)
        for x in spark.read.parquet(f"{path}/admitted/batch_id={i}").collect()
    )
    r.process_batch(parts[2], batch_id=2)  # redelivery heals the dir
    got_ids = {r2["doc_id"] for r2 in r.read_admitted().collect()}
    assert got_ids == want_ids and r._consumed == want_spent


def test_deal_sink_append_heals_partial_append(spark, tmp_path):
    """append_dedup after a crash mid-append-commit: some of the batch's
    part files landed, the rest didn't. Redelivery must complete the
    batch without duplicating the rows whose files made it in (the
    anti-join self-heal at whole-file granularity)."""
    from spark_deal_observer_spark.streaming.sink import (
        PartitionedDealTableSink,
    )

    deals = load_table(spark, SF_SMALL, "events").select(
        F.col("event_id").alias("deal_id"),
        F.col("event_id").alias("activated_at_epoch"),
        F.col("event_type").alias("kind"),
    )
    first = deals.where(F.col("deal_id") % 2 == 0)
    second = deals.where(F.col("deal_id") % 2 == 1)
    path = str(tmp_path / "table")
    sink = PartitionedDealTableSink(
        spark, path, key=["deal_id"], bucket_width=1000
    )
    sink.append_dedup(first)

    # crash mid-append of `second`: exactly half its rows land as a
    # committed part file inside their partition dir (no marker semantics
    # for appends — parquet append is new-files-only)
    partial = second.where(F.col("deal_id") % 4 == 1)
    ptmp = str(tmp_path / "partial")
    partial.coalesce(1).write.mode("overwrite").parquet(ptmp)
    part = next(f for f in os.listdir(ptmp) if f.endswith(".parquet"))
    shutil.copy(
        os.path.join(ptmp, part),
        os.path.join(path, "epoch_bucket=0", "torn-" + part),
    )

    restarted = PartitionedDealTableSink(
        spark, path, key=["deal_id"], bucket_width=1000
    )
    restarted.append_dedup(second)  # redelivery
    got = [
        (r["deal_id"], r["kind"]) for r in restarted.read().collect()
    ]
    assert len(got) == len(set(got)) == deals.count()


def test_deal_sink_gc_restores_lost_live_dir_and_sweeps_orphans(
    spark, tmp_path
):
    from spark_deal_observer_spark.streaming.sink import (
        PartitionedDealTableSink,
    )

    deals = load_table(spark, SF_SMALL, "events").select(
        F.col("event_id").alias("deal_id"),
        F.col("event_id").alias("activated_at_epoch"),
        F.col("event_type").alias("kind"),
    )
    path = str(tmp_path / "table")
    sink = PartitionedDealTableSink(
        spark, path, key=["deal_id"], bucket_width=1000
    )
    sink.append_dedup(deals)
    n = sink.count()

    # crash window A: staged dir written, swap never started
    os.makedirs(f"{path}__stage_deadbeef")
    # crash window B: live moved aside, staged rename never happened —
    # the backup is the only copy
    os.rename(path, f"{path}__old_cafef00d")
    assert not os.path.exists(path)

    restarted = PartitionedDealTableSink(
        spark, path, key=["deal_id"], bucket_width=1000
    )
    assert restarted.count() == n  # backup restored, not deleted
    assert not os.path.exists(f"{path}__stage_deadbeef")
    assert not os.path.exists(f"{path}__old_cafef00d")


def test_rollup_crash_windows_are_exactly_once(spark, tmp_path):
    """The rollup's sum-merge is NOT idempotent, and before r5 the ledger
    mark came AFTER the partition swap — a crash between them made the
    redelivery double-count. The write-ahead intent closes every window:
    (a) crash AFTER the intent, BEFORE any swap: recovery completes the
    swap from the staged dir and the redelivery is skipped; (b) crash
    BEFORE the intent: the stage is swept and the redelivery re-merges
    cleanly. Both must land on exactly the clean run's counters."""
    from spark_deal_observer_spark.streaming.rollup_sink import (
        HourlyRollupSink,
    )

    events = load_table(spark, SF_SMALL, "events")
    parts = _splits(events, "event_id")

    clean = HourlyRollupSink(spark, str(tmp_path / "clean"))
    for i, b in enumerate(parts):
        clean.process_batch(b, batch_id=i)
    want = {
        (r["event_type"], r["bucket_ts"]): (r["n_events"], r["sum_value"])
        for r in clean.read_hourly().collect()
    }

    class CrashAfterIntent(HourlyRollupSink):
        def _swap_days(self, tmp, days):
            raise RuntimeError("kill -9 between intent and swap")

    class CrashBeforeIntent(HourlyRollupSink):
        def __init__(self, spark, path):
            super().__init__(spark, path)

            def boom(intent):
                raise RuntimeError("kill -9 before the intent landed")

            self.ledger.set_pending = boom

    # crash_at=0 exercises the FIRST-tick window (the r5 ADVICE finding:
    # a direct first write left live data durable but the batch unmarked,
    # so its redelivery took the merge path and double-counted); crash_at=2
    # exercises the merge path.
    for crash_at in (0, 2):
        for crasher, label in (
            (CrashAfterIntent, "after-intent"),
            (CrashBeforeIntent, "before-intent"),
        ):
            path = str(tmp_path / f"c_{crash_at}_{label}")
            s = HourlyRollupSink(spark, path)
            for i in range(crash_at):
                s.process_batch(parts[i], batch_id=i)
            crash = crasher(spark, path)
            try:
                crash.process_batch(parts[crash_at], batch_id=crash_at)
                raise AssertionError("crash injection did not fire")
            except RuntimeError:
                pass
            restarted = HourlyRollupSink(spark, path)  # recovery runs here
            for i in range(crash_at, 3):
                restarted.process_batch(parts[i], batch_id=i)  # redelivery
            got = {
                (r["event_type"], r["bucket_ts"]): (r["n_events"], r["sum_value"])
                for r in restarted.read_hourly().collect()
            }
            assert got == want, f"{crash_at}/{label}"


def test_transitions_torn_snapshot_heals(spark, tmp_path):
    from spark_deal_observer_spark.operators.sessions import (
        event_transition_matrix,
    )
    from spark_deal_observer_spark.streaming.transitions import (
        TransitionMonitorSink,
    )
    from pyspark.sql.window import Window

    events = load_table(spark, SF_SMALL, "events")
    w = Window.orderBy("ts", "event_id")
    ranked = events.withColumn("_b", F.ntile(3).over(w))
    batches = [ranked.where(F.col("_b") == i + 1).drop("_b") for i in range(3)]

    sink = TransitionMonitorSink(spark, str(tmp_path / "tm"))
    sink.process_batch(batches[0], batch_id=0)
    sink.process_batch(batches[1], batch_id=1)
    # batch 2 crashes mid-commit on BOTH stores
    _tear(f"{sink.counts}/snapshot=1", f"{sink.counts}/snapshot=2")
    _tear(f"{sink.last}/snapshot=1", f"{sink.last}/snapshot=2")

    restarted = TransitionMonitorSink(spark, str(tmp_path / "tm"))
    restarted.process_batch(batches[2], batch_id=2)  # redelivery
    got = {
        (r["prev_type"], r["next_type"]): (r["n"], r["p"])
        for r in restarted.read_matrix().collect()
    }
    want = {
        (r["prev_type"], r["next_type"]): (r["n"], r["p"])
        for r in event_transition_matrix(events).collect()
    }
    assert got == want


def test_partitioned_sink_sweeps_compact_orphans(spark, tmp_path):
    from spark_deal_observer_spark.streaming.sink import (
        PartitionedDealTableSink,
    )

    deals = load_table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("deal_id"),
        F.col("o_orderkey").alias("activated_at_epoch"),
        F.col("o_orderstatus").alias("kind"),
    )
    path = str(tmp_path / "ptable")
    sink = PartitionedDealTableSink(
        spark, path, key=["deal_id"], bucket_width=1000
    )
    sink.append_dedup(deals)
    n = sink.count()
    parts = [d for d in os.listdir(path) if d.startswith("epoch_bucket=")]

    # crash mid-compact: a partition's staged rewrite orphaned, and one
    # partition's backup left with its live dir missing
    os.makedirs(os.path.join(path, f"{parts[0]}__compact_ab12"))
    live = os.path.join(path, parts[1])
    os.rename(live, live + "__old_ff00")

    restarted = PartitionedDealTableSink(
        spark, path, key=["deal_id"], bucket_width=1000
    )
    assert restarted.count() == n
    assert not os.path.exists(os.path.join(path, f"{parts[0]}__compact_ab12"))
    assert os.path.isdir(live)


def test_forecast_torn_score_dir_heals(spark, tmp_path):
    """Verdict r5 #8: the forecast surface's latest-wins overwrite is now
    stage-and-swap — a crash between swap_dir's renames leaves the backup
    as the only copy and construction must restore it, never serve a torn
    directory; pre-ingest reads return an empty typed frame."""
    from spark_deal_observer_spark.streaming.forecast import (
        ForecastMonitorSink,
    )

    events = load_table(spark, SF_SMALL, "events")
    parts = _splits(events, "event_id")

    sink = ForecastMonitorSink(spark, str(tmp_path / "f"))
    assert sink.read_forecast().count() == 0  # before any batch
    sink.process_batch(parts[0], batch_id=0)
    want = sorted(map(repr, sink.read_forecast().collect()))
    assert want
    # crash between swap_dir's two renames: live gone, backup is the copy
    os.rename(sink.scores_path, f"{sink.scores_path}__old_00000001")
    os.makedirs(f"{sink.scores_path}__stage_deadbeef")  # orphan stage too

    restarted = ForecastMonitorSink(spark, str(tmp_path / "f"))
    assert sorted(map(repr, restarted.read_forecast().collect())) == want
    assert not os.path.exists(f"{sink.scores_path}__stage_deadbeef")


def test_anomaly_torn_score_dir_heals(spark, tmp_path):
    from spark_deal_observer_spark.streaming.anomaly import (
        AnomalyMonitorSink,
    )

    events = load_table(spark, SF_SMALL, "events")
    parts = _splits(events, "event_id")

    sink = AnomalyMonitorSink(spark, str(tmp_path / "a"))
    assert sink.read_scores().count() == 0  # before any batch
    sink.process_batch(parts[0], batch_id=0)
    want = sorted(map(repr, sink.read_scores().collect()))
    assert want
    os.rename(sink.scores_path, f"{sink.scores_path}__old_00000001")

    restarted = AnomalyMonitorSink(spark, str(tmp_path / "a"))
    assert sorted(map(repr, restarted.read_scores().collect())) == want


def test_neardup_ingest_crash_between_corpus_and_store_heals(spark, tmp_path):
    """The pre-r6 appends had a crash WINDOW: corpus rows durable with no
    stored bands meant the redelivery re-admitted them (duplicate corpus
    rows). With per-batch committed dirs + strictly-below probes, tear
    BOTH of a batch's dirs (crash mid-commit) and the redelivery must
    rebuild them bit-identically with no duplicates."""
    from spark_deal_observer_spark.streaming.dedup_ingest import (
        NearDupIngestSink,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    b0 = docs.where("doc_id < 20")
    b1 = docs.where("doc_id >= 20 AND doc_id < 40")

    clean = NearDupIngestSink(spark, str(tmp_path / "c"), str(tmp_path / "cs"))
    clean.process_batch(b0, batch_id=0)
    clean.process_batch(b1, batch_id=1)
    want = sorted(r["doc_id"] for r in clean.read_corpus().collect())

    crash = NearDupIngestSink(spark, str(tmp_path / "x"), str(tmp_path / "xs"))
    crash.process_batch(b0, batch_id=0)
    # batch 1 crashed mid-commit: both of its dirs exist but are torn
    # (fabricated from the clean run's committed files, no _SUCCESS)
    _tear(f"{tmp_path}/c/batch_id=1", f"{tmp_path}/x/batch_id=1")
    _tear(f"{tmp_path}/cs/batch_id=1/band=0", f"{tmp_path}/xs/batch_id=1")

    restarted = NearDupIngestSink(spark, str(tmp_path / "x"), str(tmp_path / "xs"))
    restarted.process_batch(b1, batch_id=1)  # redelivery
    got = sorted(r["doc_id"] for r in restarted.read_corpus().collect())
    assert got == want  # no duplicates, no losses


def test_setsim_ingest_crash_between_three_dirs_heals(spark, tmp_path):
    """The exact-setsim sink writes THREE per-batch dirs (corpus, sets,
    postings). Tear all three mid-commit (crash before any _SUCCESS) and
    the redelivery must rebuild them bit-identically: committed-only
    selection keeps the torn dirs out of every probe, and the
    strictly-below read rule makes the recomputed admissions equal the
    first delivery's."""
    from spark_deal_observer_spark.streaming.setsim_ingest import (
        SetSimIngestSink,
    )

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    b0 = docs.where("doc_id < 20")
    b1 = docs.where("doc_id >= 20 AND doc_id < 40")

    clean = SetSimIngestSink(spark, str(tmp_path / "clean"))
    clean.process_batch(b0, batch_id=0)
    clean.process_batch(b1, batch_id=1)
    want = sorted(r["doc_id"] for r in clean.read_corpus().collect())
    want_post = clean._postings.read_all().count()

    crash = SetSimIngestSink(spark, str(tmp_path / "x"))
    crash.process_batch(b0, batch_id=0)
    base = f"{tmp_path}/clean"
    _tear(f"{base}/corpus/batch_id=1", f"{tmp_path}/x/corpus/batch_id=1")
    _tear(f"{base}/sets/batch_id=1", f"{tmp_path}/x/sets/batch_id=1")
    _tear(f"{base}/postings/batch_id=1", f"{tmp_path}/x/postings/batch_id=1")

    restarted = SetSimIngestSink(spark, str(tmp_path / "x"))
    restarted.process_batch(b1, batch_id=1)  # redelivery
    got = sorted(r["doc_id"] for r in restarted.read_corpus().collect())
    assert got == want
    assert restarted._postings.read_all().count() == want_post
