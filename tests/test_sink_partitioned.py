"""Partition-scoped sink semantics: a micro-batch's writes touch ONLY the
epoch-bucket partitions it intersects — asserted by listing the table's
committed data files before/after (untouched partitions keep an identical
file set, since every Spark write invents fresh part-file names)."""

from __future__ import annotations

import glob
import os
import shutil
import sys
import threading
import time
from urllib.parse import urlparse

import pytest
from conftest import SF_SMALL, count_jobs
from pyspark.sql import functions as F

from spark_deal_observer_spark.operators.merge import DEAL_KEY, merge_update
from spark_deal_observer_spark.operators.state import (
    RESOLVED,
    TERMINAL,
    UNRESOLVED,
    resolve_tick,
    state_counts,
)
from spark_deal_observer_spark.plans.deals import REF_TS, deals_df, eligible_deals
from spark_deal_observer_spark.streaming.egress import submit_eligible
from spark_deal_observer_spark.streaming.enrichment import enrich_tick
from spark_deal_observer_spark.streaming.sink import (
    BUCKET_WIDTH,
    RETAIN_S,
    PartitionedDealTableSink,
)

MID_EPOCH = 4622500  # sf0.001 derived epochs span [4622000, 4623000)


def _paths(df) -> set[str]:
    """The local paths of the files `df` reads."""
    return {urlparse(u).path for u in df.inputFiles()}


def _files(sink) -> dict[str, set[str]]:
    """{partition_dir: {parquet file names}} of the table's latest version:
    the committed files, not whatever the directories hold."""
    out: dict[str, set[str]] = {}
    for f in _paths(sink.read()):
        out.setdefault(os.path.basename(os.path.dirname(f)), set()).add(os.path.basename(f))
    return out


def _on_disk(sink) -> set[str]:
    return set(glob.glob(os.path.join(sink.path, "epoch_bucket=*", "*")))


def test_append_touches_only_batch_partitions(spark, tmp_path):
    deals = deals_df(spark, SF_SMALL)
    lo = deals.where(F.col("activated_at_epoch") < MID_EPOCH)
    hi = deals.where(F.col("activated_at_epoch") >= MID_EPOCH)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))

    sink.append_dedup(lo)
    before = _files(sink)
    assert before, "expected partition dirs"

    sink.append_dedup(hi)
    after = _files(sink)
    lo_parts = set(before)
    assert set(after) > lo_parts  # new partitions appeared
    for part in lo_parts:  # old partitions byte-identical (same file set)
        assert after[part] == before[part], part

    assert sink.count() == deals.select(*DEAL_KEY).dropDuplicates().count()
    assert "epoch_bucket" not in sink.read().columns


def test_append_is_idempotent(spark, tmp_path):
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals)
    n = sink.count()
    sink.append_dedup(deals)
    assert sink.count() == n


def test_merge_rewrites_only_intersected_partitions(spark, tmp_path):
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals)
    before = _files(sink)

    touched_pred = F.col("activated_at_epoch") < 4622200  # 2 buckets of ~10
    now = F.lit(REF_TS).cast("timestamp_ntz")
    updates = sink.read().where(touched_pred).withColumn("submitted_at", now)
    n_updates = updates.count()
    sink.merge_overwrite(updates, ["id"])

    after = _files(sink)
    assert set(after) == set(before)
    touched = {p for p in before if int(p.split("=")[1]) < 4622200 // BUCKET_WIDTH}
    assert touched, "expected intersected partitions"
    for part in before:
        if part in touched:
            assert after[part] != before[part], f"{part} should be rewritten"
        else:
            assert after[part] == before[part], f"{part} must be untouched"

    # and the merge actually applied
    n_marked = sink.read().where(F.col("submitted_at") == now).count()
    assert n_marked >= n_updates > 0


def test_egress_with_partitioned_sink(spark, tmp_path):
    """The partitioned sink is a drop-in for the egress tick (T7 + S7/S8)."""
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals)
    stored = sink.count()
    now = F.lit(REF_TS).cast("timestamp_ntz")

    res = submit_eligible(sink, lambda p: {"ingested": len(p)}, now=now)
    assert res["submitted"] > 0
    assert sink.count() == stored  # merge rewrites, never grows
    assert submit_eligible(sink, lambda p: {"ingested": len(p)}, now=now)["submitted"] == 0


def test_compact_collapses_small_files_and_preserves_data(spark, tmp_path):
    """Many append ticks leave many part-files; compact() rewrites each
    oversized partition to its minimal file count without changing the
    data, and leaves already-compact partitions' files untouched."""
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    # 4 ticks over the same epoch range -> each partition accumulates files
    slices = [
        deals.where(F.col("id") % 4 == i) for i in range(4)
    ]
    for s in slices:
        sink.append_dedup(s)

    before_rows = sink.read().orderBy("id").collect()
    before_files = _files(sink)
    assert any(len(v) > 1 for v in before_files.values()), "need multi-file partitions"

    # the footers pick the partitions; they are read once and rewritten once
    rewritten, jobs = count_jobs(spark, sink.compact)
    assert rewritten, "expected at least one partition rewritten"
    assert jobs <= 3

    after_files = _files(sink)
    assert set(after_files) == set(before_files)  # no partition lost
    for part, names in after_files.items():
        assert len(names) == 1, part  # row counts far below the target => 1 file
    assert sink.read().orderBy("id").collect() == before_rows

    # idempotent: a second compact is a no-op, rewrites nothing and runs
    # no Spark job
    assert count_jobs(spark, sink.compact) == ({}, 0)
    assert _files(sink) == after_files


def _counting_filter(spark):
    """(accumulator, column-predicate UDF): the UDF passes every row and
    adds one to the accumulator per row it sees, so the accumulator counts
    how many times the plan beneath it was evaluated, row for row."""
    seen = spark.sparkContext.accumulator(0)

    def keep(_v):
        seen.add(1)
        return True

    return seen, F.udf(keep, "boolean")


def _lookups(deals):
    """(miner_peers, payload_cids) covering part of `deals`: every third
    miner has no peer, and only even clients' pieces have a payload. Both
    are snapshots, as a tick's lookups should be."""
    peers = (
        deals.where(F.col("miner_id") % 3 != 0).select("miner_id").dropDuplicates()
        .withColumn("peer_id", F.concat(F.lit("peer"), F.col("miner_id").cast("string")))
        .localCheckpoint()
    )
    pays = (
        deals.join(peers, "miner_id").where(F.col("client_id") % 2 == 0)
        .select("peer_id", "piece_cid").dropDuplicates()
        .withColumn("payload_cid", F.concat(F.lit("bafyres"), F.col("piece_cid")))
        .localCheckpoint()
    )
    return peers, pays


def test_merge_overwrite_equals_merge_update_over_whole_table(spark, tmp_path):
    """Handing the sink ONLY the attempted rows of an enrichment tick
    yields exactly the table a whole-table merge_update gives, even when
    those rows span several epoch buckets."""
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals)
    before = sink.read()  # a snapshot: the merge below does not change it

    peers, pays = _lookups(before)
    now = F.lit(REF_TS).cast("timestamp_ntz")
    updates = resolve_tick(before, peers, pays, now, max_deals=300).localCheckpoint()
    n_buckets = updates.select(
        (F.col("activated_at_epoch") / BUCKET_WIDTH).cast("int")
    ).distinct().count()
    assert n_buckets >= 2
    assert 0 < updates.count() < before.count()

    sink.merge_overwrite(updates, ["id"])
    got, want = sink.read(), merge_update(before, updates, ["id"])
    assert got.count() == want.count() == before.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_merge_overwrite_evaluates_updates_once(spark, tmp_path):
    """The bucket set and the staged write share one driver-side copy of
    `updates`: the plan that produced them runs once per write."""
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals)
    now = F.lit(REF_TS).cast("timestamp_ntz")
    pinned = (
        sink.read().where(F.col("activated_at_epoch") < 4622200)
        .withColumn("submitted_at", now).localCheckpoint()
    )
    seen, keep = _counting_filter(spark)

    sink.merge_overwrite(pinned.where(keep("id")), ["id"])
    assert seen.value == pinned.count() > 0
    assert sink.read().where(F.col("submitted_at") == now).count() >= seen.value


def test_read_is_a_snapshot(spark, tmp_path):
    """A read resolves one committed version: an append and a merge
    committed after it neither change its DataFrame nor break it (the
    merge's files replace the ones it reads)."""
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals.where(F.col("activated_at_epoch") < MID_EPOCH))
    now = F.lit(REF_TS).cast("timestamp_ntz")
    df = sink.read()
    old = (df.count(), df.where(F.col("submitted_at") == now).count())

    sink.append_dedup(deals.where(F.col("activated_at_epoch") >= MID_EPOCH))
    sink.merge_overwrite(sink.read().withColumn("submitted_at", now), ["id"])
    n_keys = deals.select(*DEAL_KEY).dropDuplicates().count()
    assert (df.count(), df.where(F.col("submitted_at") == now).count()) == old
    assert sink.count() == n_keys
    assert old[0] < n_keys and old[1] < old[0]


def test_compact_collects_versions_past_retention(spark, tmp_path):
    """compact() collects garbage: a version's files survive while its
    successor is younger than RETAIN_S, so a read of it still runs, and
    go once the successor is older. Files no version names (a crashed
    write's part file, a stage) go once they are older than RETAIN_S; a
    younger one may be a write between its moves and its commit, and
    stays."""
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals)
    old = sink.read()
    rows = old.orderBy("id").collect()
    now = F.lit(REF_TS).cast("timestamp_ntz")
    updates = old.where(F.col("activated_at_epoch") < 4622200).withColumn("submitted_at", now)
    sink.merge_overwrite(updates, ["id"])
    committed = _paths(old) | _paths(sink.read())
    assert _paths(old) - _paths(sink.read()), "expected files the merge retired"

    bucket = os.path.join(sink.path, f"epoch_bucket={4622000 // BUCKET_WIDTH}")
    aged = time.time() - RETAIN_S - 60
    orphans, stages = [], []
    for age in ("young", "aged"):
        orphans.append(os.path.join(bucket, f"part-{age}.parquet"))
        shutil.copy(min(_paths(old)), orphans[-1])
        stages.append(os.path.join(sink.path, f"_stage_{age}"))
        os.makedirs(stages[-1])
    for p in (orphans[1], stages[1]):
        os.utime(p, (aged, aged))

    sink.compact()
    committed |= _paths(sink.read())
    assert _on_disk(sink) == committed | {orphans[0]}
    assert glob.glob(os.path.join(sink.path, "_stage_*")) == [stages[0]]
    assert old.orderBy("id").collect() == rows

    # RETAIN_S passes: every log entry, data file and stage ages
    for p in glob.glob(os.path.join(sink.path, "**"), recursive=True):
        os.utime(p, (aged, aged))
    latest = sink.read().orderBy("id").collect()
    assert sink.compact() == {}
    assert _on_disk(sink) == _paths(sink.read())
    assert not glob.glob(os.path.join(sink.path, "_stage_*"))
    assert sink.read().orderBy("id").collect() == latest


def test_enrich_tick_equals_the_hand_composition(spark, tmp_path):
    """enrich_tick leaves the table that resolve_tick → merge_overwrite,
    composed by hand, leaves; it counts the attempted rows by the state
    each moved to; and it runs no more jobs than the composition. The
    lookups come from the source, so they hold no lineage into either
    table."""
    deals = deals_df(spark, SF_SMALL)
    peers, pays = _lookups(deals)
    now = F.lit(REF_TS).cast("timestamp_ntz")
    hand = PartitionedDealTableSink(spark, str(tmp_path / "hand"))
    tick = PartitionedDealTableSink(spark, str(tmp_path / "tick"))
    hand.append_dedup(deals)
    tick.append_dedup(deals)

    _, hand_jobs = count_jobs(
        spark, lambda: hand.merge_overwrite(resolve_tick(hand.read(), peers, pays, now), ["id"])
    )
    res, tick_jobs = count_jobs(spark, lambda: enrich_tick(tick, peers, pays, now=now))
    assert tick_jobs <= hand_jobs and tick_jobs <= 5

    got, want = tick.read(), hand.read()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    # the corpus stamps no attempt at REF_TS, so these are the attempted rows
    moved = dict(state_counts(got.where(F.col("last_payload_retrieval_attempt") == now)).collect())
    assert res == {
        "attempted": sum(moved.values()),
        "resolved": moved.get(RESOLVED, 0),
        "unresolved": moved.get(UNRESOLVED, 0),
        "terminal": moved.get(TERMINAL, 0),
    }
    assert res["resolved"] > 0 and res["unresolved"] > 0 and res["terminal"] > 0


def test_enrich_tick_before_first_ingest_commit_is_a_zero_tick(spark, tmp_path):
    """Enrichment may tick before ingest has committed anything: on an
    empty table it returns zero counts and writes nothing, not even a
    stage directory."""
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    peers, pays = _lookups(deals_df(spark, SF_SMALL))
    res = enrich_tick(sink, peers, pays, now=F.lit(REF_TS).cast("timestamp_ntz"))
    assert res == {"attempted": 0, "resolved": 0, "unresolved": 0, "terminal": 0}
    assert os.listdir(tmp_path) == ["table"]
    assert os.listdir(sink.path) == []


def test_pinned_schema_reads_see_new_buckets(spark, tmp_path):
    """Reads pass the fixed deal schema, yet appends into new buckets after
    a read and a merge over them stay visible, and reads keep hiding
    epoch_bucket."""
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals.where(F.col("activated_at_epoch") < MID_EPOCH))
    sink.read().count()
    sink.append_dedup(deals.where(F.col("activated_at_epoch") >= MID_EPOCH))
    before = sink.read().localCheckpoint()

    now = F.lit(REF_TS).cast("timestamp_ntz")
    updates = (
        before.where(F.col("activated_at_epoch") >= MID_EPOCH + 200)
        .withColumn("submitted_at", now).localCheckpoint()
    )
    sink.merge_overwrite(updates, ["id"])

    got, want = sink.read(), merge_update(before, updates, ["id"])
    assert "epoch_bucket" not in got.columns
    assert got.count() == deals.select(*DEAL_KEY).dropDuplicates().count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_empty_merge_leaves_the_table_untouched(spark, tmp_path):
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals_df(spark, SF_SMALL))
    before = _files(sink)

    sink.merge_overwrite(sink.read().where(F.lit(False)), ["id"])
    assert _files(sink) == before
    assert not glob.glob(os.path.join(str(tmp_path), "**", "_stage_*"), recursive=True)


def _wire(r) -> tuple:
    """The egress payload fields of an eligible row, as the poster sees them."""
    return (
        f"f0{r['miner_id']}", f"f0{r['client_id']}", r["piece_cid"],
        str(r["piece_size"]), r["payload_cid"], r["expires_at"].isoformat(),
    )


def test_egress_mark_equals_semi_join_mark(spark, tmp_path):
    """The mark rebuilt from the accepted rows the tick collected gives the
    table a whole-table semi-join mark gives: the stored rows merged with
    the accepted ids' rows flagged submitted. Refused deals stay unmarked."""
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals_df(spark, SF_SMALL))
    before = sink.read().localCheckpoint()
    by_wire = {_wire(r): r["id"] for r in eligible_deals(before).collect()}
    accepted: list[int] = []
    refused: list[int] = []
    calls = []

    def poster(payload):
        calls.append(1)
        ids = [by_wire[tuple(p.values())] for p in payload]
        if len(calls) == 2:
            refused.extend(ids)
            raise ConnectionError("spark-api 500")
        accepted.extend(ids)
        return {"ingested": len(payload)}

    now = F.lit(REF_TS).cast("timestamp_ntz")
    res = submit_eligible(sink, poster, now=now)
    assert res["failed_batches"] == 1 and len(calls) > 2
    assert len(accepted) + len(refused) == len(by_wire)

    ids = spark.createDataFrame([(i,) for i in accepted], "id LONG")
    marked = before.join(F.broadcast(ids), "id", "left_semi").withColumn("submitted_at", now)
    got, want = sink.read(), merge_update(before, marked, ["id"])
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    unmarked = got.where(F.col("id").isin(refused))
    assert unmarked.count() == len(refused)
    assert unmarked.where(F.col("submitted_at").isNotNull()).isEmpty()


def test_egress_merge_and_read_job_budget(spark, tmp_path):
    """Jobs per call on the tick paths: an append at most 3 into an empty
    table and 5 as a replay (the bucket probe is one Arrow collect of the
    cached batch, no shuffle), an egress tick at most 3 (one eligible
    collect; the mark's merge takes the rows the tick holds, no second
    collect), a DataFrame merge at most 3 (one updates collect, the staged
    write) and a read none — the first read of a fresh sink included, since
    the schema is fixed, not inferred. A sink on a path that does not exist
    yet reads as an empty table."""
    path = str(tmp_path / "table")
    sink = PartitionedDealTableSink(spark, path)
    assert sink.count() == 0
    deals = deals_df(spark, SF_SMALL)
    _, append_jobs = count_jobs(spark, lambda: sink.append_dedup(deals))
    _, replay_jobs = count_jobs(spark, lambda: sink.append_dedup(deals))
    assert append_jobs <= 3 and replay_jobs <= 5
    fresh, ctor_jobs = count_jobs(spark, lambda: PartitionedDealTableSink(spark, path))
    first, read_jobs = count_jobs(spark, fresh.read)
    assert ctor_jobs == read_jobs == 0
    assert first.schema == spark.read.parquet(path).drop("epoch_bucket").schema
    now = F.lit(REF_TS).cast("timestamp_ntz")

    res, egress_jobs = count_jobs(
        spark, lambda: submit_eligible(sink, lambda p: {"ingested": len(p)}, now=now)
    )
    assert res["submitted"] > 0
    assert egress_jobs <= 3

    updates = (
        sink.read().where(F.col("activated_at_epoch") < 4622200)
        .withColumn("submitted_at", now).localCheckpoint()
    )
    _, merge_jobs = count_jobs(spark, lambda: sink.merge_overwrite(updates, ["id"]))
    assert merge_jobs <= 3

    _, read_jobs = count_jobs(spark, sink.read)
    assert read_jobs == 0


def _race_cases(deals):
    """{case: (setup, racer, write, rebases)}: each a write on a sink,
    over rows of one epoch bucket. `rebases` says whether `write` keeps
    the files it staged before the racer's commit (it removes no file
    the racer removed) or redoes over the racer's version."""
    rows = deals.where(F.col("activated_at_epoch") < 4622100)  # epoch bucket 46220
    now = F.lit(REF_TS).cast("timestamp_ntz")
    thirds = [rows.where(F.col("id") % 3 == i) for i in range(3)]

    def stored(parts):
        return lambda s: [s.append_dedup(p) for p in parts]

    def append(df):
        return lambda s: s.append_dedup(df)

    def mark(df):  # an egress mark of the even ids
        u = df.where(F.col("id") % 2 == 0).withColumn("submitted_at", now)
        return lambda s: s.merge_overwrite(u, ["id"])

    def attempt(df):  # an enrichment tick's rows: the odd ids, as Arrow
        u = df.where(F.col("id") % 2 == 1).withColumn("last_payload_retrieval_attempt", now)
        return lambda s: s.merge_overwrite(u.toArrow(), ["id"])

    compact = PartitionedDealTableSink.compact
    return {
        # the append replays the stored third and adds two new ones
        "append-vs-merge": (stored(thirds[:1]), mark(thirds[0]), append(rows), True),
        "merge-vs-append": (stored(thirds[:1]), append(rows), mark(thirds[0]), True),
        "merge-vs-merge": (stored([rows]), mark(rows), attempt(rows), False),
        "merge-vs-compact": (stored(thirds[:2]), compact, mark(thirds[0]), False),
        "compact-vs-append": (stored(thirds[:2]), append(rows), compact, True),
    }


@pytest.mark.parametrize(
    "case",
    ["append-vs-merge", "merge-vs-append", "merge-vs-merge", "merge-vs-compact", "compact-vs-append"],
)
def test_a_write_raced_by_another_writer_commits_the_serial_table(spark, tmp_path, monkeypatch, case):
    """A second sink on the same path commits just before a write's
    first commit link, as another process would. The write then commits
    the table the two writes give run one after the other — the racer
    first — with each key once. A write that removes no file the racer
    removed rebases: it commits the files it had staged. One that does
    (a merge after another merge or a compaction of its bucket) redoes:
    its first files are deleted, and the result is merge_update applied
    twice."""
    deals = deals_df(spark, SF_SMALL)
    setup, racer, write, rebases = _race_cases(deals)[case]
    serial = PartitionedDealTableSink(spark, str(tmp_path / "serial"))
    for w in (setup, racer, write):
        w(serial)

    path = str(tmp_path / "table")
    sink = PartitionedDealTableSink(spark, path)
    setup(sink)
    link, rename = os.link, os.rename
    pending = [lambda: racer(PartitionedDealTableSink(spark, path))]
    moved: list[str] = []

    def racing_link(src, dst):
        if pending:
            pending.pop()()
        return link(src, dst)

    def recording_rename(src, dst):
        if pending:
            moved.append(dst)
        return rename(src, dst)

    monkeypatch.setattr(os, "link", racing_link)
    monkeypatch.setattr(os, "rename", recording_rename)
    write(sink)
    monkeypatch.undo()

    assert moved and not pending
    got, want = sink.read(), serial.read()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()
    assert got.count() == got.select(*DEAL_KEY).dropDuplicates().count()
    if rebases:
        assert set(moved) <= _paths(got)
    else:
        assert not set(moved) & _on_disk(sink)


def test_append_commits_while_an_egress_tick_posts(spark, tmp_path):
    """Ingest does not wait for egress: an append into the buckets an
    egress tick is posting from commits while the tick's poster is
    blocked, and the mark committed after it keeps the appended rows."""
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals.where(F.col("id") % 2 == 0))
    now = F.lit("2099-01-01 00:00:00").cast("timestamp_ntz")
    posting, appended = threading.Event(), threading.Event()
    out: dict = {}

    def poster(payload):
        if not posting.is_set():  # the first POST blocks until the append returns
            posting.set()
            out["append_during_post"] = appended.wait(60)
        return {"ingested": len(payload)}

    def tick():
        try:
            out["egress"] = submit_eligible(sink, poster, now=now)
        except Exception as e:  # re-raised below
            out["egress"] = e

    egress = threading.Thread(target=tick)
    egress.start()
    try:
        assert posting.wait(60), "the egress tick never posted"
        sink.append_dedup(deals)
    finally:
        appended.set()
        egress.join(120)
    assert not egress.is_alive()
    assert out["append_during_post"], "the append waited for the egress tick"
    res = out["egress"]
    if isinstance(res, Exception):
        raise res
    assert res["failed_batches"] == 0 and res["submitted"] > 0

    t = sink.read()
    n_keys = deals.select(*DEAL_KEY).dropDuplicates().count()
    assert t.count() == t.select(*DEAL_KEY).dropDuplicates().count() == n_keys
    assert t.where(F.col("submitted_at") == now).count() == res["submitted"]


def test_concurrent_writers_on_one_bucket_lose_no_update(spark, tmp_path, monkeypatch):
    """Five threads each merge a disjoint fifth of one bucket's rows while
    a sixth appends new rows to it, all at once through one sink: commits
    lose races to each other (a link finds its version taken), and every
    merge and the append still land, each key once."""
    rows = deals_df(spark, SF_SMALL).where(F.col("activated_at_epoch") < 4622100)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(rows.where(F.col("id") % 2 == 0))
    stored = sink.read().localCheckpoint()
    now = F.lit("2099-01-01 00:00:00").cast("timestamp_ntz")
    updates = [
        stored.where(F.col("id") % 5 == k).withColumn("last_payload_retrieval_attempt", now).toArrow()
        for k in range(5)
    ]
    writes = [lambda u=u: sink.merge_overwrite(u, ["id"]) for u in updates]
    writes.append(lambda: sink.append_dedup(rows))
    link, lost = os.link, []

    def counting_link(src, dst):
        try:
            return link(src, dst)
        except FileExistsError:
            lost.append(dst)
            raise

    monkeypatch.setattr(os, "link", counting_link)
    start, errors = threading.Barrier(len(writes), timeout=60), []

    def run(write):
        try:
            start.wait()
            write()
        except Exception as e:  # re-raised below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        threads = [threading.Thread(target=run, args=(w,)) for w in writes]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert lost, "no commit lost a race"

    t = sink.read()
    n_keys = rows.select(*DEAL_KEY).dropDuplicates().count()
    assert t.count() == t.select(*DEAL_KEY).dropDuplicates().count() == n_keys
    attempted = t.where(F.col("last_payload_retrieval_attempt") == now)
    assert attempted.count() == stored.count()
