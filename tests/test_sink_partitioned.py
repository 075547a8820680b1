"""Partition-scoped sink semantics: a micro-batch's writes touch ONLY the
epoch-bucket partitions it intersects — asserted by listing the table's data
files before/after (untouched partitions keep an identical file set, since
every Spark write invents fresh part-file names)."""

from __future__ import annotations

import os

from conftest import SF_SMALL
from pyspark.sql import functions as F

from spark_deal_observer_spark.operators.merge import merge_update
from spark_deal_observer_spark.operators.state import resolve_tick
from spark_deal_observer_spark.plans.deals import REF_TS, deals_df
from spark_deal_observer_spark.streaming.egress import submit_eligible
from spark_deal_observer_spark.streaming.sink import PartitionedDealTableSink

MID_EPOCH = 4622500  # sf0.001 derived epochs span [4622000, 4623000)


def _files(path: str) -> dict[str, set[str]]:
    """{partition_dir: {parquet file names}} for a partitioned table."""
    out: dict[str, set[str]] = {}
    for root, _, files in os.walk(path):
        part = os.path.relpath(root, path)
        names = {f for f in files if f.endswith(".parquet")}
        if names and part.startswith("epoch_bucket="):
            out[part] = names
    return out


def test_append_touches_only_batch_partitions(spark, tmp_path):
    deals = deals_df(spark, SF_SMALL)
    lo = deals.where(F.col("activated_at_epoch") < MID_EPOCH)
    hi = deals.where(F.col("activated_at_epoch") >= MID_EPOCH)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))

    sink.append_dedup(lo)
    before = _files(sink.path)
    assert before, "expected partition dirs"

    sink.append_dedup(hi)
    after = _files(sink.path)
    lo_parts = set(before)
    assert set(after) > lo_parts  # new partitions appeared
    for part in lo_parts:  # old partitions byte-identical (same file set)
        assert after[part] == before[part], part

    assert sink.count() == deals.select(*sink.key).dropDuplicates().count()
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
    before = _files(sink.path)

    touched_pred = F.col("activated_at_epoch") < 4622200  # 2 buckets of ~10
    now = F.lit(REF_TS).cast("timestamp_ntz")
    updates = sink.read().where(touched_pred).withColumn("submitted_at", now)
    n_updates = updates.count()
    updates = updates.localCheckpoint()  # pin rows: the swap replaces the files
    sink.merge_overwrite(updates, ["id"])

    after = _files(sink.path)
    assert set(after) == set(before)
    touched = {p for p in before if int(p.split("=")[1]) < 4622200 // sink.bucket_width}
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
    before_files = _files(sink.path)
    assert any(len(v) > 1 for v in before_files.values()), "need multi-file partitions"

    rewritten = sink.compact()
    assert rewritten, "expected at least one partition rewritten"

    after_files = _files(sink.path)
    assert set(after_files) == set(before_files)  # no partition lost
    for part, names in after_files.items():
        assert len(names) == 1, part  # row counts far below the target => 1 file
    assert sink.read().orderBy("id").collect() == before_rows

    # idempotent: a second compact is a no-op and rewrites nothing
    assert sink.compact() == {}
    assert _files(sink.path) == after_files


def test_delete_keys_rewrites_only_intersected_partitions(spark, tmp_path):
    """delete_keys (the revert-compensation write shape) is partition-
    scoped like merge_overwrite: untouched epoch buckets keep identical
    file sets, deleted keys are gone, and deleting absent keys is a
    no-op (replay safety)."""
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals)
    n_all = sink.read().count()

    dead = deals.where(
        (F.col("activated_at_epoch") < MID_EPOCH) & (F.col("miner_id") % 2 == 0)
    )
    n_dead = dead.count()
    assert n_dead > 0
    before = _files(sink.path)
    hi_parts = {
        p for p in before
        if int(p.split("=")[1]) >= MID_EPOCH // sink.bucket_width
    }
    assert hi_parts, "expected untouched high buckets"

    sink.delete_keys(dead)
    after = _files(sink.path)
    assert sink.read().count() == n_all - n_dead
    assert (
        sink.read()
        .join(dead.select(*sink.key), sink.key, "left_semi")
        .count()
        == 0
    )
    for p in hi_parts:  # untouched buckets byte-identical
        assert after[p] == before[p], p

    # replay: deleting already-absent keys changes nothing
    sink.delete_keys(dead)
    assert sink.read().count() == n_all - n_dead


def _counting_filter(spark):
    """(accumulator, column-predicate UDF): the UDF passes every row and
    adds one to the accumulator per row it sees, so the accumulator counts
    how many times the plan beneath it was evaluated, row for row."""
    seen = spark.sparkContext.accumulator(0)

    def keep(_v):
        seen.add(1)
        return True

    return seen, F.udf(keep, "boolean")


def test_merge_overwrite_equals_merge_update_over_whole_table(spark, tmp_path):
    """Handing the sink ONLY the attempted rows of an enrichment tick
    yields exactly the table a whole-table merge_update gives, even when
    those rows span several epoch buckets."""
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals)
    before = sink.read().localCheckpoint()  # pin rows: the swap replaces the files

    peers = (
        before.where(F.col("miner_id") % 3 != 0).select("miner_id").dropDuplicates()
        .withColumn("peer_id", F.concat(F.lit("peer"), F.col("miner_id").cast("string")))
    )
    pays = (
        before.join(peers, "miner_id").where(F.col("client_id") % 2 == 0)
        .select("peer_id", "piece_cid").dropDuplicates()
        .withColumn("payload_cid", F.concat(F.lit("bafyres"), F.col("piece_cid")))
    )
    now = F.lit(REF_TS).cast("timestamp_ntz")
    updates = resolve_tick(before, peers, pays, now, max_deals=300).localCheckpoint()
    n_buckets = updates.select(
        (F.col("activated_at_epoch") / sink.bucket_width).cast("int")
    ).distinct().count()
    assert n_buckets >= 2
    assert 0 < updates.count() < before.count()

    sink.merge_overwrite(updates, ["id"])
    got, want = sink.read(), merge_update(before, updates, ["id"])
    assert got.count() == want.count() == before.count()
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_merge_overwrite_evaluates_updates_once(spark, tmp_path):
    """The bucket probe and the staged write share one materialized copy
    of `updates`: the plan that produced them runs once per write."""
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


def test_delete_keys_evaluates_keys_once(spark, tmp_path):
    deals = deals_df(spark, SF_SMALL)
    sink = PartitionedDealTableSink(spark, str(tmp_path / "table"))
    sink.append_dedup(deals)
    n_all = sink.count()
    pinned = (
        deals.where(F.col("miner_id") % 2 == 0).select(*sink.key).dropDuplicates()
        .localCheckpoint()
    )
    seen, keep = _counting_filter(spark)

    sink.delete_keys(pinned.where(keep("miner_id")))
    assert seen.value == pinned.count() > 0
    assert sink.count() == n_all - seen.value
