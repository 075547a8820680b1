"""Crash-interruption recovery for the deal sink — not replay
idempotence (tests/test_sink_partitioned.py) but the partial-write
protocol itself: a process killed mid-append leaves some part files in
their partition, and one killed mid-swap leaves stage/backup dirs.
Restart + redelivery must yield effectively-once output: a partial
append healed without duplicates, orphaned stage/backup dirs swept (and
a backup whose live dir vanished RESTORED, never deleted)."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # r10 test tier: see pytest.ini

import os
import shutil

from conftest import SF_SMALL
from pyspark.sql import functions as F

from spark_deal_observer_spark.sources.tables import load_table


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
