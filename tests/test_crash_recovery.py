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

from spark_deal_observer_spark.operators.merge import DEAL_KEY
from spark_deal_observer_spark.plans.deals import deals_df
from spark_deal_observer_spark.streaming.sink import PartitionedDealTableSink


def test_deal_sink_append_heals_partial_append(spark, tmp_path):
    """append_dedup after a crash mid-append-commit: some of the batch's
    part files landed, the rest didn't. Redelivery must complete the
    batch without duplicating the rows whose files made it in (the
    anti-join self-heal at whole-file granularity)."""
    deals = deals_df(spark, SF_SMALL)
    first = deals.where(F.col("id") % 2 == 0)
    second = deals.where(F.col("id") % 2 == 1)
    path = str(tmp_path / "table")
    sink = PartitionedDealTableSink(spark, path)
    sink.append_dedup(first)

    # crash mid-append of `second`: half its rows of epoch bucket 46220
    # land as a committed part file inside that partition dir (no marker
    # semantics for appends — parquet append is new-files-only)
    partial = second.where(
        (F.col("id") % 4 == 1) & (F.col("activated_at_epoch") < 4622100)
    )
    assert not partial.isEmpty()
    ptmp = str(tmp_path / "partial")
    partial.coalesce(1).write.mode("overwrite").parquet(ptmp)
    part = next(f for f in os.listdir(ptmp) if f.endswith(".parquet"))
    shutil.copy(
        os.path.join(ptmp, part),
        os.path.join(path, "epoch_bucket=46220", "torn-" + part),
    )

    restarted = PartitionedDealTableSink(spark, path)
    restarted.append_dedup(second)  # redelivery
    got = restarted.read()
    n_keys = deals.select(*DEAL_KEY).dropDuplicates().count()
    assert got.count() == got.select(*DEAL_KEY).dropDuplicates().count() == n_keys


def test_deal_sink_gc_restores_lost_live_dir_and_sweeps_orphans(
    spark, tmp_path
):
    path = str(tmp_path / "table")
    sink = PartitionedDealTableSink(spark, path)
    sink.append_dedup(deals_df(spark, SF_SMALL))
    n = sink.count()

    # crash window A: staged dir written, swap never started
    os.makedirs(f"{path}__stage_deadbeef")
    # crash window B: live moved aside, staged rename never happened —
    # the backup is the only copy
    os.rename(path, f"{path}__old_cafef00d")
    assert not os.path.exists(path)

    restarted = PartitionedDealTableSink(spark, path)
    assert restarted.count() == n  # backup restored, not deleted
    assert not os.path.exists(f"{path}__stage_deadbeef")
    assert not os.path.exists(f"{path}__old_cafef00d")


def test_partitioned_sink_sweeps_compact_orphans(spark, tmp_path):
    path = str(tmp_path / "ptable")
    sink = PartitionedDealTableSink(spark, path)
    sink.append_dedup(deals_df(spark, SF_SMALL))
    n = sink.count()
    parts = sorted(d for d in os.listdir(path) if d.startswith("epoch_bucket="))

    # crash mid-rewrite (compact or merge): the staged buckets orphaned,
    # and one partition's backup left with its live dir missing
    stage = f"{path}__stage_ab12"
    os.makedirs(os.path.join(stage, parts[0]))
    live = os.path.join(path, parts[1])
    os.rename(live, live + "__old_ff00")

    restarted = PartitionedDealTableSink(spark, path)
    assert restarted.count() == n
    assert not os.path.exists(stage)
    assert os.path.isdir(live)
    assert not os.path.exists(live + "__old_ff00")
