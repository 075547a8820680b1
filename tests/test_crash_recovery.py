"""Crash-interruption recovery for the deal sink — not replay
idempotence (tests/test_sink_partitioned.py) but the commit protocol
itself: a process killed mid-write leaves part files in bucket
directories that no log entry names. Restart must read the old version
or the new one, never a mix, and redelivery must yield each DEAL_KEY
once, with no key lost."""

from __future__ import annotations

import pytest

pytestmark = pytest.mark.slow  # r10 test tier: see pytest.ini

import glob
import os
import shutil
import time
from urllib.parse import urlparse

from conftest import SF_SMALL
from pyspark.sql import functions as F

from spark_deal_observer_spark.operators.merge import DEAL_KEY, merge_update
from spark_deal_observer_spark.plans.deals import REF_TS, deals_df
from spark_deal_observer_spark.streaming.sink import RETAIN_S, PartitionedDealTableSink


class Killed(Exception):
    """The process died here."""


def _kill_at(monkeypatch, name: str, after: int = 0) -> None:
    """Kill the next write at its `after`-th call of `os.<name>`: `rename`
    moves a staged part file into its bucket directory, `link` commits
    the log entry that names the moved files."""
    calls = []
    real = getattr(os, name)

    def dying(*args, **kwargs):
        calls.append(1)
        if len(calls) > after:
            raise Killed(name)
        return real(*args, **kwargs)

    monkeypatch.setattr(os, name, dying)


def _on_disk(path: str) -> set[str]:
    return set(glob.glob(os.path.join(path, "epoch_bucket=*", "*")))


def _committed(sink) -> set[str]:
    return {urlparse(u).path for u in sink.read().inputFiles()}


def _n_keys(df) -> tuple[int, int]:
    return df.count(), df.select(*DEAL_KEY).dropDuplicates().count()


@pytest.mark.parametrize("point", [("rename", 1), ("link", 0)], ids=["mid-moves", "at-commit"])
def test_deal_sink_crash_mid_merge_leaves_the_old_version(spark, tmp_path, monkeypatch, point):
    """A merge over several buckets killed after moving some or all of
    its part files, but before its commit, leaves the old version: every
    bucket old, none new. After restart the same merge commits the new
    version whole."""
    path = str(tmp_path / "table")
    sink = PartitionedDealTableSink(spark, path)
    sink.append_dedup(deals_df(spark, SF_SMALL))
    before = sink.read().localCheckpoint()
    rows = before.orderBy("id").collect()
    now = F.lit(REF_TS).cast("timestamp_ntz")
    updates = (
        before.where(F.col("activated_at_epoch") < 4622200)  # 2 buckets
        .withColumn("submitted_at", now).localCheckpoint()
    )

    _kill_at(monkeypatch, *point)
    with pytest.raises(Killed):
        sink.merge_overwrite(updates, ["id"])
    monkeypatch.undo()
    assert _on_disk(path) > _committed(sink)  # the moved files are there, unnamed

    restarted = PartitionedDealTableSink(spark, path)
    assert restarted.read().orderBy("id").collect() == rows
    restarted.merge_overwrite(updates, ["id"])
    got, want = restarted.read(), merge_update(before, updates, ["id"])
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()


def test_deal_sink_uncommitted_file_in_a_bucket_is_invisible(spark, tmp_path):
    """A part file of a killed append in a bucket directory is not read:
    the restarted table holds only the committed rows, and redelivery of
    the whole batch yields every key once."""
    deals = deals_df(spark, SF_SMALL)
    first = deals.where(F.col("id") % 2 == 0)
    second = deals.where(F.col("id") % 2 == 1)
    path = str(tmp_path / "table")
    sink = PartitionedDealTableSink(spark, path)
    sink.append_dedup(first)
    n_first = sink.count()

    # half of `second`'s rows of epoch bucket 46220, as a part file that
    # landed in that partition's directory before the kill
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
    assert restarted.count() == n_first
    restarted.append_dedup(second)  # redelivery
    n_keys = deals.select(*DEAL_KEY).dropDuplicates().count()
    assert _n_keys(restarted.read()) == (n_keys, n_keys)


def test_deal_sink_redelivery_after_a_killed_append_gives_each_key_once(
    spark, tmp_path, monkeypatch
):
    """An append killed at its commit leaves its part files moved in and
    unnamed. Redelivery after restart appends the batch once; compact()
    keeps the killed write's files while they are younger than RETAIN_S
    (they could be a write in flight), deletes them once older, and keeps
    every row."""
    deals = deals_df(spark, SF_SMALL)
    path = str(tmp_path / "table")
    sink = PartitionedDealTableSink(spark, path)
    sink.append_dedup(deals.where(F.col("id") % 2 == 0))
    n_first = sink.count()

    second = deals.where(F.col("id") % 2 == 1)
    _kill_at(monkeypatch, "link")
    with pytest.raises(Killed):
        sink.append_dedup(second)
    monkeypatch.undo()

    orphans = _on_disk(path) - _committed(sink)
    assert orphans

    restarted = PartitionedDealTableSink(spark, path)
    assert restarted.count() == n_first
    restarted.append_dedup(second)  # redelivery
    n_keys = deals.select(*DEAL_KEY).dropDuplicates().count()
    assert _n_keys(restarted.read()) == (n_keys, n_keys)

    rows = restarted.read().orderBy("id").collect()
    restarted.compact()
    assert orphans <= _on_disk(path)
    aged = time.time() - RETAIN_S - 60
    for f in orphans:
        os.utime(f, (aged, aged))
    restarted.compact()
    assert not orphans & _on_disk(path)
    assert restarted.read().orderBy("id").collect() == rows
