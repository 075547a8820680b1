"""Parquet-backed deal state table with idempotent merge semantics.

The reference's single mutable PostgreSQL table becomes a parquet directory
maintained by two write shapes (no Delta in this environment, so MERGE is
read-modify-write — the tradeoff SURVEY.md §7 Phase 4 documents):

  * `append_dedup` — the ON-CONFLICT-DO-NOTHING ingest sink (T6): anti-join
    the incoming batch against the stored keys, append only new rows. Plain
    parquet append is atomic-enough here (new part-files), and the anti-join
    makes replays idempotent — at-least-once delivery × keyed dedup =
    effectively-once, exactly the reference's guarantee.
  * `merge_overwrite` — the UPDATE shapes (S7/S8): given ONLY the changed
    rows, rewrite the table with merge_update applied, staged to a temp dir
    then swapped. The updates are materialized once per write (`_once`), so
    the plan that produced them (a work-queue top-k, a semi-join) runs once
    however many times the write reads them.

`PartitionedDealTableSink` is the 100 TB shape of the same interface: the
table is partitioned by an epoch bucket (`activated_at_epoch DIV width`),
and both write shapes first compute the batch's bucket set (micro-batches
are epoch-contiguous, so it's a handful of values), prune the stored-table
read to those partitions, and rewrite/append ONLY the touched partition
directories — O(batch), not O(table), per tick. With a Delta/Iceberg
catalog both become native MERGE.

Durability note: the staged-swap uses `os.rename`, which is atomic on a
local POSIX filesystem but NOT on object storage (S3/GCS "rename" is
copy+delete). At deployment scale, point the sink at an HDFS-compatible
path or replace the swap with a table-format commit (Delta/Iceberg); the
partition-scoped read/merge plans are unchanged by that substitution.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.merge import DEAL_KEY, dedup_insert, merge_update
from .atomic import gc_swap_debris
from .atomic import swap_dir as _swap_dir
from .concurrency import table_lock


def _once(df: DataFrame) -> DataFrame:
    """`df` materialized now, with its lineage cut. A write reads its input
    more than once (the bucket probe, the merge's key side and its rows);
    without this each read re-runs the input's whole plan — usually a scan
    of the very table being rewritten. Call it inside the table lock: it
    reads the live table, which the write swaps only afterwards."""
    return df.localCheckpoint(eager=True)


class DealTableSink:
    def __init__(self, spark: SparkSession, path: str, key: Sequence[str] = DEAL_KEY):
        self.spark = spark
        self.path = path
        self.key = list(key)
        # restart hygiene: a crash can orphan staged/backup dirs from an
        # interrupted merge_overwrite/compact (`__stage_*` written but
        # never swapped, `__old_*` moved aside but not yet removed,
        # `__compact_*` partition stages). They are invisible to reads
        # (siblings of the live dir) but leak disk forever; the single-
        # writer contract makes construction a safe point to sweep them.
        self._gc_stale_stages()

    def _gc_stale_stages(self) -> None:
        import glob

        gc_swap_debris(self.path)
        if os.path.isdir(self.path):
            for d in glob.glob(os.path.join(self.path, "*__compact_*")):
                shutil.rmtree(d, ignore_errors=True)
            # per-partition swap debris: group backups by their live dir
            # so repeated crashes restore the NEWEST backup, not the
            # glob-order-first one (see atomic.gc_swap_debris)
            targets = {
                d[: d.rindex("__old_")]
                for d in glob.glob(os.path.join(self.path, "*__old_*"))
            }
            for t in sorted(targets):
                gc_swap_debris(t)

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS")) or (
            os.path.isdir(self.path) and any(f.endswith(".parquet") for f in os.listdir(self.path))
        )

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def append_dedup(self, batch: DataFrame) -> None:
        """Idempotent dedup-insert of one (micro-)batch. The table lock
        makes the exists-check + anti-join + append one atomic span vs
        concurrent loop ticks (streaming/concurrency.py)."""
        with table_lock(self.path):
            if not self.exists():
                batch.dropDuplicates(self.key).write.mode("overwrite").parquet(self.path)
                return
            new_rows = dedup_insert(batch, self.read(), self.key)
            new_rows.write.mode("append").parquet(self.path)

    def _rewrite(self, rows: DataFrame) -> None:
        """Stage `rows` as the new table, then swap it in.

        Swap ordering is restore-on-failure: the live dir is moved aside and
        put back if the staged rename fails, so the only window without a
        live table is a process kill between the two renames (documented
        local-FS assumption — see module docstring)."""
        tmp = f"{self.path}__stage_{uuid.uuid4().hex[:8]}"
        rows.write.mode("overwrite").parquet(tmp)
        _swap_dir(tmp, self.path)

    def merge_overwrite(self, updates: DataFrame, on: Sequence[str]) -> None:
        """MERGE WHEN MATCHED THEN UPDATE via staged rewrite. `updates` holds
        only the changed rows (e.g. `resolve_tick`'s output)."""
        with table_lock(self.path):
            self._rewrite(merge_update(self.read(), _once(updates), list(on)))

    def delete_keys(self, keys: DataFrame) -> None:
        """MERGE WHEN MATCHED THEN DELETE via staged rewrite: drop stored
        rows whose key matches `keys` (the revert-compensation write shape;
        default pipelines never call this — see ChangeFeedSink). The keys
        side is a micro-batch → broadcast anti-join; idempotent (deleting
        an absent key is a no-op), so replays are safe."""
        with table_lock(self.path):
            self._rewrite(
                self.read().join(
                    keys.select(*self.key).dropDuplicates(self.key), self.key, "left_anti"
                )
            )

    def count(self) -> int:
        return self.read().count() if self.exists() else 0


class PartitionedDealTableSink(DealTableSink):
    """Epoch-bucket-partitioned deal table: merges touch only the partitions
    a batch intersects (reference write shapes S6/S7/S8,
    deal-observer.js:67-122, against a table indexed on the hot keys).

    Layout: `path/epoch_bucket=N/…parquet` with
    `epoch_bucket = activated_at_epoch DIV bucket_width`. Assumes
    `activated_at_epoch` (like the reference's) is immutable under updates —
    a merge never moves a row across partitions, so update merges are
    closed over the updates' bucket set.
    """

    PCOL = "epoch_bucket"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: Sequence[str] = DEAL_KEY,
        bucket_width: int = 100,
    ):
        super().__init__(spark, path, key)
        self.bucket_width = bucket_width

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.path, "_SUCCESS"))

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return df.withColumn(
            self.PCOL,
            F.expr(f"CAST(activated_at_epoch DIV {self.bucket_width} AS INT)"),
        )

    def _read_raw(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def read(self) -> DataFrame:
        return self._read_raw().drop(self.PCOL)

    def _buckets_of(self, df: DataFrame) -> list[int]:
        # Micro-batches are epoch-contiguous: this is a handful of ints.
        return [r[0] for r in df.select(self.PCOL).distinct().collect()]

    def append_dedup(self, batch: DataFrame) -> None:
        """Dedup-insert that anti-joins against ONLY the batch's partitions.

        The stored-table side is pruned by the partition column before the
        anti-join, so a tick reads O(batch-epoch-range) rows no matter how
        large the table has grown."""
        from pyspark.sql import functions as F

        batch = self._with_bucket(batch)
        with table_lock(self.path):
            if not self.exists():
                batch.dropDuplicates(self.key).write.mode("overwrite").partitionBy(
                    self.PCOL
                ).parquet(self.path)
                return
            buckets = self._buckets_of(batch)
            stored = self._read_raw().where(F.col(self.PCOL).isin(buckets))
            new_rows = dedup_insert(batch, stored, self.key)
            new_rows.write.mode("append").partitionBy(self.PCOL).parquet(self.path)

    def compact(self, target_rows_per_file: int = 1_000_000) -> dict[int, int]:
        """Rewrite each partition whose file count exceeds its target into
        the minimal file count — the small-files maintenance every
        micro-batch-appended table needs (each `append_dedup` tick adds
        part-files; thousands of ticks make scans metadata-bound).

        Runs partition-by-partition with the same staged-swap as
        merge_overwrite, so a crash mid-compaction leaves every partition
        either old or new, never mixed. Files are sized by row count
        (columnar bytes vary with encoding; rows are the stable proxy).
        Returns {bucket: files_after} for the partitions it rewrote.

        At deployment scale this is the OPTIMIZE/rewrite-data-files job of
        a table format, scheduled off-peak; expressing it over plain
        parquet keeps the sink self-contained.
        """
        from pyspark.sql import functions as F

        result: dict[int, int] = {}
        for part in sorted(os.listdir(self.path)):
            if not part.startswith(f"{self.PCOL}="):
                continue
            bucket = int(part.split("=", 1)[1])
            live = os.path.join(self.path, part)
            n_files = sum(f.endswith(".parquet") for f in os.listdir(live))
            rows = self.spark.read.parquet(live)
            n_rows = rows.count()
            want = max(1, -(-n_rows // target_rows_per_file))  # ceil div
            if n_files <= want:
                continue
            tmp = f"{live}__compact_{uuid.uuid4().hex[:8]}"
            rows.coalesce(want).write.mode("overwrite").parquet(tmp)
            _swap_dir(tmp, live)
            result[bucket] = want
        return result

    def _rewrite_buckets(self, rows: DataFrame, buckets: list[int]) -> None:
        """Stage `rows` (which must hold the complete new content of
        `buckets`) partitioned by bucket, then swap each bucket's directory;
        a bucket left with no rows is removed."""
        tmp = f"{self.path}__stage_{uuid.uuid4().hex[:8]}"
        rows.write.mode("overwrite").partitionBy(self.PCOL).parquet(tmp)
        try:
            for b in buckets:
                part = f"{self.PCOL}={b}"
                staged_part = os.path.join(tmp, part)
                live = os.path.join(self.path, part)
                if os.path.exists(staged_part):
                    _swap_dir(staged_part, live)
                elif os.path.exists(live):
                    shutil.rmtree(live)  # every row of the bucket deleted
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def merge_overwrite(self, updates: DataFrame, on: Sequence[str]) -> None:
        """Partition-scoped MERGE: `updates` holds only the changed rows
        (e.g. `resolve_tick`'s output). They are evaluated once — the bucket
        probe and the staged write share one materialized copy — and only
        the partitions they intersect are read, merged and swapped."""
        from pyspark.sql import functions as F

        with table_lock(self.path):
            updates = _once(self._with_bucket(updates))
            buckets = self._buckets_of(updates)
            base = self._read_raw().where(F.col(self.PCOL).isin(buckets))
            self._rewrite_buckets(merge_update(base, updates, list(on)), buckets)

    def delete_keys(self, keys: DataFrame) -> None:
        """Partition-scoped key delete: rewrite ONLY the epoch buckets the
        keys intersect (keys carry activated_at_epoch — it is part of
        DEAL_KEY — so the bucket set is derivable and the rewrite stays
        O(batch-epoch-range), never O(table)). The keys are evaluated once,
        like merge_overwrite's updates."""
        from pyspark.sql import functions as F

        with table_lock(self.path):
            keys = _once(self._with_bucket(keys.select(*self.key).dropDuplicates(self.key)))
            buckets = self._buckets_of(keys)
            base = self._read_raw().where(F.col(self.PCOL).isin(buckets))
            self._rewrite_buckets(
                base.join(keys.drop(self.PCOL), self.key, "left_anti"), buckets
            )
