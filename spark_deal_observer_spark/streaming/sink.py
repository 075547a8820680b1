"""Parquet-backed deal state table with idempotent merge semantics.

The reference's single mutable PostgreSQL table becomes one parquet
directory partitioned by an epoch bucket
(`epoch_bucket = activated_at_epoch DIV bucket_width`), maintained by
two write shapes (no Delta in this environment, so MERGE is
read-modify-write — the tradeoff SURVEY.md §7 Phase 4 documents):

  * `append_dedup` — the ON-CONFLICT-DO-NOTHING ingest sink (T6): anti-join
    the incoming batch against the stored keys of the batch's partitions,
    append only new rows. Plain parquet append is atomic-enough here (new
    part-files), and the anti-join makes replays idempotent — at-least-once
    delivery × keyed dedup = effectively-once, exactly the reference's
    guarantee.
  * `merge_overwrite` — the UPDATE shapes (S7/S8): given ONLY the changed
    rows, rewrite the partitions they intersect with merge_update applied,
    staged to a temp dir then swapped per partition.

Both shapes first compute the batch's bucket set (micro-batches are
epoch-contiguous, so it's a handful of values) and prune the stored-table
read to those partitions — O(batch), not O(table), per tick. A merge
collects its updates to the driver once per write, so the plan that
produced them (a work-queue top-k) runs once, the bucket set comes from
the collected rows, and the anti-join against the stored partitions
broadcasts a local relation. With a Delta/Iceberg catalog the write shapes
become native MERGE.

Reads pin the schema: a sink's first read infers it from the parquet
footers, later reads pass it to `spark.read.schema(...)` and skip that
job. The single-writer contract fixes the table's schema; partition and
file listing still run on every read, so new buckets and files show up.

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
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.merge import DEAL_KEY, dedup_insert, merge_update
from .atomic import gc_swap_debris
from .atomic import swap_dir as _swap_dir
from .concurrency import table_lock


class PartitionedDealTableSink:
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
        self.spark = spark
        self.path = path
        self.key = list(key)
        self.bucket_width = bucket_width
        self._schema: StructType | None = None  # pinned by the first read
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
        return os.path.exists(os.path.join(self.path, "_SUCCESS"))

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.PCOL,
            F.expr(f"CAST(activated_at_epoch DIV {self.bucket_width} AS INT)"),
        )

    def _read_raw(self) -> DataFrame:
        if self._schema is None:
            df = self.spark.read.parquet(self.path)
            self._schema = df.schema
            return df
        return self.spark.read.schema(self._schema).parquet(self.path)

    def read(self) -> DataFrame:
        return self._read_raw().drop(self.PCOL)

    def count(self) -> int:
        return self.read().count() if self.exists() else 0

    def _buckets_of(self, df: DataFrame) -> list[int]:
        # Micro-batches are epoch-contiguous: this is a handful of ints.
        return [r[0] for r in df.select(self.PCOL).distinct().collect()]

    def append_dedup(self, batch: DataFrame) -> None:
        """Dedup-insert that anti-joins against ONLY the batch's partitions.

        The stored-table side is pruned by the partition column before the
        anti-join, so a tick reads O(batch-epoch-range) rows no matter how
        large the table has grown. The table lock makes the exists-check +
        anti-join + append one atomic span vs concurrent loop ticks
        (streaming/concurrency.py)."""
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
        either old or new, never mixed. Holds the table lock throughout:
        a write landing between a partition's read and its swap would be
        overwritten by the stale stage. Files are sized by row count
        (columnar bytes vary with encoding; rows are the stable proxy).
        Returns {bucket: files_after} for the partitions it rewrote.

        At deployment scale this is the OPTIMIZE/rewrite-data-files job of
        a table format, scheduled off-peak; expressing it over plain
        parquet keeps the sink self-contained.
        """
        result: dict[int, int] = {}
        with table_lock(self.path):
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

    def merge_overwrite(self, updates: DataFrame, on: Sequence[str]) -> None:
        """Partition-scoped MERGE: `updates` holds only the changed rows
        (e.g. `resolve_tick`'s output). Inside the lock they are collected
        to the driver as Arrow once — their plan runs once, the bucket set
        comes from the collected column, and the rebuilt local relation
        makes the merge's anti-join a broadcast. Only the partitions they
        intersect are read, merged, staged and swapped; merge_update keeps
        every update row, so each of those buckets has a staged directory.

        The driver holds every update row: callers pass bounded sets (at
        most `max_deals` rows per enrichment tick, at most the accepted
        rows of an egress tick)."""
        with table_lock(self.path):
            bucketed = self._with_bucket(updates)
            rows = bucketed.toArrow()
            if rows.num_rows == 0:
                return
            buckets = sorted(set(rows.column(self.PCOL).to_pylist()))
            updates = self.spark.createDataFrame(rows, bucketed.schema)
            base = self._read_raw().where(F.col(self.PCOL).isin(buckets))
            tmp = f"{self.path}__stage_{uuid.uuid4().hex[:8]}"
            merge_update(base, updates, list(on)).write.mode(
                "overwrite"
            ).partitionBy(self.PCOL).parquet(tmp)
            try:
                for b in buckets:
                    part = f"{self.PCOL}={b}"
                    _swap_dir(os.path.join(tmp, part), os.path.join(self.path, part))
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
