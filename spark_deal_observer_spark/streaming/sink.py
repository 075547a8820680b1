"""Parquet-backed deal state table with idempotent merge semantics.

The reference's single mutable PostgreSQL table becomes one parquet
directory partitioned by an epoch bucket
(`epoch_bucket = activated_at_epoch DIV BUCKET_WIDTH`), maintained by
two write shapes (no Delta in this environment, so MERGE is
read-modify-write — the tradeoff SURVEY.md §7 Phase 4 documents):

  * `append_dedup` — the ON-CONFLICT-DO-NOTHING ingest sink (T6): anti-join
    the incoming batch against the stored keys of the batch's partitions,
    append only new rows. Plain parquet append is atomic-enough here (new
    part-files), and the anti-join makes replays idempotent — at-least-once
    delivery × keyed dedup = effectively-once, exactly the reference's
    guarantee.
  * `merge_overwrite` — the UPDATE shapes (S7/S8): given ONLY the changed
    rows, rewrite the partitions they intersect with merge_update applied.

Both shapes first compute the batch's bucket set (micro-batches are
epoch-contiguous, so it's a handful of values) and prune the stored-table
read to those partitions — O(batch), not O(table), per tick. A merge
holds its updates on the driver as Arrow: it collects a DataFrame once per
write, so the plan that produced them runs once, or takes the Arrow rows
a caller already holds (both ticks' updates) with no collect. The bucket
set comes from those rows, and the anti-join against the stored
partitions broadcasts a local relation. With a Delta/Iceberg catalog the
write shapes become native MERGE.

The table has one fixed schema, the deal schema: `DEAL_SELECT_EXPRS` over
`EVENTS_DDL`, every field nullable, plus `epoch_bucket INT`. Every read
passes it to `spark.read.schema(...)`, so no read infers a schema, and a
table with no rows yet reads as zero rows. Partition and file listing
still run on every read, so new buckets and files show up.

`merge_overwrite` and `compact` share one rewrite path: the new contents
of whole buckets are staged to one `path__stage_*` directory, each bucket
is swapped in with `swap_dir`, then the stage is removed.

Durability note: the staged-swap uses `os.rename`, which is atomic on a
local POSIX filesystem but NOT on object storage (S3/GCS "rename" is
copy+delete). At deployment scale, point the sink at an HDFS-compatible
path or replace the swap with a table-format commit (Delta/Iceberg); the
partition-scoped read/merge plans are unchanged by that substitution.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..operators.merge import DEAL_KEY, dedup_insert, merge_update
from ..plans.deals import DEAL_SELECT_EXPRS, EVENTS_DDL
from .atomic import gc_swap_debris
from .atomic import swap_dir as _swap_dir
from .concurrency import table_lock

PCOL = "epoch_bucket"
BUCKET_WIDTH = 100
# Rewrites size files by row count (columnar bytes vary with encoding;
# rows are the stable proxy).
ROWS_PER_FILE = 1_000_000


class PartitionedDealTableSink:
    """Epoch-bucket-partitioned deal table: merges touch only the partitions
    a batch intersects (reference write shapes S6/S7/S8,
    deal-observer.js:67-122, against a table indexed on the hot keys).

    Layout: `path/epoch_bucket=N/…parquet` with
    `epoch_bucket = activated_at_epoch DIV BUCKET_WIDTH`. Assumes
    `activated_at_epoch` (like the reference's) is immutable under updates —
    a merge never moves a row across partitions, so update merges are
    closed over the updates' bucket set.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        deal = spark.createDataFrame([], EVENTS_DDL).selectExpr(*DEAL_SELECT_EXPRS).schema
        self._deal_schema = StructType([StructField(f.name, f.dataType) for f in deal])
        self._schema = StructType(self._deal_schema.fields + [StructField(PCOL, IntegerType())])
        # restart hygiene: a crash can orphan staged/backup dirs from an
        # interrupted rewrite (`__stage_*` written but never swapped,
        # `__old_*` moved aside but not yet removed). They leak disk
        # forever; the single-writer contract makes construction a safe
        # point to sweep them. The sweep runs before `path` is created: a
        # missing `path` is what marks a `path__old_*` backup as the only copy.
        self._gc_stale_stages()
        os.makedirs(path, exist_ok=True)

    def _gc_stale_stages(self) -> None:
        gc_swap_debris(self.path)
        # per-partition swap debris: group backups by their live dir
        # so repeated crashes restore the NEWEST backup, not the
        # glob-order-first one (see atomic.gc_swap_debris)
        targets = {
            d[: d.rindex("__old_")]
            for d in glob.glob(os.path.join(self.path, "*__old_*"))
        }
        for t in sorted(targets):
            gc_swap_debris(t)

    # The bucket of a row, `activated_at_epoch DIV BUCKET_WIDTH`, in its two
    # forms: a Spark column for writes, and the sorted bucket set of
    # driver-held Arrow rows for pruning and swaps (pyarrow's integer divide
    # truncates toward zero, like Spark's DIV).
    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            PCOL, F.expr(f"CAST(activated_at_epoch DIV {BUCKET_WIDTH} AS INT)")
        )

    @staticmethod
    def _buckets_of(rows: pa.Table) -> list[int]:
        epochs = rows.column("activated_at_epoch")
        return sorted(pc.unique(pc.divide(epochs, BUCKET_WIDTH)).to_pylist())

    def _read_raw(self) -> DataFrame:
        return self.spark.read.schema(self._schema).parquet(self.path)

    def read(self) -> DataFrame:
        """The deal rows, lazily. The table lock cannot protect this read:
        its files are listed now and opened by whatever action runs later,
        after any lock taken around this call is released. A reader that
        races a merge swap needs an eager method (`count`) or a caller
        span that holds the lock through its action (the ticks)."""
        return self._read_raw().drop(PCOL)

    def count(self) -> int:
        """The number of deal rows. An eager read, so it holds the table
        lock through the whole action: no rewrite swaps a bucket out from
        under it."""
        with table_lock(self.path):
            return self.read().count()

    def append_dedup(self, batch: DataFrame) -> None:
        """Dedup-insert that anti-joins against ONLY the batch's partitions.

        The stored-table side is pruned by the partition column before the
        anti-join, so a tick reads O(batch-epoch-range) rows no matter how
        large the table has grown. The batch is persisted, so the bucket
        probe and the write share one scan of it: the source is read, and
        its `observe` metrics counted, once per micro-batch. The probe
        collects the one epoch column as Arrow and takes its bucket set on
        the driver, so it runs no shuffle. The table lock makes the
        anti-join + append one atomic span vs concurrent loop ticks
        (streaming/concurrency.py)."""
        batch = self._with_bucket(batch).persist()
        try:
            with table_lock(self.path):
                # Micro-batches are epoch-contiguous: this is a handful of ints.
                buckets = self._buckets_of(batch.select("activated_at_epoch").toArrow())
                stored = self._read_raw().where(F.col(PCOL).isin(buckets))
                # back to the deal column order (the anti-join puts the key
                # first): a plain parquet read of the table infers the schema
                new_rows = dedup_insert(batch, stored, DEAL_KEY).select(*batch.columns)
                new_rows.write.mode("append").partitionBy(PCOL).parquet(self.path)
        finally:
            batch.unpersist()

    def _rewrite(self, rows: DataFrame, buckets: Sequence[int]) -> None:
        """Replace each bucket in `buckets` with its rows in `rows`, which
        must hold at least one row of every such bucket: stage them all to
        one directory, swap each bucket in, remove the stage. A crash
        leaves every bucket either old or new, never mixed."""
        stage = f"{self.path}__stage_{uuid.uuid4().hex[:8]}"
        try:
            writer = rows.write.mode("overwrite").option("maxRecordsPerFile", ROWS_PER_FILE)
            writer.partitionBy(PCOL).parquet(stage)
            for b in buckets:
                part = f"{PCOL}={b}"
                _swap_dir(os.path.join(stage, part), os.path.join(self.path, part))
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def compact(self) -> dict[int, int]:
        """Rewrite each partition with more files than
        ceil(rows / ROWS_PER_FILE) into that many files — the small-files
        maintenance every micro-batch-appended table needs (each
        `append_dedup` tick adds part-files; thousands of ticks make scans
        metadata-bound). The file listing and the parquet footers pick the
        partitions, so a table with nothing to compact runs no Spark job;
        the chosen partitions are read once and go through the same rewrite
        as merge_overwrite. Holds the table lock throughout: a write landing
        between the read and the swap would be overwritten by the stale
        stage. Returns {bucket: files_after} for the partitions it rewrote.

        At deployment scale this is the OPTIMIZE/rewrite-data-files job of
        a table format, scheduled off-peak; expressing it over plain
        parquet keeps the sink self-contained.
        """
        want: dict[int, int] = {}
        with table_lock(self.path):
            for part in sorted(os.listdir(self.path)):
                if not part.startswith(f"{PCOL}="):
                    continue
                live = os.path.join(self.path, part)
                files = [os.path.join(live, f) for f in os.listdir(live) if f.endswith(".parquet")]
                n_rows = sum(pq.read_metadata(f).num_rows for f in files)
                n_files = max(1, -(-n_rows // ROWS_PER_FILE))  # ceil div
                if len(files) > n_files:
                    want[int(part.split("=", 1)[1])] = n_files
            if want:
                rows = self._read_raw().where(F.col(PCOL).isin(list(want))).repartition(PCOL)
                self._rewrite(rows, sorted(want))
        return want

    def merge_overwrite(self, updates: DataFrame | pa.Table, on: Sequence[str]) -> None:
        """Partition-scoped MERGE: `updates` holds only the changed rows,
        as a DataFrame or as a `pyarrow.Table` of deal rows the caller
        already holds (the enrichment tick's attempted rows, egress's mark). A DataFrame is
        collected to the driver as Arrow once, inside the lock — its plan
        runs once; an Arrow table is used as it is, with no collect. The
        bucket set comes from the driver-held rows, and the rebuilt local
        relation (a DataFrame's own schema, or the deal schema for Arrow
        rows) makes the merge's anti-join a broadcast. Only the partitions
        they intersect are read, merged and rewritten; merge_update keeps
        every update row, so each of those buckets has rows to stage.

        The driver holds every update row, in either form: callers pass
        bounded sets (at most `max_deals` rows per enrichment tick, at most
        the accepted rows of an egress tick)."""
        with table_lock(self.path):
            if isinstance(updates, DataFrame):
                schema, rows = updates.schema, updates.toArrow()
            else:
                schema, rows = self._deal_schema, updates
            if rows.num_rows == 0:
                return
            buckets = self._buckets_of(rows)
            local = self._with_bucket(self.spark.createDataFrame(rows, schema))
            base = self._read_raw().where(F.col(PCOL).isin(buckets))
            self._rewrite(merge_update(base, local, list(on)), buckets)
