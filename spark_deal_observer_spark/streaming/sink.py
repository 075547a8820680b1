"""Parquet-backed deal state table with idempotent merge semantics.

The reference's single mutable PostgreSQL table becomes one parquet
directory partitioned by an epoch bucket
(`epoch_bucket = activated_at_epoch DIV BUCKET_WIDTH`), maintained by
two write shapes (no Delta in this environment, so MERGE is
read-modify-write — the tradeoff SURVEY.md §7 Phase 4 documents):

  * `append_dedup` — the ON-CONFLICT-DO-NOTHING ingest sink (T6): anti-join
    the incoming batch against the stored keys of the batch's partitions,
    append only new rows, as one commit. The anti-join makes replays
    idempotent — at-least-once delivery × keyed dedup = effectively-once,
    exactly the reference's guarantee.
  * `merge_overwrite` — the UPDATE shapes (S7/S8): given ONLY the changed
    rows, rewrite the partitions they intersect with merge_update applied.

Both shapes first compute the batch's bucket set (micro-batches are
epoch-contiguous, so it's a handful of values) and prune the stored-table
read to those partitions' files — O(batch), not O(table), per tick. A merge
holds its updates on the driver as Arrow: it collects a DataFrame once per
write, so the plan that produced them runs once, or takes the Arrow rows
a caller already holds (both ticks' updates) with no collect. The bucket
set comes from those rows, and the anti-join against the stored
partitions broadcasts a local relation. With a Delta/Iceberg catalog the
write shapes become native MERGE.

The table has one fixed schema, the deal schema: `DEAL_SELECT_EXPRS` over
`EVENTS_DDL`, every field nullable, plus `epoch_bucket INT`. Every read
passes it to `spark.read.schema(...)`, so no read infers a schema, and a
table with no commit yet reads as zero rows.

The commit point is a version log, and it is the only concurrency
control. `_log/<v>.json` holds the whole live file list of version v
(`epoch_bucket=N/<part file>`, relative to the table). A write records
the version it read, stages its part files under a `_stage_*` directory
inside the table, moves them into their bucket directories (keeping
Spark's names), then commits `<v+1>.json`: the entry is written in full
in the stage and hard-linked to its name, a put-if-absent write that
never shows a reader a partial entry and fails if another writer took
v+1. An append adds files; a merge or a compaction removes exactly the
files it read and adds their rewrite, all in one commit. So a crash
before the link leaves version v, and a file no entry names is
invisible.

A link that fails means another write committed first; the write reads
the latest version again (optimistic concurrency over a put-if-absent
log, as in Delta Lake):
  * if every file it removes is still live, it rebases — the latest
    list, less its removed files, plus its added ones — and links again
    with no rewrite. An append removes nothing, so it always rebases: a
    merge changes no key, so its anti-join stays valid across a merge,
    and appends come from the one ingest query, so none races another.
  * otherwise another merge or compaction rewrote a file it read: it
    deletes what it staged and redoes against the latest version. A
    merge re-applies the same driver-held update rows (no second collect,
    POST or lookup); a compaction recomputes. The enrichment and egress
    ticks update disjoint rows (`payload_cid IS NULL` against
    `IS NOT NULL`), so re-applying one's rows over the other's commit
    loses neither.
Each failed link is another writer's commit, so the table always moves
forward.

A read opens the latest entry and hands its files to Spark: it lists no
data directory and replays nothing, and its DataFrame is a snapshot of
that version that later commits neither change nor break.
Spark still checks each file it is handed, and for more than 32 files
(`spark.sql.sources.parallelPartitionDiscovery.threshold`) it does so in
a Spark job; `compact()` keeps the count down.
Retired files stay on disk until `compact()` collects garbage: a version
whose successor was committed more than `RETAIN_S` ago goes, then every
data file no remaining version names and every stage, once older than
`RETAIN_S` — a younger one may be a write in flight. The latest version
is never collected.

Durability note: the commit relies on `os.link` failing on an existing
name and on `os.rename` within one filesystem, as on a local POSIX
filesystem. On object storage the entry needs a conditional put
(create-if-absent) and the data files are written in place of the moves;
the partition-scoped read/merge plans are unchanged by that substitution.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterable, Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..operators.merge import DEAL_KEY, dedup_insert, merge_update
from ..plans.deals import DEAL_SELECT_EXPRS, EVENTS_DDL

PCOL = "epoch_bucket"
BUCKET_WIDTH = 100
# Rewrites size files by row count (columnar bytes vary with encoding;
# rows are the stable proxy).
ROWS_PER_FILE = 1_000_000
LOG = "_log"
STAGE = "_stage_"
# How long a version stays readable once a newer one is committed: the
# time a reader that resolved it (a lazy DataFrame, a tick's lookups
# derived from the table) has to finish.
RETAIN_S = 3600.0


def _in_buckets(files: Iterable[str], buckets: Iterable[int]) -> list[str]:
    parts = {f"{PCOL}={b}" for b in buckets}
    return [f for f in files if f.split("/", 1)[0] in parts]


class PartitionedDealTableSink:
    """Epoch-bucket-partitioned deal table: merges touch only the partitions
    a batch intersects (reference write shapes S6/S7/S8,
    deal-observer.js:67-122, against a table indexed on the hot keys).

    Layout: `path/epoch_bucket=N/…parquet` with
    `epoch_bucket = activated_at_epoch DIV BUCKET_WIDTH`, named by the
    version log `path/_log/` (module docstring). Assumes
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
        os.makedirs(path, exist_ok=True)

    # The bucket of a row, `activated_at_epoch DIV BUCKET_WIDTH`, in its two
    # forms: a Spark column for writes, and the sorted bucket set of
    # driver-held Arrow rows for pruning (pyarrow's integer divide
    # truncates toward zero, like Spark's DIV).
    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            PCOL, F.expr(f"CAST(activated_at_epoch DIV {BUCKET_WIDTH} AS INT)")
        )

    @staticmethod
    def _buckets_of(rows: pa.Table) -> list[int]:
        epochs = rows.column("activated_at_epoch")
        return sorted(pc.unique(pc.divide(epochs, BUCKET_WIDTH)).to_pylist())

    def _entry(self, version: int) -> str:
        return os.path.join(self.path, LOG, f"{version}.json")

    def _versions(self) -> list[int]:
        try:
            names = os.listdir(os.path.join(self.path, LOG))
        except FileNotFoundError:
            return []
        return sorted(int(n[: -len(".json")]) for n in names if n.endswith(".json"))

    def _files(self, version: int) -> list[str]:
        with open(self._entry(version)) as f:
            return json.load(f)["files"]

    def _snapshot(self) -> tuple[int, list[str]]:
        """(latest version, its live files relative to the table); version
        0 is the empty table before the first commit."""
        versions = self._versions()
        return (versions[-1], self._files(versions[-1])) if versions else (0, [])

    def _scan(self, files: Sequence[str]) -> DataFrame:
        """The rows of `files`, with `epoch_bucket` taken from their paths.
        No files is an empty frame, and no Spark job."""
        reader = self.spark.read.schema(self._schema).option("basePath", self.path)
        return reader.parquet(*(os.path.join(self.path, f) for f in files))

    def read(self) -> DataFrame:
        """The deal rows of the latest version, lazily. The DataFrame is a
        snapshot of that version: later commits neither change it nor
        break it, until `compact()` collects the version (`RETAIN_S` after
        a newer one is committed)."""
        return self._scan(self._snapshot()[1]).drop(PCOL)

    def count(self) -> int:
        """The number of deal rows in the latest version."""
        return self.read().count()

    def _commit(self, plan: Callable[[list[str]], tuple[DataFrame | None, list[str]]]) -> None:
        """Commit one write over the latest version. `plan(files)` gets
        that version's live files and returns (rows, removed): the rows
        to write as new part files (None for none) and the files of
        `files` they replace. The next version lists `files`, less
        `removed`, plus the new ones; a write that adds and removes
        nothing commits nothing.

        When the link finds the next version taken, the write reads the
        latest version: if `removed` is all still live it rebases onto it
        and links again; otherwise it deletes its staged files and calls
        `plan` again over the latest files (the module docstring's rule)."""
        version, files = self._snapshot()
        while True:
            rows, removed = plan(files)
            stage = os.path.join(self.path, f"{STAGE}{uuid.uuid4().hex[:8]}")
            try:
                added = []
                if rows is not None:
                    writer = rows.write.option("maxRecordsPerFile", ROWS_PER_FILE)
                    writer.partitionBy(PCOL).parquet(stage)
                for staged in glob.glob(os.path.join(stage, f"{PCOL}=*", "*.parquet")):
                    rel = os.path.relpath(staged, stage)
                    os.makedirs(os.path.join(self.path, os.path.dirname(rel)), exist_ok=True)
                    os.rename(staged, os.path.join(self.path, rel))
                    added.append(rel)
                if not added and not removed:
                    return
                entry = os.path.join(stage, "entry.json")
                os.makedirs(os.path.join(self.path, LOG), exist_ok=True)
                while set(removed) <= set(files):
                    with open(entry, "w") as f:
                        json.dump({"files": sorted((set(files) - set(removed)) | set(added))}, f)
                    try:
                        os.link(entry, self._entry(version + 1))
                        return
                    except FileExistsError:
                        version, files = self._snapshot()
                for rel in added:
                    os.remove(os.path.join(self.path, rel))
            finally:
                shutil.rmtree(stage, ignore_errors=True)

    def _collect_garbage(self) -> None:
        """Delete each version whose successor was committed more than
        `RETAIN_S` ago (never the latest), then every data file that no
        remaining version names and every stage, once its mtime is older
        than `RETAIN_S`. A younger unnamed file or stage may belong to a
        write between its moves and its link; an older one is a retired
        or a crashed write's (a retired file is older than the successor
        that retired it)."""
        old = time.time() - RETAIN_S
        versions = self._versions()
        for v, successor in zip(versions, versions[1:]):
            if os.path.getmtime(self._entry(successor)) < old:
                os.remove(self._entry(v))
        live = {f for v in self._versions() for f in self._files(v)}
        for f in glob.glob(os.path.join(self.path, f"{PCOL}=*", "*")):
            if os.path.relpath(f, self.path) not in live and os.path.getmtime(f) < old:
                os.remove(f)
        for stage in glob.glob(os.path.join(self.path, f"{STAGE}*")):
            if os.path.getmtime(stage) < old:
                shutil.rmtree(stage, ignore_errors=True)

    def append_dedup(self, batch: DataFrame) -> None:
        """Dedup-insert that anti-joins against ONLY the batch's partitions.

        The stored side is the batch's buckets' files, so a tick reads
        O(batch-epoch-range) rows no matter how large the table has grown.
        The batch is persisted, so the bucket probe and the write share
        one scan of it: the source is read, and its `observe` metrics
        counted, once per micro-batch. The probe collects the one epoch
        column as Arrow and takes its bucket set on the driver, so it runs
        no shuffle. The append removes no file, so a commit that beats it
        never makes it redo: it rebases its new files onto that commit."""
        batch = self._with_bucket(batch).persist()
        try:
            # Micro-batches are epoch-contiguous: this is a handful of ints.
            buckets = self._buckets_of(batch.select("activated_at_epoch").toArrow())

            def plan(files: list[str]) -> tuple[DataFrame, list[str]]:
                stored = self._scan(_in_buckets(files, buckets))
                # back to the deal column order (the anti-join puts the key first)
                return dedup_insert(batch, stored, DEAL_KEY).select(*batch.columns), []

            self._commit(plan)
        finally:
            batch.unpersist()

    def compact(self) -> dict[int, int]:
        """Rewrite each partition with more files than
        ceil(rows / ROWS_PER_FILE) into that many files — the small-files
        maintenance every micro-batch-appended table needs (each
        `append_dedup` tick adds part-files; thousands of ticks make scans
        metadata-bound). The latest version's file list and the parquet
        footers pick the partitions, so a table with nothing to compact
        runs no Spark job; the chosen partitions' files are read once and
        replaced in one commit. A write committed meanwhile that left
        those files live (an append) is kept by the rebase; one that
        rewrote them makes the compaction recompute. Then it collects
        garbage: the table's maintenance operation is where retired
        versions and crash debris go. Returns {bucket: files_after} for
        the partitions it rewrote.

        At deployment scale this is the OPTIMIZE/rewrite-data-files job of
        a table format, scheduled off-peak; expressing it over plain
        parquet keeps the sink self-contained.
        """
        want: dict[int, int] = {}

        def plan(files: list[str]) -> tuple[DataFrame | None, list[str]]:
            want.clear()
            by_part: dict[str, list[str]] = {}
            for f in files:
                by_part.setdefault(f.split("/", 1)[0], []).append(f)
            for part, in_part in by_part.items():
                n_rows = sum(pq.read_metadata(os.path.join(self.path, f)).num_rows for f in in_part)
                n_files = max(1, -(-n_rows // ROWS_PER_FILE))  # ceil div
                if len(in_part) > n_files:
                    want[int(part.split("=", 1)[1])] = n_files
            read = _in_buckets(files, want)
            return (self._scan(read).repartition(PCOL) if want else None), read

        self._commit(plan)
        self._collect_garbage()
        return want

    def merge_overwrite(self, updates: DataFrame | pa.Table, on: Sequence[str]) -> None:
        """Partition-scoped MERGE: `updates` holds only the changed rows,
        as a DataFrame or as a `pyarrow.Table` of deal rows the caller
        already holds (the enrichment tick's attempted rows, egress's
        mark). A DataFrame is collected to the driver as Arrow once — its
        plan runs once; an Arrow table is used as it is, with no collect.
        The bucket set comes from the driver-held rows, and the rebuilt
        local relation (a DataFrame's own schema, or the deal schema for
        Arrow rows) makes the merge's anti-join a broadcast. Only the
        files of the partitions they intersect are read, merged and
        replaced, in one commit; merge_update keeps every update row, so
        each of those buckets has rows to write. If another merge or a
        compaction replaced one of those files first, the merge redoes
        over the latest version with the same local rows.

        The driver holds every update row, in either form: callers pass
        bounded sets (at most `max_deals` rows per enrichment tick, at most
        the accepted rows of an egress tick)."""
        if isinstance(updates, DataFrame):
            schema, rows = updates.schema, updates.toArrow()
        else:
            schema, rows = self._deal_schema, updates
        if rows.num_rows == 0:
            return
        buckets = self._buckets_of(rows)
        local = self._with_bucket(self.spark.createDataFrame(rows, schema))

        def plan(files: list[str]) -> tuple[DataFrame, list[str]]:
            read = _in_buckets(files, buckets)
            return merge_update(self._scan(read), local, list(on)), read

        self._commit(plan)
