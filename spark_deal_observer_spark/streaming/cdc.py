"""Change-data-capture audit feed over the deal-table sink.

The merge sink applies upserts; this wrapper derives each tick's CHANGE SET
— which keys were added, which changed and which FIELDS changed — before
delegating the write, and appends it to an audit log partitioned by
batch_id. `snapshot_diff` (plans/registry.py) is the batch form of the same
classification over two full table states; this is the continuous form over
the write path, which is the reference's whole reason to exist (the observe
loop turns chain state into table changes — deal-observer.js:67-122,
INSERT/UPDATE per tick; an auditable pipeline also needs the reverse record
of what each tick did to the table).

Scale posture:
  * the diff reads the stored table ONCE per tick through a semi-join on
    the batch's keys — the batch side broadcasts, the table side is a
    scan-stage filter (partition-pruned by the sink's epoch buckets),
    so the audit costs O(batch), never O(table);
  * the batch is localCheckpoint'ed once and feeds both the diff and the
    delegated merge — one evaluation of the upstream plan per tick;
  * replaying a batch audits to ZERO rows (its values are already applied,
    so every key classifies as a no-op) and the per-batch_id directory is
    overwritten — the audit log inherits the sink's effectively-once
    semantics twice over instead of needing its own dedup.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .atomic import SnapshotStore
from .sink import PartitionedDealTableSink


class ChangeFeedSink:
    """foreachBatch body: audit (op, changed_fields) per key, then upsert."""

    def __init__(
        self,
        spark: SparkSession,
        sink: PartitionedDealTableSink,
        out_path: str,
        compare_cols: Sequence[str] | None = None,
        compensate_reverts: bool = False,
    ):
        self.spark = spark
        self.sink = sink
        self.out_path = out_path
        self._audits = SnapshotStore(spark, out_path, "batch_id")
        self.compare_cols = list(compare_cols) if compare_cols else None
        # Default OFF (SURVEY §7 flag-only posture / the reference's own
        # TODO at rpc-service/service.js:57-58): reverted rows upsert with
        # their flag like any other update. ON: a batch row with
        # `reverted = true` is a RETRACTION — audited as op='removed'
        # (only if the key was actually stored) and DELETED from the
        # table via the sink's partition-scoped delete_keys. Replays stay
        # no-ops: the second delivery finds the key absent, so the audit
        # emits nothing and the delete anti-join does nothing.
        self.compensate_reverts = compensate_reverts

    def process_batch(self, batch: DataFrame, batch_id: int = 0) -> None:
        key = self.sink.key
        allb = batch.dropDuplicates(key).localCheckpoint(eager=True)
        compensating = self.compensate_reverts and "reverted" in allb.columns
        if compensating:
            dead = allb.where(F.coalesce(F.col("reverted"), F.lit(False)))
            ups = allb.where(~F.coalesce(F.col("reverted"), F.lit(False)))
        else:
            dead = None
            ups = allb
        cols = self.compare_cols or [c for c in ups.columns if c not in key]
        if self.sink.exists():
            old = self.sink.read().join(ups.select(*key), key, "left_semi")
        else:
            old = self.spark.createDataFrame([], ups.schema)
        o = old.select(
            *key,
            *[F.col(c).alias(f"o_{c}") for c in cols],
            F.lit(1).alias("o_present"),
        )
        n = ups.select(*key, *[F.col(c).alias(f"n_{c}") for c in cols])
        j = n.join(o, key, "left")
        diffs = [
            F.when(~F.col(f"n_{c}").eqNullSafe(F.col(f"o_{c}")), F.lit(c)) for c in cols
        ]
        changed_fields = F.concat_ws(",", *diffs)
        op = F.when(F.col("o_present").isNull(), "added").when(
            changed_fields != "", "changed"
        )
        audit = j.select(
            *key,
            op.alias("op"),
            F.when(F.col("o_present").isNotNull(), changed_fields).alias(
                "changed_fields"
            ),
        ).where(F.col("op").isNotNull())
        if compensating and self.sink.exists():
            removed = (
                self.sink.read()
                .join(dead.select(*key), key, "left_semi")
                .select(
                    *key,
                    F.lit("removed").alias("op"),
                    F.lit(None).cast("string").alias("changed_fields"),
                )
            )
            audit = audit.unionByName(removed)
        self._audits.write(audit, batch_id)
        if self.sink.exists():
            self.sink.merge_overwrite(ups, key)
            if compensating:
                self.sink.delete_keys(dead)
        else:
            self.sink.append_dedup(ups)

    def read_feed(self) -> DataFrame:
        """The accumulated audit log, batch_id re-derived as a column."""
        return self._audits.read_all()
