"""Idempotent merge-style operators over immutable DataFrames.

The reference maintains one mutable PostgreSQL table with three write shapes:
  * dedup INSERT  — `ON CONFLICT DO NOTHING` batch append
    (backend/lib/deal-observer.js:67-122, unique key from migration 008)
  * point UPDATE  — state transition by id
    (backend/lib/resolve-payload-cids.js:107-123)
  * bulk UPDATE   — `UPDATE ... FROM unnest($1::INT[])` flag set
    (backend/lib/spark-api-submit-deals.js:89-101)

Spark has no in-place UPDATE on plain parquet, so each shape becomes a pure
dataframe-to-dataframe transform that a `foreachBatch` sink applies by
rewriting (or MERGE-ing, when a Delta-style catalog is available). All three
are shuffle-frugal:
  * dedup-insert anti-joins on the natural key — the deal sink partitions
    the state table by epoch bucket and prunes the stored side to the
    batch's buckets before the join; the incoming micro-batch is small, so
    Catalyst broadcast-hashes it.
  * merge-update unions the untouched rows with the updated rows — the
    updates side is the small one and is broadcast.
  * mark-submitted broadcasts the id list (the reference's unnest array).

DEAL_KEY is the reference's 9-column natural unique key
(db/migrations/008.do.unique-constraint.sql).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEAL_KEY: tuple[str, ...] = (
    "activated_at_epoch",
    "miner_id",
    "client_id",
    "piece_cid",
    "piece_size",
    "term_start_epoch",
    "term_min",
    "term_max",
    "sector_id",
)


def dedup_insert(
    incoming: DataFrame,
    existing: DataFrame,
    key: Sequence[str] = DEAL_KEY,
) -> DataFrame:
    """Rows of `incoming` to append: in-batch dedup + anti-join vs existing.

    Spark-first rendition of `INSERT ... ON CONFLICT DO NOTHING`
    (deal-observer.js:102): `dropDuplicates` handles duplicates within the
    batch, a `left_anti` join drops rows whose key is already stored.
    Idempotent under replay — re-running the same batch appends nothing,
    which is what makes at-least-once fetch + this sink effectively-once
    (SURVEY.md T6).
    """
    key = list(key)
    deduped = incoming.dropDuplicates(key)
    return deduped.join(existing.select(*key).dropDuplicates(key), on=key, how="left_anti")


def first_per_key(df: DataFrame, key: Sequence[str], order: Sequence[Column]) -> DataFrame:
    """Deterministic full-row dedup: keep the first row per key by `order`.

    The reference's UNIQUE constraint keeps the first-arriving duplicate;
    `dropDuplicates` alone is nondeterministic about which survives, so the
    oracle-checkable form is a row_number window.
    """
    w = Window.partitionBy(*key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_update(
    target: DataFrame,
    updates: DataFrame,
    key: Sequence[str],
) -> DataFrame:
    """MERGE WHEN MATCHED THEN UPDATE over immutable frames.

    `updates` must share the target schema. Result = target rows whose key is
    absent from `updates`, unioned with `updates` (reference S7 point UPDATE,
    resolve-payload-cids.js:107-123). The updates side is small (≤1000/batch
    in the reference) → Catalyst broadcasts the anti-join build side.
    """
    key = list(key)
    untouched = target.join(updates.select(*key), on=key, how="left_anti")
    return untouched.unionByName(updates.select(*target.columns))


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    key: Sequence[str],
    effective_ts: Column,
    epoch_ts: Column,
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge over immutable frames: apply
    `updates` while KEEPING history, instead of `merge_update`'s overwrite.

    Result rows carry (valid_from, valid_to, is_current):
      * matched current rows close (valid_to = effective_ts, not current)
      * update rows open (valid_from = effective_ts, current)
      * unmatched current rows pass through (still current)

    The reference's active_deals table overwrites state transitions
    (resolve-payload-cids.js:107-123); this is the audit-holding variant a
    warehouse keeps next to it. Three scans of two inputs, one broadcast
    anti/semi join pair on the key — the same shuffle budget as
    merge_update."""
    key = list(key)
    closed = (
        current.join(updates.select(*key), on=key, how="left_semi")
        .withColumn("valid_from", epoch_ts)
        .withColumn("valid_to", effective_ts)
        .withColumn("is_current", F.lit(False))
    )
    opened = (
        updates.withColumn("valid_from", effective_ts)
        .withColumn("valid_to", F.lit(None).cast("timestamp_ntz"))
        .withColumn("is_current", F.lit(True))
    )
    untouched = (
        current.join(updates.select(*key), on=key, how="left_anti")
        .withColumn("valid_from", epoch_ts)
        .withColumn("valid_to", F.lit(None).cast("timestamp_ntz"))
        .withColumn("is_current", F.lit(True))
    )
    return closed.unionByName(opened.select(*closed.columns)).unionByName(untouched)


def mark_submitted(
    target: DataFrame,
    ids: DataFrame,
    id_col: str = "id",
    flag_col: str = "submitted_at",
    flag_value: Column | None = None,
) -> DataFrame:
    """Bulk flag UPDATE via broadcast join against an id list (reference S8).

    The reference unnests an int array and update-joins it; here the id list
    is a DataFrame, broadcast into a left join, and the flag column is
    rewritten with `when(matched)`. No shuffle of the big side.
    """
    flag_value = flag_value if flag_value is not None else F.current_timestamp()
    hits = F.broadcast(ids.select(F.col(id_col)).dropDuplicates([id_col]).withColumn("__hit", F.lit(True)))
    merged = target.join(hits, on=id_col, how="left")
    new_flag = F.when(F.col("__hit"), flag_value).otherwise(F.col(flag_col))
    return merged.withColumn(flag_col, new_flag).drop("__hit")
