"""The `active_deals` analog over the synthetic corpus + the flagship query.

The reference's state table (`db/migrations/002..015`, FIXTURES.md §3) has no
direct counterpart in the synthetic corpus, so we derive a deterministic
deal-shaped view from the `events` table (FIXTURES.md maps `events` to the
actor-event stream: user_id↔miner_id, ts↔activation time). The derivation is
ONE dialect-portable SQL text (`DEALS_VIEW_SQL`) evaluated verbatim by both
Spark and the DuckDB oracle, so the two engines can never disagree about what
a "deal" is; only the operators under test differ in implementation.

`REF_TS` freezes the reference's `NOW()` (spark-api-submit-deals.js:55) to a
constant so eligibility queries are deterministic and oracle-checkable. It is
chosen so the 2-day-seasoning epoch threshold (4623000) bisects the derived
`activated_at_epoch` range [4622000, 4624000) and the expiry threshold
(4628760) bisects the derived expiry range — both conjuncts genuinely filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.epoch import EPOCH_SECONDS, GENESIS_UNIX, epoch_to_timestamp
from ..sources.tables import register_views

# Frozen "now" for deterministic eligibility predicates (unix 1737169200).
REF_TS = "2025-01-18 03:00:00"
REF_UNIX = 1_737_169_200
# timestamp_to_epoch(REF_TS - 2 days): the reference's seasoning cutoff.
SEASONED_EPOCH = (REF_UNIX - 2 * 86400 - GENESIS_UNIX) // EPOCH_SECONDS  # = 4623000
REF_EPOCH = (REF_UNIX - GENESIS_UNIX) // EPOCH_SECONDS  # = 4628760

# The claim-event rows the streaming ingest reads; the deal sink's schema
# is DEAL_SELECT_EXPRS applied to them.
EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)

# Dialect-portable (Spark SQL + DuckDB) derivation of the deal state table.
# Column set mirrors FIXTURES.md §3 / db/migrations/002..011. Kept as
# (expression, name) pairs so the streaming ingest can reuse the exact same
# derivation via selectExpr on an unbounded events stream.
DEAL_COLUMN_EXPRS: tuple[tuple[str, str], ...] = (
    ("CAST(event_id AS BIGINT)", "id"),
    ("CAST(4622000 + (event_id % 2000) AS INT)", "activated_at_epoch"),
    ("CAST(user_id AS INT)", "miner_id"),
    ("CAST(event_id % 97 AS INT)", "client_id"),
    ("'baga' || CAST(event_id % 701 AS STRING)", "piece_cid"),
    ("CAST(FLOOR(value * 1000000) AS BIGINT)", "piece_size"),
    ("CAST(4622100 + (event_id % 2000) AS INT)", "term_start_epoch"),
    ("CAST(5000 + (event_id % 13) * 200 AS INT)", "term_min"),
    ("CAST(10000 + (event_id % 13) * 400 AS INT)", "term_max"),
    ("CAST(event_id % 1024 AS BIGINT)", "sector_id"),
    (
        "CASE WHEN value > 5.0 THEN 'bafy' || CAST(event_id % 389 AS STRING) END",
        "payload_cid",
    ),
    ("CASE WHEN event_id % 3 = 0 THEN ts END", "submitted_at"),
    (
        "CASE event_type WHEN 'purchase' THEN 'PAYLOAD_CID_RESOLVED' "
        "WHEN 'view' THEN 'PAYLOAD_CID_UNRESOLVED' "
        "WHEN 'error' THEN 'PAYLOAD_CID_TERMINALLY_UNRETRIEVABLE' "
        "ELSE 'PAYLOAD_CID_NOT_QUERIED_YET' END",
        "payload_retrievability_state",
    ),
    ("CASE WHEN event_type = 'view' THEN ts END", "last_payload_retrieval_attempt"),
    ("(event_type = 'error')", "reverted"),
)

DEAL_SELECT_EXPRS: tuple[str, ...] = tuple(f"{e} AS {n}" for e, n in DEAL_COLUMN_EXPRS)

DEALS_VIEW_SQL = "SELECT\n  " + ",\n  ".join(DEAL_SELECT_EXPRS) + "\nFROM events"


def oracle_with_deals(body: str) -> str:
    """Wrap an oracle query body with the shared deals CTE."""
    return f"WITH deals AS (\n{DEALS_VIEW_SQL}\n)\n{body}"


def deals_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deal state table as a DataFrame (shared derivation text)."""
    register_views(spark, sf_dir)
    return spark.sql(DEALS_VIEW_SQL)


def eligible_rows(deals: DataFrame) -> DataFrame:
    """The deals that pass reference predicate P5
    (`backend/lib/spark-api-submit-deals.js:51-81`), with every column of
    `deals` plus the computed `expires_at`:
      submitted_at IS NULL
      AND payload_cid IS NOT NULL
      AND activated_at_epoch < timestamp_to_epoch(now - 2 days)
      AND epoch_to_timestamp(term_start_epoch + term_min) > now

    The egress tick collects these whole rows once: it POSTs the payload
    columns and rebuilds its mark-submitted update rows from the same
    collected rows, with no second read of the table."""
    expires_at = epoch_to_timestamp(F.col("term_start_epoch") + F.col("term_min"))
    return (
        deals.where(F.col("submitted_at").isNull())
        .where(F.col("payload_cid").isNotNull())
        .where(F.col("activated_at_epoch") < F.lit(SEASONED_EPOCH))
        .where(expires_at > F.lit(REF_TS).cast("timestamp_ntz"))
        .withColumn("expires_at", expires_at)
    )


def eligible_deals(deals: DataFrame) -> DataFrame:
    """Flagship: deals eligible for egress submission.

    `eligible_rows` (predicate P5) with the computed-column projection P6,
    (id, miner_id, client_id, piece_cid, piece_size, payload_cid,
    expires_at) — payload_cid is part of SubmittableDeal
    (spark-api-submit-deals.js:62) and rides to the egress wire format.

    All conjuncts are codegen'd column expressions; the epoch math never
    leaves the JVM (SURVEY.md F1/F2). Parquet scan receives the IS NULL /
    IS NOT NULL pushdown; column pruning trims the scan to the 9 columns
    actually referenced.
    """
    return eligible_rows(deals).select(
        "id",
        "miner_id",
        "client_id",
        "piece_cid",
        "piece_size",
        "payload_cid",
        "expires_at",
    )


ELIGIBLE_DEALS_ORACLE_BODY = f"""
SELECT
  id, miner_id, client_id, piece_cid, piece_size, payload_cid,
  CAST(TIMESTAMP '1970-01-01 00:00:00'
       + INTERVAL ((term_start_epoch + term_min) * {EPOCH_SECONDS}
                   + {GENESIS_UNIX}) SECOND AS TIMESTAMP) AS expires_at
FROM deals
WHERE submitted_at IS NULL
  AND payload_cid IS NOT NULL
  AND activated_at_epoch < {SEASONED_EPOCH}
  AND (TIMESTAMP '1970-01-01 00:00:00'
       + INTERVAL ((term_start_epoch + term_min) * {EPOCH_SECONDS}
                   + {GENESIS_UNIX}) SECOND) > TIMESTAMP '{REF_TS}'
""".strip()
