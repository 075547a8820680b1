"""The payload-resolution retry state machine (reference T5), Spark-first.

Reference (backend/lib/resolve-payload-cids.js:32-55 + db/lib/types.js:3-10):
each deal walks NOT_QUERIED → (RESOLVED | UNRESOLVED) → after a ≥3-day-old
failed attempt, one retry → (RESOLVED | TERMINALLY_UNRETRIEVABLE). The
reference iterates deals one by one, calling two external services with an
LRU cache; here the whole tick is ONE dataflow:

    work queue (P4 filter + oldest-first limit)
      → broadcast join against the peer dimension (the LRU cache's analog)
      → broadcast join against the payload dimension (the piece indexer)
      → state-transition column expressions
      → the attempted rows, which the caller merges into the state table
        (`sink.merge_overwrite`, or `merge_update` over a frame)

No per-row RPC, no Python in the loop — the dimension tables stand in for
the external services exactly the way the reference's own test doubles do
(backend/test/resolve-payload-cids.test.js:150-166). At scale, a cold
dimension would be a `mapInPandas` with an executor-local cache; the state
table partitioning keeps the merge anti-join co-located.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NOT_QUERIED = "PAYLOAD_CID_NOT_QUERIED_YET"
UNRESOLVED = "PAYLOAD_CID_UNRESOLVED"
RESOLVED = "PAYLOAD_CID_RESOLVED"
TERMINAL = "PAYLOAD_CID_TERMINALLY_UNRETRIEVABLE"

RETRY_BACKOFF_DAYS = 3  # resolve-payload-cids.js:20,34


def work_queue(deals: DataFrame, now: Column, max_deals: int | None = 1000) -> DataFrame:
    """Deals eligible for a resolution attempt this tick (predicate P4 +
    oldest-first bound, resolve-payload-cids.js:63-66).

    `max_deals=None` means "attempt everything eligible" and skips the
    sort+limit entirely — important, because the top-k plan keeps an O(k)
    priority queue per task, so passing a huge sentinel limit (instead of
    None) allocates that queue for real and can OOM the executors."""
    cutoff = now - F.expr(f"INTERVAL {RETRY_BACKOFF_DAYS} DAYS")
    state = F.col("payload_retrievability_state")
    filtered = deals.where(
        F.col("payload_cid").isNull()
        & ((state == NOT_QUERIED) | (state == UNRESOLVED))
        & (
            F.col("last_payload_retrieval_attempt").isNull()
            | (F.col("last_payload_retrieval_attempt") < cutoff)
        )
    )
    if max_deals is None:
        return filtered
    return filtered.orderBy(F.col("activated_at_epoch").asc(), F.col("id").asc()).limit(
        max_deals
    )


def resolve_tick(
    deals: DataFrame,
    miner_peers: DataFrame,  # (miner_id, peer_id)
    payload_cids: DataFrame,  # (peer_id, piece_cid, payload_cid)
    now: Column,
    max_deals: int | None = 1000,
) -> DataFrame:
    """One enrichment tick: returns ONLY the attempted rows — one per
    work-queue deal, so at most `max_deals` — in their post-transition
    state and with the `deals` schema. Merge them by `id` to get the next
    state table: `merge_update(deals, out, ["id"])` over frames, or
    `sink.merge_overwrite(out, ["id"])` against a stored table.

    State transitions (resolve-payload-cids.js:40-51):
      payload found                        → RESOLVED, payload_cid set
      miss, first failure (NOT_QUERIED)    → UNRESOLVED
      miss, retry failure (UNRESOLVED)     → TERMINALLY_UNRETRIEVABLE
    Every attempted row gets last_payload_retrieval_attempt = now.
    """
    queue = work_queue(deals, now, max_deals)

    enriched = (
        queue.join(F.broadcast(miner_peers), on="miner_id", how="left")
        .join(
            F.broadcast(payload_cids.withColumnRenamed("payload_cid", "found_payload")),
            on=["peer_id", "piece_cid"],
            how="left",
        )
    )

    state = F.col("payload_retrievability_state")
    found = F.col("found_payload").isNotNull()
    new_state = (
        F.when(found, RESOLVED)
        .when(state == UNRESOLVED, TERMINAL)
        .otherwise(UNRESOLVED)
    )
    return enriched.select(
        *[c for c in deals.columns if c not in
          ("payload_cid", "payload_retrievability_state", "last_payload_retrieval_attempt")],
        F.when(found, F.col("found_payload")).alias("payload_cid"),
        new_state.alias("payload_retrievability_state"),
        now.alias("last_payload_retrieval_attempt"),
    ).select(*deals.columns)


def state_counts(deals: DataFrame) -> DataFrame:
    """The reference's per-loop metrics (A2, 5 filtered counts → one pass)."""
    return deals.groupBy("payload_retrievability_state").agg(F.count("*").alias("n"))
