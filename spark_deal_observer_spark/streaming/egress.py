"""Egress loop: submit eligible deals to an external API in bounded batches.

Reference (backend/lib/spark-api-submit-deals.js:15-101): cursor-read
eligible deals 100 at a time, POST each batch, mark successes as submitted,
skip (don't retry) failed batches this pass — at-least-once with partial
failure tolerance (T7).

Spark-first: the eligibility query is the declarative plan; batches come
from `toLocalIterator` (a true cursor — one partition in flight at a time,
no full collect); the POST is an injected callable so tests (and air-gapped
runs) stub it; mark-submitted is the broadcast-id merge. One process talks
to the API, so ordering and counters match the reference exactly.

Per-call retry (reference S3, pRetry×5 in rpc-service/service.js:19-44)
composes by wrapping the poster: `submit_eligible(sink,
with_retries(poster), ...)` (`streaming.transport.with_retries`).
Retry-inside, batch-skip-outside, exactly the reference's layering.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.deals import eligible_deals
from .concurrency import table_lock
from .sink import PartitionedDealTableSink

Poster = Callable[[list[dict[str, Any]]], dict[str, int]]
DEFAULT_BATCH_SIZE = 100  # SPARK_API_SUBMIT_DEALS_BATCH_SIZE default

log = logging.getLogger(__name__)


def _batches(rows, size: int):
    buf: list = []
    for r in rows:
        buf.append(r)
        if len(buf) == size:
            yield buf
            buf = []
    if buf:
        yield buf


def submit_eligible(
    sink: PartitionedDealTableSink,
    poster: Poster,
    *,
    now: Column | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    eligible: Callable[[DataFrame], DataFrame] = eligible_deals,
) -> dict[str, int]:
    """One egress tick. Returns {'submitted': n, 'ingested': n, 'skipped': n,
    'failed_batches': n}, all zero with no POST while the table does not
    exist yet.

    A POST that raises skips its batch: the exception is logged, the batch
    counts in `failed_batches`, and its deals keep submitted_at NULL, so
    the next tick retries them — the reference's semantics
    (spark-api-submit-deals.js:17-29).

    The whole read-eligible → POST → mark-submitted span holds the table
    lock: under the reference's concurrent three-loop deployment, an
    enrichment merge landing between our read and our mark would base the
    mark's rewrite on rows the merge already replaced (lost update) —
    the span lock serializes ticks, and its reentrancy makes the nested
    merge_overwrite acquisition free (streaming/concurrency.py).
    """
    with table_lock(sink.path):
        return _submit_eligible_locked(
            sink, poster, now=now, batch_size=batch_size, eligible=eligible
        )


def _submit_eligible_locked(
    sink: PartitionedDealTableSink,
    poster: Poster,
    *,
    now: Column | None,
    batch_size: int,
    eligible: Callable[[DataFrame], DataFrame],
) -> dict[str, int]:
    result = {"submitted": 0, "ingested": 0, "skipped": 0, "failed_batches": 0}
    if not sink.exists():  # ticked before ingest's first commit: no table yet
        return result
    deals = sink.read()
    todo = eligible(deals)
    ok_ids: list[int] = []
    for batch in _batches(todo.toLocalIterator(), batch_size):
        payload = [
            {
                "minerId": f"f0{r['miner_id']}",
                "clientId": f"f0{r['client_id']}",
                "pieceCid": r["piece_cid"],
                "pieceSize": str(r["piece_size"]),  # bigint→string (F10)
                "payloadCid": r["payload_cid"],
                "expiresAt": r["expires_at"].isoformat(),
            }
            for r in batch
        ]
        try:
            resp = poster(payload)
        except Exception:  # batch skipped, not retried this pass (T7)
            log.exception("egress: POST of %d deals failed, batch skipped", len(batch))
            result["failed_batches"] += 1
            continue
        result["submitted"] += len(batch)
        result["ingested"] += int(resp.get("ingested", len(batch)))
        result["skipped"] += int(resp.get("skipped", 0))
        ok_ids.extend(int(r["id"]) for r in batch)

    if ok_ids:
        ids_df = sink.spark.createDataFrame([(i,) for i in ok_ids], "id LONG")
        flag = now if now is not None else F.current_timestamp().cast("timestamp_ntz")
        updates = (
            deals.join(F.broadcast(ids_df), "id", "left_semi")
            .withColumn("submitted_at", flag)
        )
        sink.merge_overwrite(updates.select(*deals.columns), ["id"])
    return result
