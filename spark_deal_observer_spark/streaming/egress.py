"""Egress loop: submit eligible deals to an external API in bounded batches.

Reference (backend/lib/spark-api-submit-deals.js:15-101): cursor-read
eligible deals 100 at a time, POST each batch, mark successes as submitted,
skip (don't retry) failed batches this pass — at-least-once with partial
failure tolerance (T7).

Spark-first: the eligibility query is the declarative plan; batches come
from `toLocalIterator` (a true cursor — one partition in flight at a time,
no full collect); the POST is an injected callable so tests (and air-gapped
runs) stub it; mark-submitted is the broadcast-id merge.

Two variants of the same tick:
  * `submit_eligible` — driver-side cursor, the reference's literal shape
    (one process talks to the API; ordering and counters exactly match).
  * `submit_eligible_distributed` — the 100 TB shape: each executor
    partition posts its own batches through `mapInPandas` and emits the ids
    that succeeded; the merge then flags exactly those. N partitions post
    concurrently, nothing but ids ever returns to the driver.

Per-call retry (reference S3, pRetry×5 in rpc-service/service.js:19-44)
composes by wrapping the poster: `submit_eligible(sink,
with_retries(poster), ...)` — `streaming.transport.with_retries` is
picklable, so the same wrapper rides into the distributed variant's
executor closures. Retry-inside, batch-skip-outside, exactly the
reference's layering.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.deals import eligible_deals
from .sink import DealTableSink

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
    sink: DealTableSink,
    poster: Poster,
    *,
    now: Column | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    eligible: Callable[[DataFrame], DataFrame] = eligible_deals,
) -> dict[str, int]:
    """One egress tick. Returns {'submitted': n, 'ingested': n, 'skipped': n,
    'failed_batches': n}.

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
    from .concurrency import table_lock

    # Lock key = the sink's table identity: parquet sinks expose `path`,
    # catalog sinks a `table` name — both unique per table per process.
    with table_lock(getattr(sink, "path", None) or sink.table):
        return _submit_eligible_locked(
            sink, poster, now=now, batch_size=batch_size, eligible=eligible
        )


def _submit_eligible_locked(
    sink: DealTableSink,
    poster: Poster,
    *,
    now: Column | None,
    batch_size: int,
    eligible: Callable[[DataFrame], DataFrame],
) -> dict[str, int]:
    deals = sink.read()
    todo = eligible(deals)

    result = {"submitted": 0, "ingested": 0, "skipped": 0, "failed_batches": 0}
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


def submit_eligible_distributed(
    sink: DealTableSink,
    poster: Poster,
    *,
    now: Column | None = None,
    batch_size: int = DEFAULT_BATCH_SIZE,
    eligible: Callable[[DataFrame], DataFrame] = eligible_deals,
) -> dict[str, int]:
    """One egress tick with executor-side POSTs (the scale path).

    `poster` is serialized to the workers (it must be picklable and safe to
    call concurrently from N partitions). Partial failure keeps the
    reference's semantics: a failed batch is logged (in the executor's log)
    and counted in `failed_batches`, yields no ids, its deals stay
    unflagged, and the next tick retries them."""

    def post_partition(it):
        import pandas as pd

        for pdf in it:
            for start in range(0, len(pdf), batch_size):
                chunk = pdf.iloc[start : start + batch_size]
                payload = [
                    {
                        "minerId": f"f0{r.miner_id}",
                        "clientId": f"f0{r.client_id}",
                        "pieceCid": r.piece_cid,
                        "pieceSize": str(r.piece_size),
                        "payloadCid": r.payload_cid,
                        "expiresAt": r.expires_at.isoformat(),
                    }
                    for r in chunk.itertuples()
                ]
                try:
                    resp = poster(payload)
                except Exception:  # batch skipped, not retried this pass (T7)
                    log.exception("egress: POST of %d deals failed, batch skipped", len(chunk))
                    # one id-less row carries the failure to the counters
                    yield pd.DataFrame(
                        {"id": [None], "ingested": [0], "skipped": [0], "failed": [1]}
                    )
                    continue
                n = len(chunk)
                # batch-level counters ride on the first row only, so a plain
                # column sum downstream counts each batch once
                ingested = [int(resp.get("ingested", n))] + [0] * (n - 1)
                skipped = [int(resp.get("skipped", 0))] + [0] * (n - 1)
                yield pd.DataFrame(
                    {"id": chunk["id"], "ingested": ingested, "skipped": skipped, "failed": 0}
                )

    deals = sink.read()
    todo = eligible(deals)
    ok = todo.mapInPandas(post_partition, "id long, ingested int, skipped int, failed int")
    # Materialize the POSTing pass exactly ONCE and truncate its lineage:
    # both downstream consumers (the counter aggregate and the mark-submitted
    # semi-join) read the checkpointed result, so the poster can never fire
    # twice for one tick — and nothing row-shaped ever crosses to the driver
    # (per-row collect() here would bottleneck the driver at 100× the
    # reference's eligible-deal volume; only four counters come back).
    ok = ok.localCheckpoint(eager=True)
    counters = ok.agg(
        F.count("id").alias("submitted"),
        F.coalesce(F.sum("ingested"), F.lit(0)).alias("ingested"),
        F.coalesce(F.sum("skipped"), F.lit(0)).alias("skipped"),
        F.coalesce(F.sum("failed"), F.lit(0)).alias("failed_batches"),
    ).collect()[0]
    result = {k: int(v) for k, v in counters.asDict().items()}
    if result["submitted"]:
        flag = now if now is not None else F.current_timestamp().cast("timestamp_ntz")
        updates = deals.join(F.broadcast(ok.select("id")), "id", "left_semi").withColumn(
            "submitted_at", flag
        )
        sink.merge_overwrite(updates.select(*deals.columns), ["id"])
    return result
