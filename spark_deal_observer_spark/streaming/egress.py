"""Egress loop: submit eligible deals to an external API in bounded batches.

Reference (backend/lib/spark-api-submit-deals.js:15-101): cursor-read
eligible deals 100 at a time, POST each batch, mark successes as submitted,
skip (don't retry) failed batches this pass — at-least-once with partial
failure tolerance (T7).

Spark-first: the eligibility query is the declarative plan, collected to
the driver as Arrow in one job; batches are slices of that table; the POST
is an injected callable so tests (and air-gapped runs) stub it; the mark
sets `submitted_at = now` on the accepted Arrow rows and hands that table
to the sink's merge, which takes it as is, with no second collect. Driver
memory is O(eligible rows) — the rows the tick offers the API, which it
already held in full to mark them. One process talks to the API, so
ordering and counters match the reference exactly.

Per-call retry (reference S3, pRetry×5 in rpc-service/service.js:19-44)
composes by wrapping the poster: `submit_eligible(sink,
with_retries(poster), ...)` (`streaming.transport.with_retries`).
Retry-inside, batch-skip-outside, exactly the reference's layering.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from typing import Any

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..plans.deals import eligible_rows
from .sink import PartitionedDealTableSink

Poster = Callable[[list[dict[str, Any]]], dict[str, int]]
BATCH_SIZE = 100  # SPARK_API_SUBMIT_DEALS_BATCH_SIZE default

_PAYLOAD_COLUMNS = ["miner_id", "client_id", "piece_cid", "piece_size", "payload_cid", "expires_at"]

log = logging.getLogger(__name__)


def submit_eligible(
    sink: PartitionedDealTableSink,
    poster: Poster,
    *,
    now: Column | None = None,
) -> dict[str, int]:
    """One egress tick. Returns {'submitted': n, 'ingested': n, 'skipped': n,
    'failed_batches': n}. An empty table has no eligible rows, so a tick
    before ingest's first commit is a zero tick with no POST.

    Eligible deals are POSTed BATCH_SIZE at a time. A POST that raises
    skips its batch: the exception is logged, the batch counts in
    `failed_batches`, and its deals keep submitted_at NULL, so the next
    tick retries them — the reference's semantics
    (spark-api-submit-deals.js:17-29).

    The tick reads one version of the table and commits its mark as a
    later one; ingest appends and enrichment merges commit meanwhile,
    during the POSTs too. The mark is a merge of the rows the tick read,
    and no other loop changes them — enrichment updates only rows with
    `payload_cid IS NULL`, and these have one — so if another merge
    rewrote one of their files first, the mark re-applies the same rows
    over the latest version (streaming/sink.py's commit rule), with no
    second POST.
    """
    result = {"submitted": 0, "ingested": 0, "skipped": 0, "failed_batches": 0}
    deals = sink.read()
    rows = eligible_rows(deals).toArrow()
    accepted: list[pa.Table] = []
    for start in range(0, rows.num_rows, BATCH_SIZE):
        batch = rows.slice(start, BATCH_SIZE)
        payload = [
            {
                "minerId": f"f0{r['miner_id']}",
                "clientId": f"f0{r['client_id']}",
                "pieceCid": r["piece_cid"],
                "pieceSize": str(r["piece_size"]),  # bigint→string (F10)
                "payloadCid": r["payload_cid"],
                "expiresAt": r["expires_at"].isoformat(),
            }
            for r in batch.select(_PAYLOAD_COLUMNS).to_pylist()
        ]
        try:
            resp = poster(payload)
        except Exception:  # batch skipped, not retried this pass (T7)
            log.exception("egress: POST of %d deals failed, batch skipped", len(payload))
            result["failed_batches"] += 1
            continue
        result["submitted"] += len(payload)
        result["ingested"] += int(resp.get("ingested", len(payload)))
        result["skipped"] += int(resp.get("skipped", 0))
        accepted.append(batch)

    if accepted:
        flag = now if now is not None else F.current_timestamp().cast("timestamp_ntz")
        # over a one-row local relation the optimizer folds `flag` to a
        # value: evaluating it runs no Spark job
        stamp = sink.spark.createDataFrame(pa.table({"x": [0]})).select(flag).first()[0]
        marked = pa.concat_tables(accepted).select(deals.columns)
        i = marked.schema.get_field_index("submitted_at")
        stamps = pa.array([stamp] * marked.num_rows, marked.schema.field(i).type)
        sink.merge_overwrite(marked.set_column(i, "submitted_at", stamps), ["id"])
    return result
