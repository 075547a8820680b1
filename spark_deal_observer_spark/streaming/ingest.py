"""Structured Streaming ingest: the reference's observe loop as one query.

Reference loop (backend/bin/deal-observer-backend.js:43-74): every 10 s,
read new epochs from the chain (bounded by finality lag and a max replay
window), decode, dedup-insert. The Spark-native shape (SURVEY.md §2.7) is
a stateless projection:

  file/Kafka source  →  deal reshape (same DEAL_SELECT_EXPRS as batch)
                     →  foreachBatch append_dedup (idempotent sink, T6)

The keyed sink is the only dedup, like the reference's ON CONFLICT DO
NOTHING: the reshape is deterministic per event row, so a re-delivered
event yields the same DEAL_KEY, which the sink drops. No event is dropped
for lateness; the finality bound (T2, the reference's fetch bound
head − 940) is the producer's job, not a stream stage.

The checkpoint replaces the reference's MAX(activated_at_epoch) resume
cursor (T3): a restarted query resumes from the last committed source
offsets, and replayed batches are no-ops thanks to the keyed anti-join.
A checkpoint written by the earlier stateful (watermark-dedup) query does
not resume: Spark 4.1 raises statefulOperatorNotMatchInStateMetadataError.
Give it a new checkpoint location; the full source replay that follows
appends nothing through the keyed sink.
`trigger(processingTime='10 seconds')` is the production trigger; tests use
`availableNow` to drain deterministically. `max_files_per_trigger` is the
backpressure bound (T8, the reference's 1999-epoch replay cap analog).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.deals import DEAL_SELECT_EXPRS, EVENTS_DDL
from .sink import PartitionedDealTableSink


def start_ingest(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    checkpoint_dir: str,
    *,
    available_now: bool = False,
    processing_time: str = "10 seconds",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the ingest query writing into the epoch-partitioned deal
    table: each micro-batch's anti-join reads and appends only the
    partitions the batch intersects — O(batch) per tick regardless of
    table size."""
    sink = PartitionedDealTableSink(spark, table_dir)
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # observe() = the telemetry hook (reference S11): per-batch row counts
    # surface in StreamingQueryProgress without a second pass.
    stream = reader.parquet(source_dir).selectExpr(*DEAL_SELECT_EXPRS).observe(
        "ingest", F.count(F.lit(1)).alias("rows")
    )

    writer = stream.writeStream.queryName("ingest").outputMode("append").foreachBatch(
        lambda batch, _id: sink.append_dedup(batch)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
