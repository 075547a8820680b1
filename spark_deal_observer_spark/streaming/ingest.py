"""Structured Streaming ingest: the reference's observe loop as one query.

Reference loop (backend/bin/deal-observer-backend.js:43-74): every 10 s,
read new epochs from the chain (bounded by finality lag and a max replay
window), decode, dedup-insert. The Spark-native shape (SURVEY.md §2.7):

  file/Kafka source  →  event-time watermark (finality lag T2)
                     →  dropDuplicatesWithinWatermark (in-flight dedup)
                     →  deal reshape (same DEAL_SELECT_EXPRS as batch)
                     →  foreachBatch append_dedup (idempotent sink, T6)

The checkpoint replaces the reference's MAX(activated_at_epoch) resume
cursor (T3): a restarted query resumes from the last committed source
offsets, and replayed batches are no-ops thanks to the keyed anti-join.
`trigger(processingTime='10 seconds')` is the production trigger; tests use
`availableNow` to drain deterministically. `max_files_per_trigger` is the
backpressure bound (T8, the reference's 1999-epoch replay cap analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..plans.deals import DEAL_SELECT_EXPRS
from .sink import PartitionedDealTableSink

# Finality lag: 940 epochs × 30 s ≈ 7 h 50 m (deal-observer-backend.js:29-34).
FINALITY_LAG = "470 minutes"

EVENTS_DDL = (
    "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def read_event_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.schema(EVENTS_DDL)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def deals_stream(events: DataFrame, watermark: str = FINALITY_LAG) -> DataFrame:
    """Event stream → deduplicated deal rows (same derivation as batch).

    Watermarks require an instant-typed event-time column, so the NTZ `ts`
    is cast (session tz is pinned UTC) into a scratch column that exists
    only for the watermark/dedup stage."""
    deduped = (
        events.withColumn("__event_time", F.col("ts").cast("timestamp"))
        .withWatermark("__event_time", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .drop("__event_time")
    )
    return deduped.selectExpr(*DEAL_SELECT_EXPRS)


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
    stream = deals_stream(read_event_stream(spark, source_dir, max_files_per_trigger))
    # observe() = the telemetry hook (reference S11): per-batch row counts
    # surface in StreamingQueryProgress without a second pass.
    stream = stream.observe("ingest", F.count(F.lit(1)).alias("rows"))

    writer = stream.writeStream.queryName("ingest").outputMode("append").foreachBatch(
        lambda batch, _id: sink.append_dedup(batch)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
