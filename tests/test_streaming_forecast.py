"""Streaming form of the forecast monitor: the hourly grain of
`hypertable_rollup` is a lossless partial (count→sum), so hourly rollups
built per micro-batch and sum-merged, then scored by `score_hourly_ewma`,
must equal the batch operator over the same events."""

from __future__ import annotations

from functools import reduce

from conftest import SF_SMALL
from pyspark.sql import functions as F

from spark_deal_observer_spark.operators.intervals import (
    event_ewma_forecast,
    hypertable_rollup,
    score_hourly_ewma,
)
from spark_deal_observer_spark.sources.tables import load_table


def _rows(df):
    return {
        (r["event_type"], r["bucket_ts"]): (
            r["n_events"], r["ewma"], r["forecast"], r["forecast_err"]
        )
        for r in df.collect()
    }


def _merged_hourly(batches):
    parts = (hypertable_rollup(b).where(F.col("grain") == "hour") for b in batches)
    return (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("event_type", "bucket_ts")
        .agg(F.sum("n_events").cast("bigint").alias("n_events"))
    )


def test_streamed_forecast_equals_batch_operator(spark):
    events = load_table(spark, SF_SMALL, "events")
    batches = [events.where(F.col("event_id") % 3 == i) for i in range(3)]
    streamed = score_hourly_ewma(_merged_hourly(batches))
    assert _rows(streamed) == _rows(event_ewma_forecast(events))
