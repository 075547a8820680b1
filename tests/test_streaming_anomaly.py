"""Streaming form of the anomaly monitor: the hourly grain of
`hypertable_rollup` is a lossless partial (count→sum), so hourly rollups
built per micro-batch and sum-merged, then scored by
`score_hourly_anomalies`, must equal the batch operator over the same
events."""

from __future__ import annotations

from functools import reduce

from conftest import SF_SMALL
from pyspark.sql import functions as F

from spark_deal_observer_spark.operators.intervals import (
    event_anomaly_zscore,
    hypertable_rollup,
    score_hourly_anomalies,
)
from spark_deal_observer_spark.sources.tables import load_table


def _rows(df):
    return {
        (r["event_type"], r["bucket_ts"]): (
            r["n_events"], r["base_mean"], r["base_std"], r["z"], r["is_anomaly"]
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


def test_streamed_scores_equal_batch_operator(spark):
    events = load_table(spark, SF_SMALL, "events")
    batches = [events.where(F.col("event_id") % 3 == i) for i in range(3)]
    streamed = score_hourly_anomalies(_merged_hourly(batches))
    assert _rows(streamed) == _rows(event_anomaly_zscore(events))
