"""Streaming form of the CUSUM monitor: the hourly grain of
`hypertable_rollup` is a lossless partial (count→sum), so hourly rollups
built per micro-batch, sum-merged, densified and scored by
`score_hourly_cusum` must equal the batch operator over the same
events."""

from __future__ import annotations

from functools import reduce

from conftest import SF_SMALL
from pyspark.sql import functions as F

from spark_deal_observer_spark.operators.intervals import (
    densify_hourly,
    event_cusum_changepoint,
    hypertable_rollup,
    score_hourly_cusum,
)
from spark_deal_observer_spark.sources.tables import load_table


def _rows(df):
    return {
        (r["event_type"], r["bucket_ts"]): (
            r["n_events"], r["cusum_pos"], r["cusum_neg"],
            r["alarm_pos"], r["alarm_neg"],
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


def test_streamed_cusum_equals_batch_operator(spark):
    events = load_table(spark, SF_SMALL, "events")
    batches = [events.where(F.col("event_id") % 3 == i) for i in range(3)]
    streamed = score_hourly_cusum(densify_hourly(_merged_hourly(batches)))
    assert _rows(streamed) == _rows(event_cusum_changepoint(events))
