"""Parquet table registry for the synthetic test corpus (TESTDATA.md).

Each scale-factor directory holds one parquet file per table. Loading is a
plain `spark.read.parquet` — columnar scan, predicate pushdown and column
pruning come free from the parquet DataSource (the reference hand-rolls its
columnar path via `unnest` arrays, deal-observer.js:88-101; here it's native).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# DataFrame plans are immutable and the corpus parquet is static, so the
# reader output is memoized per (session, sf_dir, table). Without this every
# query's deals_df() re-ran spark.read.parquet — file listing + footer
# schema read + a py4j round-trip per table — which dominated sub-second
# queries (~1 s of pure setup per bench query at sf0.1). Values hold the
# session object so a dead session's id() can't alias a new one.
_DF_CACHE: dict[tuple[int, str, str], tuple[SparkSession, DataFrame]] = {}
_VIEWS_REGISTERED: dict[int, tuple[SparkSession, str]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (id(spark), sf_dir, name)
    hit = _DF_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    apply_runtime_conf(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # TIMESTAMP(NANOS) parquet columns arrive as long nanos under
    # spark.sql.legacy.parquet.nanosAsLong; normalize to micro-precision
    # TIMESTAMP_NTZ (`ts div 1000` stays in integer space — double math would
    # lose precision above 2^53 ns). NTZ matches how Spark's parquet reader
    # infers the corpus's other (naive) timestamp columns and keeps collected
    # values independent of the driver's host timezone; DuckDB truncates
    # ns→us the same way.
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    _DF_CACHE[key] = (spark, df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (idempotent, lazy).

    Also pins runtime confs (UTC session timezone) so queries behave the same
    under an externally created SparkSession (the driver's). Re-registration
    is skipped while the same session keeps asking for the same sf_dir; a
    different sf_dir re-points every view.
    """
    prev = _VIEWS_REGISTERED.get(id(spark))
    if prev is not None and prev[0] is spark and prev[1] == sf_dir:
        return
    apply_runtime_conf(spark)
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_REGISTERED[id(spark)] = (spark, sf_dir)
