"""SparkSession construction tuned for this engine.

The reference runs a single-threaded Node process and delegates planning to
PostgreSQL (SURVEY.md §4). Here all planning is Catalyst's; this module only
sets the knobs that matter at scale: AQE (runtime re-planning + skew-join
splitting), a shuffle-partition count sized to the test harness, Arrow for
every pandas-UDF boundary, and a UTC session so epoch math is deterministic
across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to Python workers via addPyFile.

    mapInPandas/pandas-UDF closures reference this package by module name;
    an externally launched driver (arbitrary cwd, package not installed)
    would otherwise hit ModuleNotFoundError in the UDF worker processes.
    """
    sc = spark.sparkContext
    if getattr(sc, "_sdo_pyfile_added", False):
        return
    import shutil
    import tempfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_base = os.path.join(tempfile.gettempdir(), f"sdo_pkg_{os.getpid()}")
    zip_path = shutil.make_archive(
        zip_base, "zip", root_dir=pkg_root, base_dir="spark_deal_observer_spark"
    )
    sc.addPyFile(zip_path)
    sc._sdo_pyfile_added = True


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Set runtime-mutable confs on an externally provided session.

    The driver hands us its own SparkSession; timezone determinism and AQE
    must still hold there.
    """
    ensure_worker_imports(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        # events.ts is parquet TIMESTAMP(NANOS); Spark's vectorized reader
        # rejects it outright — read as long nanos, normalized to a micros
        # timestamp in sources.tables.load_table.
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some builds; harmless
    return spark


def get_spark(app_name: str = "spark-deal-observer-spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cpus = default_parallelism()
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # r9 (guide §1.2 step 3, measured): the janino codegen cache is a
        # STATIC conf defaulting to 100 entries JVM-wide. The melted gate
        # suites alone generate hundreds of WholeStageCodegen fragments, so
        # every warm run recompiled its whole plan (tpch_agg_suite warm
        # 6.2 → 5.0 s at 5000 entries, event_analytics −20%; A/B in
        # OPTIMIZATION_r09.md). Scale-neutral: a long-lived production
        # driver wants the same — the cache holds generated classes, ~KBs
        # each, bounded at 5000. Env-overridable for small-heap drivers.
        .config(
            "spark.sql.codegen.cache.maxEntries",
            os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "5000"),
        )
    )
    return apply_runtime_conf(builder.getOrCreate())
