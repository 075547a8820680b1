"""Time-interval operators: bucketed range join and multi-granularity rollup.

Two operators relational engines bolt on for time-series workloads
(TimescaleDB's hypertables, Flink's interval joins) re-expressed in the
shapes Spark executes well:

  * interval_range_join — "probe events inside incident windows". The naive
    plan is a BETWEEN theta-join: a BroadcastNestedLoopJoin that compares
    every probe row against every window (O(n·m) — dead at scale). The
    scalable form decomposes each interval into fixed-width time buckets,
    equi-joins on (key, bucket) — a plain shuffled hash join — and applies
    the exact BETWEEN as a residual filter. Cost becomes
    O(windows · buckets_per_window + matches).
  * hypertable_rollup — the continuous-aggregate ladder: the fine grain
    (hour) is aggregated once from raw data, and every coarser grain (day)
    is computed FROM THE HOURLY PARTIALS, not by rescanning the corpus —
    sum/count re-aggregate losslessly. One corpus-sized shuffle total; the
    day pass shuffles only the hourly rows (24× smaller).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.epoch import _UNIX_NTZ, trunc_ntz

# Incident-window parameters for the registered query: error events open a
# 30-minute window on the same user; bucket width equals window width so
# each window spans at most 2 buckets.
WINDOW_MIN = 30
BUCKET_SECONDS = WINDOW_MIN * 60


def interval_range_join(events: DataFrame) -> DataFrame:
    """Probe events falling inside same-user error windows.

    Every 'error' event opens a [ts, ts + 30 min] window for its user; the
    result pairs each window with the same user's later 'purchase' events
    inside it: (error_event_id, event_id, user_id).

    The window side explodes into its covered time buckets (≤ 2 per window
    since bucket width = window width); the probe side computes its single
    bucket; the join is an equi-join on (user_id, bucket) with the exact
    BETWEEN as a residual predicate — no nested-loop join anywhere in the
    plan. A probe row matching a window through both its buckets would
    duplicate, so the pair is deduplicated on the two event ids.
    """
    errors = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_event_id"),
        F.col("user_id").alias("w_user_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr(f"INTERVAL {WINDOW_MIN} MINUTES")).alias("w_end"),
    )
    # Bucket index = wall-clock seconds since the unix origin div width.
    # timestamp_diff over TIMESTAMP_NTZ is timezone-independent (the same
    # discipline as functions/epoch.py); unix_timestamp would re-interpret
    # NTZ values in the session timezone.
    def bucket_of(col: str):
        secs = F.timestamp_diff("SECOND", F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'"), F.col(col))
        return F.floor(secs / F.lit(BUCKET_SECONDS)).cast("bigint")

    win_buckets = errors.select(
        "*",
        F.explode(F.sequence(bucket_of("w_start"), bucket_of("w_end"))).alias("bucket"),
    )
    probes = events.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("p_ts"),
        bucket_of("ts").alias("bucket"),
    )
    return (
        probes.join(
            win_buckets,
            (probes.user_id == win_buckets.w_user_id)
            & (probes.bucket == win_buckets.bucket),
        )
        .where((F.col("p_ts") > F.col("w_start")) & (F.col("p_ts") <= F.col("w_end")))
        .select("error_event_id", "event_id", "user_id")
        .dropDuplicates(["error_event_id", "event_id"])
    )


def interval_range_join_oracle() -> str:
    # The oracle states the SEMANTICS (plain BETWEEN theta-join); the Spark
    # plan proves the bucketed decomposition computes the same relation.
    return f"""
        SELECT w.error_event_id, p.event_id, p.user_id
        FROM (SELECT event_id AS error_event_id, user_id, ts AS w_start,
                     ts + INTERVAL {WINDOW_MIN} MINUTE AS w_end
              FROM events WHERE event_type = 'error') w
        JOIN (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
          ON p.user_id = w.user_id AND p.ts > w.w_start AND p.ts <= w.w_end
    """


def hypertable_rollup(events: DataFrame) -> DataFrame:
    """Hour + day continuous aggregates per event_type in one result.

    (grain, event_type, bucket_ts, n_events, sum_value): the hourly grain
    aggregates the raw stream once; the daily grain re-aggregates the
    HOURLY rows (count→sum, sum→sum are lossless partial merges), touching
    24× less data than a second raw scan. ROUND pins the double sum to a
    representable value on both engines.
    """
    hourly_raw = (
        events.groupBy("event_type", trunc_ntz("hour", "ts").alias("bucket_ts"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value_raw"))
    )
    hourly = hourly_raw.select(
        F.lit("hour").alias("grain"),
        "event_type",
        "bucket_ts",
        "n_events",
        F.round("sum_value_raw", 4).alias("sum_value"),
    )
    daily = (
        hourly_raw.groupBy(
            "event_type", trunc_ntz("day", "bucket_ts").alias("bucket_ts")
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value_raw"), 4).alias("sum_value"),
        )
        .select(F.lit("day").alias("grain"), "event_type", "bucket_ts", "n_events", "sum_value")
    )
    return hourly.unionByName(daily)


def rollup_backfill(events: DataFrame) -> DataFrame:
    """Incremental continuous-aggregate repair for LATE data: merge a late
    slice into the standing hourly rollup, touching ONLY the buckets the
    late rows land in — the incremental-view-maintenance contract that
    makes out-of-order repair cost proportional to the late data, never a
    corpus rescan.

    The late slice is a deterministic stand-in (every event with
    event_id % 10 == 0 "arrived late"); count/sum are lossless partial
    merges, so merged = base ⊕ late is exact. Output: corrected
    (event_type, bucket_ts, n_events, sum_value) for touched buckets only,
    plus n_late for repair accounting.

    Scale shape: the late side aggregates to its own (small) bucket set;
    the base side is semi-pruned by a BROADCAST of the late bucket keys
    before it ever joins (at production scale the base rollup is a stored
    table and the semi-join is a partition-pruning scan), then the merge
    is a broadcast left join from the late buckets. Nothing downstream of
    the two grouped aggregates is corpus-sized. The oracle mirrors the
    merge STRUCTURE (base partial + late partial), keeping float addition
    order identical across engines."""
    late_pred = F.col("event_id") % 10 == 0
    hour = trunc_ntz("hour", "ts")
    base = (
        events.where(~late_pred)
        .groupBy("event_type", hour.alias("bucket_ts"))
        .agg(F.count("*").alias("n_base"), F.sum("value").alias("s_base"))
    )
    lt = (
        events.where(late_pred)
        .groupBy("event_type", hour.alias("bucket_ts"))
        .agg(F.count("*").alias("n_late"), F.sum("value").alias("s_late"))
    )
    touched = base.join(
        F.broadcast(lt.select("event_type", "bucket_ts")),
        ["event_type", "bucket_ts"],
        "semi",
    )
    return (
        lt.join(F.broadcast(touched), ["event_type", "bucket_ts"], "left")
        .select(
            "event_type",
            "bucket_ts",
            (F.coalesce("n_base", F.lit(0)) + F.col("n_late")).alias("n_events"),
            F.round(
                F.coalesce("s_base", F.lit(0.0)) + F.col("s_late"), 4
            ).alias("sum_value"),
            "n_late",
        )
    )


def rollup_backfill_oracle() -> str:
    return """
        WITH base AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                 CAST(count(*) AS BIGINT) AS n_base, sum(value) AS s_base
          FROM events WHERE event_id % 10 <> 0
          GROUP BY event_type, date_trunc('hour', ts)),
        lt AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                 CAST(count(*) AS BIGINT) AS n_late, sum(value) AS s_late
          FROM events WHERE event_id % 10 = 0
          GROUP BY event_type, date_trunc('hour', ts))
        SELECT lt.event_type, CAST(lt.bucket_ts AS TIMESTAMP) AS bucket_ts,
               COALESCE(base.n_base, 0) + lt.n_late AS n_events,
               ROUND(COALESCE(base.s_base, 0) + lt.s_late, 4) AS sum_value,
               lt.n_late
        FROM lt LEFT JOIN base
          ON base.event_type = lt.event_type AND base.bucket_ts = lt.bucket_ts
    """


def hypertable_rollup_oracle() -> str:
    return """
        WITH hourly_raw AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                 CAST(count(*) AS BIGINT) AS n_events, sum(value) AS sum_value_raw
          FROM events GROUP BY event_type, date_trunc('hour', ts))
        SELECT 'hour' AS grain, event_type, CAST(bucket_ts AS TIMESTAMP) AS bucket_ts,
               n_events, ROUND(sum_value_raw, 4) AS sum_value
        FROM hourly_raw
        UNION ALL
        SELECT 'day' AS grain, event_type, CAST(date_trunc('day', bucket_ts) AS TIMESTAMP),
               CAST(sum(n_events) AS BIGINT), ROUND(sum(sum_value_raw), 4)
        FROM hourly_raw GROUP BY event_type, date_trunc('day', bucket_ts)
    """


ANOM_WINDOW = 24   # trailing hours in the baseline
ANOM_MIN_N = 12    # minimum history before scoring
ANOM_Z = 3.0       # |z| flag threshold


def event_anomaly_zscore(events: DataFrame) -> DataFrame:
    """(event_type, bucket_ts, n_events, base_mean, base_std, z,
    is_anomaly): rolling z-score anomaly detection over the hourly event
    counts — each hour scored against the mean/std of its own trailing
    ANOM_WINDOW hours (exclusive), flagged at |z| ≥ ANOM_Z, unscored
    (NULL z) until ANOM_MIN_N history rows exist or when the baseline is
    flat (std = 0). The ops-monitoring classic over the same hourly
    partials the rollup ladder maintains.

    One corpus shuffle for the hourly counts; the window runs over the
    BUCKET table (|event_type| × hours — time-bounded, never
    corpus-bounded), partitioned by event_type. ROUND(6) on mean/std/z
    pins cross-engine float parity."""
    hourly = events.groupBy(
        "event_type", trunc_ntz("hour", "ts").alias("bucket_ts")
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    return score_hourly_anomalies(hourly)


def score_hourly_anomalies(hourly: DataFrame) -> DataFrame:
    """The z-score window over any (event_type, bucket_ts, n_events)
    hourly table — the scoring half of the batch query above."""
    over = (
        "OVER (PARTITION BY event_type ORDER BY bucket_ts"
        f" ROWS BETWEEN {ANOM_WINDOW} PRECEDING AND 1 PRECEDING)"
    )
    scored = hourly.selectExpr(
        "event_type",
        "bucket_ts",
        "CAST(n_events AS BIGINT) AS n_events",
        f"count(n_events) {over} AS hist_n",
        f"round(avg(n_events) {over}, 6) AS base_mean",
        f"round(stddev_samp(n_events) {over}, 6) AS base_std",
    )
    z = (
        f"CASE WHEN hist_n >= {ANOM_MIN_N} AND base_std > 0"
        " THEN round((n_events - base_mean) / base_std, 6) END"
    )
    return scored.selectExpr(
        "event_type",
        "bucket_ts",
        "n_events",
        "base_mean",
        "base_std",
        f"{z} AS z",
        f"COALESCE(abs({z}) >= {ANOM_Z!r}D, FALSE) AS is_anomaly",
    )


EWMA_ALPHA = 0.25  # (1-α) = 0.75 = 3·2⁻²: every power is an EXACT double
EWMA_K = 8  # truncated horizon: weights beyond (1-α)⁸ ≈ 0.1 are noise here


def _ewma_weights(k: int = EWMA_K, alpha: float = EWMA_ALPHA) -> list[float]:
    return [(1 - alpha) ** j for j in range(k)]


def event_ewma_forecast(events: DataFrame) -> DataFrame:
    """(event_type, bucket_ts, n_events, ewma, forecast, forecast_err):
    windowed EWMA smoothing + one-step-ahead forecast over the hourly
    event counts — the load-forecasting companion of the z-score monitor,
    over the same bucket table (reference analog: the observer's
    telemetry counters are the raw series an operator watches;
    spark-evaluate-deals.js:21-34 emits them per loop).

    The EWMA is the K-term TRUNCATED form: weights (1-α)^j over the
    trailing K buckets including the current, normalized by the weights
    actually present at the series head — a pure composition of window
    LAGs rather than a recursion, so both engines evaluate the identical
    left-to-right IEEE sum and oracle parity is exact. α = 0.25 makes
    every weight an exact binary double ((3/4)^j), so no rounding is
    needed inside the sum; the smoothed value rounds once at 6 dp. The
    forecast for a bucket is the PREVIOUS bucket's smoothed value
    (one-step-ahead), and forecast_err = n_events − forecast is the
    residual a capacity planner alarms on.

    Plan: one corpus shuffle for the hourly counts, then window
    arithmetic over the |event_type| × hours bucket table — the weights
    unroll at plan-build into literal doubles (codegen'd), never an
    interpreted HOF."""
    hourly = events.groupBy(
        "event_type", trunc_ntz("hour", "ts").alias("bucket_ts")
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    return score_hourly_ewma(hourly)


def score_hourly_ewma(hourly: DataFrame) -> DataFrame:
    """The EWMA/forecast window over any (event_type, bucket_ts,
    n_events) hourly table — the scoring half of the batch query above
    (the anomaly scorer's pattern).

    r9: the unrolled weight terms are generated as ONE SQL string per
    expression (the oracle generator's pattern) instead of a Column-
    object fold — the analyzed expression tree is identical (weights are
    shortest-repr round-trip doubles, `D` suffix keeps them DoubleType)
    and plan-build drops from ~12 py4j round trips per term to one call
    per selectExpr (OPTIMIZATION_r09.md)."""
    over = "OVER (PARTITION BY event_type ORDER BY bucket_ts)"
    num_terms, den_terms = [], []
    for j, wt in enumerate(_ewma_weights()):
        lag = f"lag(n_events, {j}) {over}" if j else "n_events"
        num_terms.append(f"COALESCE(CAST({lag} AS DOUBLE) * {wt!r}D, 0.0D)")
        den_terms.append(f"CASE WHEN {lag} IS NOT NULL THEN {wt!r}D ELSE 0.0D END")
    smoothed = hourly.selectExpr(
        "event_type",
        "bucket_ts",
        "n_events",
        f"round(({' + '.join(num_terms)}) / ({' + '.join(den_terms)}), 6) AS ewma",
    )
    return smoothed.selectExpr(
        "event_type",
        "bucket_ts",
        "n_events",
        "ewma",
        f"lag(ewma) {over} AS forecast",
        f"round(n_events - lag(ewma) {over}, 6) AS forecast_err",
    )


def event_ewma_forecast_oracle() -> str:
    num_terms = []
    den_terms = []
    for j, wt in enumerate(_ewma_weights()):
        lag = f"lag(n_events, {j}) OVER w" if j else "n_events"
        num_terms.append(
            f"COALESCE(CAST({lag} AS DOUBLE) * {wt!r}, 0.0)"
        )
        den_terms.append(
            f"CASE WHEN {lag} IS NOT NULL THEN {wt!r} ELSE 0.0 END"
        )
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
        WITH ewma_hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events GROUP BY event_type, date_trunc('hour', ts)),
        ewma_smoothed AS (
          SELECT event_type, CAST(bucket_ts AS TIMESTAMP) AS bucket_ts,
                 n_events,
                 ROUND(({num}) / ({den}), 6) AS ewma
          FROM ewma_hourly
          WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts))
        SELECT event_type, bucket_ts, n_events, ewma,
               lag(ewma) OVER w2 AS forecast,
               ROUND(n_events - lag(ewma) OVER w2, 6) AS forecast_err
        FROM ewma_smoothed
        WINDOW w2 AS (PARTITION BY event_type ORDER BY bucket_ts)
    """


def event_anomaly_zscore_oracle() -> str:
    return f"""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events GROUP BY event_type, date_trunc('hour', ts)),
        scored AS (
          SELECT event_type, CAST(bucket_ts AS TIMESTAMP) AS bucket_ts,
                 n_events,
                 count(n_events) OVER w AS hist_n,
                 ROUND(avg(n_events) OVER w, 6) AS base_mean,
                 ROUND(stddev_samp(n_events) OVER w, 6) AS base_std
          FROM hourly
          WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
                       ROWS BETWEEN {ANOM_WINDOW} PRECEDING AND 1 PRECEDING))
        SELECT event_type, bucket_ts, n_events, base_mean, base_std,
               CASE WHEN hist_n >= {ANOM_MIN_N} AND base_std > 0
                    THEN ROUND((n_events - base_mean) / base_std, 6) END AS z,
               COALESCE(abs(CASE WHEN hist_n >= {ANOM_MIN_N} AND base_std > 0
                    THEN ROUND((n_events - base_mean) / base_std, 6) END)
                    >= {ANOM_Z}, FALSE) AS is_anomaly
        FROM scored
    """


# -- classical seasonal decomposition -----------------------------------------

SEAS_PERIOD = 24  # hour-of-day seasonality over the hourly rollup
SEAS_HALF = SEAS_PERIOD // 2


def event_seasonal_decompose(events: DataFrame) -> DataFrame:
    """(event_type, bucket_ts, n_events, hod, trend, seasonal, remainder):
    classical additive decomposition of the hourly event-count series —
    trend by 2×24 centered moving average, hour-of-day seasonal index by
    period-averaging the detrended series, remainder as what's left over.
    The capacity-planning companion of `event_ewma_forecast`: the EWMA
    tracks level, this separates the daily shape from it (Hyndman &
    Athanasopoulos, *Forecasting: Principles and Practice*, "classical
    decomposition"; reference analog: the observer's telemetry counters
    are the series — spark-evaluate-deals.js:21-34).

    Exactness discipline (the EWMA rule): aggregates run over exact
    integers for as long as possible. The DOUBLED MA numerator
    (num2 = x[-12] + 2·Σ_{j=-11..+11} x[j] + x[+12]) and the ×48-scaled
    detrended series (48·x − num2) are BIGINTs, so the per-slot seasonal
    index is ONE division of exact integers — no float summation order
    exists for the engines to disagree on. The hourly series is
    DENSIFIED first (missing hours carry their true count, zero), so the
    row window IS the calendar window; lag/lead terms are then NOT
    coalesced, and a missing neighbour nulls num2 exactly at the series
    ends — the classical full-window rule (trend undefined within half a
    period of either end). The seasonal index is the plain period average of the
    detrended series (uncentered — the remainder is zero-mean per slot by
    construction, and no float mean-of-means enters the plan). Each
    output column rounds exactly once, at 6 dp.

    Plan: one corpus shuffle to the hourly rollup, one window pass for
    the MA (25 unrolled lag/lead terms, codegen'd), one |types|×24
    aggregate joined back — after the first shuffle everything is
    |types|×hours rows, metadata-sized at any SF."""
    hourly = (
        events.groupBy("event_type", trunc_ntz("hour", "ts").alias("bucket_ts"))
        .agg(F.count("*").cast("bigint").alias("n_events"))
        .localCheckpoint(eager=False)  # read twice: span scan + dense join
    )
    # DENSIFY before the window: the MA is a calendar construct, and a
    # row-based window over a gappy series silently averages 25 rows
    # spanning >25 wall-clock hours — unbalanced hour-of-day weights, a
    # polluted seasonal index (caught by review; the oracle had the same
    # row window so parity could not see it). Missing hours have a TRUE
    # count of zero, so the dense grid is the honest series. Bucket
    # indices via NTZ integer hours (the trunc_ntz rule).
    dense = densify_hourly(hourly)
    # r9: the 25 unrolled lag/lead terms (and every derived expression)
    # are generated as SQL strings — identical analyzed tree, one py4j
    # call per selectExpr instead of one per Column op.
    over = "OVER (PARTITION BY event_type ORDER BY bucket_ts)"
    terms = []
    for j in range(-SEAS_HALF, SEAS_HALF + 1):
        if j == 0:
            lag = "n_events"
        elif j < 0:
            lag = f"lag(n_events, {-j}) {over}"
        else:
            lag = f"lead(n_events, {j}) {over}"
        terms.append(f"({lag} * {1 if abs(j) == SEAS_HALF else 2})")
    num2_sql = " + ".join(terms)
    # hour-of-day via NTZ integer arithmetic (the trunc_ntz rule: extraction
    # functions coerce instant inputs through the session timezone; hours
    # since the NTZ origin are wall-clock by construction)
    hod_sql = (
        f"CAST(timestampdiff(HOUR, {_UNIX_NTZ}, bucket_ts)"
        f" % {SEAS_PERIOD} AS BIGINT)"
    )
    # |types|×hours rows — checkpointed because BOTH the slot aggregate
    # and the final join read it, and the slot side's detr48 filter breaks
    # exchange reuse (the DSIR pushdown-fragility class): without the
    # barrier the events scan + hourly aggregate execute twice.
    ma = dense.selectExpr(
        "event_type",
        "bucket_ts",
        "n_events",
        f"{hod_sql} AS hod",
        f"CAST({num2_sql} AS BIGINT) AS num2",
        f"CAST(48 * n_events - ({num2_sql}) AS BIGINT) AS detr48",
    ).localCheckpoint(eager=False)
    slot = ma.where("detr48 IS NOT NULL").groupBy("event_type", "hod").agg(
        F.expr("sum(detr48)").alias("s48"), F.expr("count(*)").alias("c")
    )
    seasonal_sql = "round(s48 / (48.0D * c), 6)"
    out = ma.join(slot, ["event_type", "hod"], "left").selectExpr(
        "event_type",
        "bucket_ts",
        "n_events",
        "hod",
        "round(num2 / 48.0D, 6) AS trend",
        f"{seasonal_sql} AS seasonal",
        f"round(n_events - round(num2 / 48.0D, 6) - {seasonal_sql}, 6)"
        " AS remainder",
    )
    return out


def event_seasonal_decompose_oracle() -> str:
    terms = []
    for j in range(-SEAS_HALF, SEAS_HALF + 1):
        if j == 0:
            lag = "n_events"
        elif j < 0:
            lag = f"lag(n_events, {-j}) OVER w"
        else:
            lag = f"lead(n_events, {j}) OVER w"
        wt = 1 if abs(j) == SEAS_HALF else 2
        terms.append(f"{wt} * ({lag})" if wt != 1 else f"({lag})")
    num2 = " + ".join(terms)
    # quotients round through the shortest-repr template (r8): trend ≈
    # hourly event count, and the legacy DECIMAL(w,12) cast both needed a
    # per-site width (the r6 overflow) and loses 6-dp ties past ~1e6
    # magnitude — functions/rounding.py holds the full history.
    from ..functions.rounding import ROUND6_SHORTEST as rnd
    trend = rnd.format(x="num2 / 48.0")
    seasonal = rnd.format(x="s48 / (48.0 * c)")
    return f"""
        WITH sd_hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events GROUP BY event_type, date_trunc('hour', ts)),
        sd_span AS (
          SELECT event_type,
                 min(datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                              bucket_ts)) AS h_lo,
                 max(datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                              bucket_ts)) AS h_hi
          FROM sd_hourly GROUP BY event_type),
        sd_grid AS (
          SELECT event_type,
                 TIMESTAMP '1970-01-01 00:00:00'
                   + unnest(range(h_lo, h_hi + 1)) * INTERVAL 1 HOUR
                   AS bucket_ts
          FROM sd_span),
        sd_dense AS (
          SELECT g.event_type, g.bucket_ts,
                 CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events
          FROM sd_grid g LEFT JOIN sd_hourly h
            ON h.event_type = g.event_type AND h.bucket_ts = g.bucket_ts),
        sd_ma AS (
          SELECT event_type, CAST(bucket_ts AS TIMESTAMP) AS bucket_ts,
                 n_events,
                 CAST(hour(bucket_ts) AS BIGINT) AS hod,
                 CAST({num2} AS BIGINT) AS num2,
                 CAST(48 * n_events - ({num2}) AS BIGINT) AS detr48
          FROM sd_dense
          WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)),
        sd_slot AS (
          SELECT event_type, hod, SUM(detr48) AS s48, COUNT(*) AS c
          FROM sd_ma WHERE detr48 IS NOT NULL GROUP BY event_type, hod)
        SELECT m.event_type, m.bucket_ts, m.n_events, m.hod,
               {trend} AS trend,
               {seasonal} AS seasonal,
               {rnd.format(x=f"m.n_events - ({trend}) - ({seasonal})")} AS remainder
        FROM sd_ma m LEFT JOIN sd_slot s
          ON s.event_type = m.event_type AND s.hod = m.hod
    """


# -- CUSUM changepoint detection --------------------------------------------

CUSUM_H_SIGMA = 4  # alarm threshold h = 4σ


def event_cusum_changepoint(events: DataFrame) -> DataFrame:
    """Tabular CUSUM level-shift detector over the dense hourly event
    counts per type: (event_type, bucket_ts, n_events, cusum_pos,
    cusum_neg, alarm_pos, alarm_neg) — the TEMPORAL drift monitor next
    to the distributional one (source_drift_psi watches composition;
    this watches the rate). Reference analog: the observer's telemetry
    counters (spark-evaluate-deals.js:21-34) are exactly the series an
    operator alarms on.

    Declarative form instead of the textbook recursion: the recursion
    S⁺_t = max(0, S⁺_{t-1} + d_t) has the closed form
    S⁺_t = C_t − min_{0≤j≤t} C_j with C the running sum of deviations
    d_i = x_i − μ − kσ (proof by induction in tests/test_cusum.py's
    header) — so the whole operator is two window passes (running sum,
    running min), never an iterative loop or a stateful UDF.

    Exactness discipline: μ and σ round ONCE to 6 dp (σ from the exact
    integer moments: σ = sqrt(n·Σx² − (Σx)²)/n, both engines evaluate
    the identical expression over identical exact integers), then the
    deviations are EXACT scaled ints d2 = 2·10⁶·x − 2·μ_int − σ_int
    (scale 2·10⁶ so that k = σ/2 needs no further rounding), the
    running sum/min windows are integer arithmetic no summation order
    can perturb, and the outputs divide once by the scale — the same
    rational → double division in both engines, bit-identical. Alarm
    comparisons happen in the integer domain (S⁺ > h·σ ⇔
    s2 > 2·h·σ_int).

    Plan: one corpus shuffle to the hourly rollup; the dense grid,
    moments, and both windows are |types|×hours metadata-sized rows at
    any SF."""
    return score_hourly_cusum(densify_hourly(events.groupBy(
        "event_type", trunc_ntz("hour", "ts").alias("bucket_ts")
    ).agg(F.count("*").cast("bigint").alias("n_events"))))


def densify_hourly(hourly: DataFrame) -> DataFrame:
    """Dense calendar grid over an (event_type, bucket_ts, n_events)
    hourly table: a row-ordered statistic over a gappy series skips
    hours whose true count is ZERO — exactly the dropouts a rate
    monitor exists to catch (the seasonal-decompose densify rule)."""
    hset = f"CAST(timestampdiff(HOUR, {_UNIX_NTZ}, bucket_ts) AS BIGINT)"
    span = hourly.groupBy("event_type").agg(
        F.expr(f"min({hset})").alias("h_lo"),
        F.expr(f"max({hset})").alias("h_hi"),
    )
    grid = span.selectExpr(
        "event_type", "explode(sequence(h_lo, h_hi)) AS h"
    ).selectExpr(
        "event_type",
        f"timestampadd(HOUR, CAST(h AS INT), {_UNIX_NTZ}) AS bucket_ts",
    )
    return grid.join(hourly, ["event_type", "bucket_ts"], "left").selectExpr(
        "event_type",
        "bucket_ts",
        "CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events",
    )


def score_hourly_cusum(dense: DataFrame) -> DataFrame:
    """The CUSUM windows over any DENSE (event_type, bucket_ts,
    n_events) table — the scoring half of the batch query above (the
    forecast scorer's pattern)."""
    # Sigma moments in DECIMAL(38,0): the oracle promotes to HUGEINT, and
    # past ~3e9 events per type sx*sx (and the per-row square) exceed LONG
    # range — same scale-dependent class as crossmodal's p aggregation, so
    # cast every FACTOR before it multiplies.
    moments = dense.groupBy("event_type").agg(
        F.expr("count(*)").alias("n"),
        F.expr("sum(n_events)").alias("sx"),
        F.expr(
            "sum(CAST(n_events AS DECIMAL(38,0))"
            " * CAST(n_events AS DECIMAL(38,0)))"
        ).alias("sxx"),
    )
    mu6 = "round(CAST(sx AS DOUBLE) / n, 6)"
    sigma6 = (
        "round(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx"
        " - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))"
        " AS DOUBLE)) / n, 6)"
    )
    params = moments.selectExpr(
        "event_type",
        f"CAST(round({mu6} * 1000000) AS LONG) AS mu_i",
        f"CAST(round({sigma6} * 1000000) AS LONG) AS sig_i",
    )
    run = (
        "OVER (PARTITION BY event_type ORDER BY bucket_ts"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    dev = dense.join(F.broadcast(params), "event_type").selectExpr(
        "event_type",
        "bucket_ts",
        "n_events",
        "2000000 * n_events - 2 * mu_i - sig_i AS d2",
        "2 * mu_i - 2000000 * n_events - sig_i AS e2",
        "sig_i",
    )
    cum = dev.selectExpr(
        "event_type",
        "bucket_ts",
        "n_events",
        "sig_i",
        f"sum(d2) {run} AS cp",
        f"sum(e2) {run} AS cn",
    )
    sp = f"cp - least(0, min(cp) {run})"
    sn = f"cn - least(0, min(cn) {run})"
    return cum.selectExpr(
        "event_type",
        "bucket_ts",
        "n_events",
        f"CAST({sp} AS DOUBLE) / 2000000 AS cusum_pos",
        f"CAST({sn} AS DOUBLE) / 2000000 AS cusum_neg",
        f"({sp}) > {2 * CUSUM_H_SIGMA} * sig_i AS alarm_pos",
        f"({sn}) > {2 * CUSUM_H_SIGMA} * sig_i AS alarm_neg",
    )


def event_cusum_changepoint_oracle() -> str:
    """DuckDB twin: identical dense grid, identical exact-integer scaled
    deviations and windows; the only float ops (μ, σ rounding and the
    final /2e6) are structurally identical expressions over identical
    exact inputs."""
    from ..functions.rounding import ROUND6_SHORTEST as rnd
    mu6 = rnd.format(x="CAST(sx AS DOUBLE) / n")
    sig6 = rnd.format(x="sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n")
    return f"""
        WITH cu_hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events GROUP BY event_type, date_trunc('hour', ts)),
        cu_span AS (
          SELECT event_type,
                 min(datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                              bucket_ts)) AS h_lo,
                 max(datediff('hour', TIMESTAMP '1970-01-01 00:00:00',
                              bucket_ts)) AS h_hi
          FROM cu_hourly GROUP BY event_type),
        cu_grid AS (
          SELECT event_type,
                 TIMESTAMP '1970-01-01 00:00:00'
                   + unnest(range(h_lo, h_hi + 1)) * INTERVAL 1 HOUR
                   AS bucket_ts
          FROM cu_span),
        cu_dense AS (
          SELECT g.event_type, CAST(g.bucket_ts AS TIMESTAMP) AS bucket_ts,
                 CAST(COALESCE(h.n_events, 0) AS BIGINT) AS n_events
          FROM cu_grid g LEFT JOIN cu_hourly h
            ON h.event_type = g.event_type AND h.bucket_ts = g.bucket_ts),
        cu_params AS (
          SELECT event_type,
                 CAST(ROUND(({mu6}) * 1000000) AS BIGINT) AS mu_i,
                 CAST(ROUND(({sig6}) * 1000000) AS BIGINT) AS sig_i
          FROM (SELECT event_type, COUNT(*) AS n, SUM(n_events) AS sx,
                       -- r9 (ADVICE r8 #2): square in HUGEINT — the
                       -- BIGINT product raises past ~3e9 events/bucket
                       -- while the Spark side's DECIMAL(38,0) factor
                       -- casts survive; match the engine's headroom
                       -- (same pattern as roundfuzz.moment_sigma6).
                       SUM(CAST(n_events AS HUGEINT) * n_events) AS sxx
                FROM cu_dense GROUP BY event_type) m),
        cu_dev AS (
          SELECT d.event_type, d.bucket_ts, d.n_events, p.sig_i,
                 2000000 * d.n_events - 2 * p.mu_i - p.sig_i AS d2,
                 2 * p.mu_i - 2000000 * d.n_events - p.sig_i AS e2
          FROM cu_dense d JOIN cu_params p ON d.event_type = p.event_type),
        cu_cum AS (
          SELECT event_type, bucket_ts, n_events, sig_i,
                 CAST(SUM(d2) OVER w AS BIGINT) AS cp,
                 CAST(SUM(e2) OVER w AS BIGINT) AS cn
          FROM cu_dev
          WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
                       ROWS UNBOUNDED PRECEDING))
        SELECT event_type, bucket_ts, n_events,
               CAST(cp - LEAST(0, MIN(cp) OVER w) AS DOUBLE) / 2000000
                 AS cusum_pos,
               CAST(cn - LEAST(0, MIN(cn) OVER w) AS DOUBLE) / 2000000
                 AS cusum_neg,
               cp - LEAST(0, MIN(cp) OVER w) > 2 * {CUSUM_H_SIGMA} * sig_i
                 AS alarm_pos,
               cn - LEAST(0, MIN(cn) OVER w) > 2 * {CUSUM_H_SIGMA} * sig_i
                 AS alarm_neg
        FROM cu_cum
        WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
                     ROWS UNBOUNDED PRECEDING)
    """
