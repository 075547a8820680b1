"""Count–min sketch over token streams — the fixed-size frequency summary
for cardinalities where the exact heavy-hitter count (`ngram_heavy_hitters`)
stops fitting: at 100 TB the distinct-gram space outgrows any exact
two-phase count, while the CMS stays depth×width counters REGARDLESS of
corpus size, merges associatively (map-side combine IS the sketch merge),
and answers point frequency queries with a one-sided error bound
(est ≥ true; est ≤ true + εN with prob 1−δ, ε = e/width, δ = e^−depth).

The registered query builds the sketch AND audits it: probe tokens are
counted exactly and estimated from the sketch side-by-side, so the
result doubles as the overcount report (the oracle replays the identical
deterministic construction — portable md5 hashing, no RNG — making even
the sketch itself value-checkable, which an opaque sketch blob is not).

Scale shape: aggregate to the vocabulary first (map-side combined — tokens
≪ occurrences), then hash each DISTINCT token depth× and sum into
(row, cell) — md5 cost scales with |vocab|·depth, not corpus·depth, and
the (row, cell) shuffle is bounded by depth×width keys per task (map-side
combine IS the CMS merge property, in plan form); the probe estimate is a
broadcast join over depth·|probes| rows. The streaming analog merges
per-batch sketches by summing the same (row, cell) keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash32_sql, tokens_sql

CMS_DEPTH = 4
CMS_WIDTH = 1024
# Probes: two corpus-frequent terms, two mid, one absent (est must be ≥ 0
# true count and shows pure collision noise).
CMS_PROBES: tuple[str, ...] = ("join", "hash", "scan", "the", "zzz-absent")


def _cell(dialect: str, d: str, token: str) -> str:
    """Row-d hash cell of a token: seeded by prefixing the row index."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    return (
        f"{hash32_sql(f'concat(CAST({d} AS {s}), chr(58), {token})', dialect)}"
        f" % {CMS_WIDTH}"
    )


def cms_cells(docs: DataFrame) -> DataFrame:
    """(d, cell, cnt): the count–min sketch state — ≤ depth×width counter
    rows at any corpus size. Aggregates to the VOCABULARY first (map-side
    combined — tokens ≪ occurrences), then hashes each distinct token once
    per row: the md5 cost scales with |vocab|·depth, not corpus·depth, and
    the sketch sums are identical (Σ per-token counts = per-occurrence
    increments). sum-per-(d, cell) is the CMS merge — associative and
    commutative but, unlike the HLL's max, NOT idempotent: re-merging a
    replayed batch double-counts, so a streamed merge needs a
    processed-batch ledger."""
    tok_counts = (
        docs.select(F.explode(F.expr(tokens_sql("spark", "text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    rows = tok_counts.select(
        "token",
        "cnt",
        F.explode(
            F.array(*[F.lit(d) for d in range(CMS_DEPTH)])
        ).alias("d"),
    )
    return (
        rows.select("d", F.expr(_cell("spark", "d", "token")).alias("cell"), "cnt")
        .groupBy("d", "cell")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_probe_estimates(sketch: DataFrame, spark) -> DataFrame:
    """(token, cms_est): point-frequency estimates for the probe tokens
    from a (d, cell, cnt) sketch table — min over depth rows, missing
    cells count 0."""
    probes = spark.createDataFrame(
        [(t,) for t in CMS_PROBES], "token STRING"
    ).crossJoin(
        spark.range(CMS_DEPTH).select(F.col("id").cast("int").alias("d"))
    ).select("token", "d", F.expr(_cell("spark", "d", "token")).alias("cell"))
    return (
        probes.join(sketch, ["d", "cell"], "left")
        .groupBy("token")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).cast("bigint").alias("cms_est"))
    )


def cms_token_counts(docs: DataFrame) -> DataFrame:
    """(token, true_cnt, cms_est): exact vs sketch-estimated corpus
    frequency for the probe tokens, from a depth×width count-min sketch
    built over every token occurrence."""
    tok_counts = (
        docs.select(F.explode(F.expr(tokens_sql("spark", "text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    sketch = cms_cells(docs)
    spark = docs.sparkSession
    est = cms_probe_estimates(sketch, spark)
    # r9 (guide §2.4; the DSIR exchange-reuse finding recurring here): the
    # probe filter is on tok_counts' GROUPING KEY, so Catalyst pushes it
    # below the aggregate — the subtree then no longer canonically matches
    # cms_cells' tok_counts and the corpus tokenize+count pass ran TWICE
    # per execution. The documented barrier form (nondeterministic column
    # in a projection, referenced by the filter — an inline conjunct does
    # NOT work, Catalyst splits the predicate and pushes the deterministic
    # half anyway) pins the filter above the aggregate, restoring exchange
    # reuse: ONE tokenize pass feeds sketch and truth. Values unchanged —
    # the filter is on a group key, above or below (ReusedExchange pinned
    # in tests/test_plans.py::test_cms_reuses_one_tokenize_pass).
    true = (
        tok_counts.withColumn("_barrier", F.monotonically_increasing_id())
        .where(F.col("token").isin(*CMS_PROBES) & (F.col("_barrier") >= 0))
        .select("token", F.col("cnt").alias("true_cnt"))
    )
    return (
        est.join(true, "token", "left")
        .select(
            "token",
            F.coalesce("true_cnt", F.lit(0)).cast("bigint").alias("true_cnt"),
            "cms_est",
        )
    )


def cms_token_counts_oracle() -> str:
    toks = tokens_sql("duckdb", "text")
    cell = _cell("duckdb", "d", "token")
    probe_list = ", ".join(f"('{t}')" for t in CMS_PROBES)
    return f"""
        WITH toks AS (SELECT unnest({toks}) AS token FROM documents),
        tok_counts AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
        rows_ AS (SELECT token, cnt, g.d FROM tok_counts
                  CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) g(d)),
        sketch AS (SELECT d, {cell} AS cell, sum(cnt) AS cnt
                   FROM rows_ GROUP BY d, {cell}),
        probes AS (SELECT token, g.d, {cell} AS cell
                   FROM (VALUES {probe_list}) p(token)
                   CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) g(d)),
        est AS (SELECT p.token,
                       CAST(min(COALESCE(s.cnt, 0)) AS BIGINT) AS cms_est
                FROM probes p LEFT JOIN sketch s USING (d, cell)
                GROUP BY p.token),
        tru AS (SELECT token, cnt AS true_cnt FROM tok_counts
                WHERE token IN (SELECT token FROM est))
        SELECT e.token, CAST(COALESCE(t.true_cnt, 0) AS BIGINT) AS true_cnt,
               e.cms_est
        FROM est e LEFT JOIN tru t USING (token)
    """


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch, hand-built and value-checkable
# ---------------------------------------------------------------------------

HLL_P = 10  # 2^10 = 1024 registers; standard error ~ 1.04/sqrt(m) = 3.3%
HLL_M = 1 << HLL_P
# alpha_m * m^2 for m = 1024, precomputed so both engines parse the same
# decimal literal (Python repr round-trips the exact double)
_HLL_ALPHA_M2 = repr(0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M)


def _hll_pre(dialect: str) -> tuple[str, str, str]:
    """(hash, bucket, rho) expression strings over a `user_id` column.

    The 32-bit portable hash splits into the low HLL_P bits (register
    index) and the high 32-p bits (the rho word); rho = leading zeros of
    the word + 1, computed from the BINARY-STRING length (Spark
    `conv(w,10,2)`, DuckDB `to_base(w,2)`) — integer/string arithmetic
    only, no floating log2 whose last-ulp rounding could differ between
    engines."""
    s = "STRING" if dialect == "spark" else "VARCHAR"
    h = hash32_sql(f"CAST(user_id AS {s})", dialect)
    bucket = f"(h % {HLL_M})"
    if dialect == "spark":
        bitlen = "length(conv(w, 10, 2))"
    else:
        bitlen = "length(to_base(w, 2))"
    rho = f"(CASE WHEN w > 0 THEN {32 - HLL_P + 1} - {bitlen} ELSE {32 - HLL_P + 1} END)"
    return h, bucket, rho


def _hll_est_sql(dialect: str) -> str:
    """Estimate from (s, v) = (register sum incl. zero registers, zero-
    register count): the HLL raw estimate with the standard small-range
    linear-counting correction. Every term is deterministic across
    engines: the register sum adds exact powers of two (exponent range
    23 < 53 bits, so the sum is exact in any order), and ln/division of
    identical doubles round identically."""
    raw = f"{_HLL_ALPHA_M2} / s"
    lin = f"{HLL_M} * ln({HLL_M} / CAST(v AS DOUBLE))"
    return f"(CASE WHEN {raw} <= 2.5 * {HLL_M} AND v > 0 THEN {lin} ELSE {raw} END)"


def hll_registers(events: DataFrame, key: str = "event_type") -> DataFrame:
    """(key, bucket, rho): the per-group register table — the sketch's
    entire state, ≤ |groups|·1024 rows. max-per-(key, bucket) IS the
    merge, which makes it idempotent: merging the same batch twice is a
    no-op, so at-least-once replay yields exactly the once-only
    registers."""
    h, bucket, rho = _hll_pre("spark")
    return (
        events.selectExpr(key, f"{h} AS h")
        .selectExpr(key, f"CAST({bucket} AS INT) AS bucket", f"h div {HLL_M} AS w")
        .selectExpr(key, "bucket", f"{rho} AS rho")
        .groupBy(key, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(regs: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., est): the HLL estimate from a register table, with the
    standard small-range linear-counting correction."""
    agg = regs.groupBy(*keys).agg(
        F.sum(
            F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), rho) AS DOUBLE)")
        ).alias("s_present"),
        F.count("*").alias("nz"),
    ).selectExpr(
        *keys,
        f"s_present + CAST({HLL_M} - nz AS DOUBLE) AS s",
        f"CAST({HLL_M} - nz AS BIGINT) AS v",
    )
    return agg.selectExpr(*keys, f"{_hll_est_sql('spark')} AS est")


def hll_distinct_audit(events: DataFrame) -> DataFrame:
    """(event_type, true_users, hll_est, rel_err): exact distinct users vs
    the hand-built 1024-register HyperLogLog estimate, per event type —
    the fixed-size mergeable replacement for exact distinct counting, with
    the estimate's error REPORTED next to the truth it approximates (the
    same audit contract as `cms_token_counts`; Spark's native HLL++
    `approx_count_distinct` stays registered separately as the
    rows-only production form).

    Scale shape: one scan; the (event_type, bucket) max-rho aggregate is
    map-side combinable (max IS the HLL register merge), so the shuffle
    carries at most |types|·1024 register rows per task regardless of
    corpus size — the sketch-merge property in plan form. The exact side
    costs one (event_type, user_id) distinct; at 100 TB you'd audit on a
    sample and keep only the sketch side, which is the point."""
    est = hll_estimate(hll_registers(events), ["event_type"]).selectExpr(
        "event_type", "ROUND(est, 4) AS hll_est"
    )
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("true_users")
    )
    return (
        exact.join(est, "event_type")
        .selectExpr(
            "event_type",
            "true_users",
            "hll_est",
            "ROUND(abs(hll_est - true_users) / true_users, 4) AS rel_err",
        )
    )


def hll_distinct_audit_oracle() -> str:
    h, bucket, rho = _hll_pre("duckdb")
    return f"""
        WITH pre AS (SELECT event_type, {h} AS h FROM events),
        words AS (SELECT event_type, {bucket} AS bucket, h // {HLL_M} AS w FROM pre),
        regs AS (SELECT event_type, bucket, max({rho}) AS rho
                 FROM words GROUP BY event_type, bucket),
        agg0 AS (SELECT event_type,
                        sum(1.0 / CAST((CAST(1 AS BIGINT) << rho) AS DOUBLE)) AS s_present,
                        count(*) AS nz
                 FROM regs GROUP BY event_type),
        agg AS (SELECT event_type,
                       s_present + CAST({HLL_M} - nz AS DOUBLE) AS s,
                       CAST({HLL_M} - nz AS BIGINT) AS v
                FROM agg0),
        est AS (SELECT event_type, ROUND({_hll_est_sql('duckdb')}, 4) AS hll_est
                FROM agg),
        tru AS (SELECT event_type, count(DISTINCT user_id) AS true_users
                FROM events GROUP BY event_type)
        SELECT t.event_type, CAST(t.true_users AS BIGINT) AS true_users,
               e.hll_est,
               ROUND(abs(e.hll_est - t.true_users) / t.true_users, 4) AS rel_err
        FROM tru t JOIN est e USING (event_type)
    """


# ---------------------------------------------------------------------------
# fixed-grid histogram quantile sketch, hand-built and value-checkable
# ---------------------------------------------------------------------------

HIST_BINS = 256
HQ_PROBES = (0.5, 0.9, 0.99)
_HQ_NAMES = ("q50", "q90", "q99")


def histogram_quantile_audit(events: DataFrame) -> DataFrame:
    """(event_type, metric, hist_est, exact, abs_err): per-type quantile
    estimates from a fixed 256-bin equi-width histogram, audited against
    the exact interpolated percentile — the value-checkable twin of the
    native-GK `approx_quantiles_by_type` (rows-only by nature), closing
    the sketch family: CMS (frequency), HLL (cardinality), histogram
    (quantiles), each with its estimate verified bit-for-bit by the
    DuckDB oracle next to the truth it approximates.

    Scale shape: the histogram is ≤ |types|·256 integer counters, map-side
    combinable (sum IS the sketch merge), built in one binning pass over a
    broadcast (lo, hi) bounds row per type; the quantile read-off walks the
    cumulative counts of a 256-row-per-type table — fixed-size state
    regardless of corpus size. The exact side is Spark's `percentile`
    aggregate (bit-identical to DuckDB quantile_cont); at 100 TB you audit
    on a sample and keep the sketch, or use the selection path
    (profile.exact_quantiles). Determinism: bin index is floor over
    identical doubles, bucket counts are exact longs, and the
    interpolation arithmetic applies identical IEEE ops in both engines."""
    from pyspark.sql import Window

    probe_arr = ", ".join(f"{p!r}D" for p in HQ_PROBES)
    name_arr = ", ".join(f"'{n}'" for n in _HQ_NAMES)
    bounds = events.where(F.col("value").isNotNull()).groupBy("event_type").agg(
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.count("value").alias("n"),
        F.expr(f"percentile(value, array({probe_arr}))").alias("qs"),
    )
    # r10 (guide §2.4; the tfidf column-pruning reuse breaker): the
    # broadcast copy of `bounds` only consumes (event_type, lo, hi), so
    # ColumnPruning rewrote its aggregate without n/qs — the two bounds
    # subtrees stopped canonicalizing equal and the (event_type) bounds
    # aggregate scanned events TWICE per run (once more with the exact
    # `percentile` dropped, once with it). The always-true guard
    # (`n >= 1`: every group has ≥1 non-null value by the filter below;
    # `size(qs) >= 0`: percentile of a non-empty group is a non-null
    # 3-element array) references n and qs, keeping the aggregate output
    # identical on both branches — ONE bounds pass, ReusedExchange pinned
    # in tests/test_plans.py. Values unchanged (the guard filters nothing).
    binned = (
        events.where(F.col("value").isNotNull())
        .join(
            F.broadcast(
                bounds.where("n >= 1 AND size(qs) >= 0").select(
                    "event_type", "lo", "hi"
                )
            ),
            "event_type",
        )
        .selectExpr(
            "event_type",
            f"CASE WHEN hi = lo THEN 0 ELSE "
            f"LEAST(CAST(floor((value - lo) * {HIST_BINS} / (hi - lo)) AS INT), "
            f"{HIST_BINS - 1}) END AS bucket",
        )
    )
    hist = binned.groupBy("event_type", "bucket").agg(F.count("*").alias("cnt"))
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(Window.partitionBy("event_type").orderBy("bucket")),
    )
    probes = bounds.selectExpr(
        "event_type",
        "lo",
        "hi",
        "n",
        f"posexplode(array({probe_arr})) AS (pos, q)",
        "qs",
    ).selectExpr(
        "event_type", "lo", "hi", "n", "pos", "q",
        "element_at(qs, pos + 1) AS exact",
        f"element_at(array({name_arr}), pos + 1) AS metric",
    )
    hit = (
        cum.join(probes, "event_type")
        .where(F.col("cum") >= F.col("q") * F.col("n"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("event_type", "pos").orderBy("bucket")
            ),
        )
        .where(F.col("rn") == 1)
    )
    est = (
        "lo + (bucket + (q * n - (cum - cnt)) / cnt) "
        f"* (hi - lo) / {HIST_BINS}"
    )
    return hit.selectExpr(
        "event_type",
        "metric",
        f"ROUND({est}, 6) AS hist_est",
        "ROUND(exact, 6) AS exact",
        f"ROUND(abs(({est}) - exact), 6) AS abs_err",
    )


def histogram_quantile_audit_oracle() -> str:
    probe_arr = ", ".join(repr(p) for p in HQ_PROBES)
    name_arr = ", ".join(f"'{n}'" for n in _HQ_NAMES)
    est = (
        f"lo + (bucket + (q * n - (cum - cnt)) / cnt) * (hi - lo) / {HIST_BINS}"
    )
    return f"""
        WITH bounds AS (
          SELECT event_type, min(value) AS lo, max(value) AS hi,
                 count(value) AS n,
                 quantile_cont(value, [{probe_arr}]) AS qs
          FROM events WHERE value IS NOT NULL GROUP BY event_type),
        binned AS (
          SELECT e.event_type,
                 CASE WHEN b.hi = b.lo THEN 0 ELSE
                   LEAST(CAST(floor((e.value - b.lo) * {HIST_BINS} / (b.hi - b.lo))
                              AS INT), {HIST_BINS - 1}) END AS bucket
          FROM events e JOIN bounds b USING (event_type)
          WHERE e.value IS NOT NULL),
        hist AS (SELECT event_type, bucket, count(*) AS cnt
                 FROM binned GROUP BY event_type, bucket),
        cum AS (SELECT event_type, bucket, cnt,
                       sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket)
                         AS cum
                FROM hist),
        probes AS (
          SELECT event_type, lo, hi, n, g.pos - 1 AS pos,
                 ([{probe_arr}])[g.pos] AS q,
                 qs[g.pos] AS exact,
                 ([{name_arr}])[g.pos] AS metric
          FROM bounds CROSS JOIN generate_series(1, {len(HQ_PROBES)}) g(pos)),
        hit AS (
          SELECT c.event_type, p.metric, p.q, p.n, p.lo, p.hi, p.exact,
                 c.bucket, c.cnt, c.cum,
                 row_number() OVER (PARTITION BY c.event_type, p.pos
                                    ORDER BY c.bucket) AS rn
          FROM cum c JOIN probes p USING (event_type)
          WHERE c.cum >= p.q * p.n)
        SELECT event_type, metric,
               ROUND({est}, 6) AS hist_est,
               ROUND(exact, 6) AS exact,
               ROUND(abs(({est}) - exact), 6) AS abs_err
        FROM hit WHERE rn = 1
    """


def hll_set_ops_audit(events: DataFrame) -> DataFrame:
    """(pair, union_true, union_est, inter_true, inter_est, rel_err):
    distinct-user UNION and INTERSECTION estimates for every event-type
    pair, from MERGED HyperLogLog registers — the reason the sketch form
    matters at 100 TB: |A ∪ B| never rescans A or B, it max-merges two
    1024-register tables (register merge IS the set union), and
    |A ∩ B| follows by inclusion–exclusion. Exact counterparts computed
    alongside; everything bit-identical in the DuckDB oracle.

    Plan shape: per-type registers build once (map-side-combined max);
    the pair expansion joins registers to a broadcast 2·|pairs|-row
    membership table on event_type (equi-join, no theta join), so the
    merge costs |pairs|·1024 register rows — independent of corpus
    size. Intersection estimates clamp at 0 (inclusion–exclusion can go
    negative for near-disjoint sets; the clamp is deterministic)."""
    regs = hll_registers(events)
    estimate = hll_estimate
    types = events.select("event_type").distinct()
    pairs = (
        types.selectExpr("event_type AS a")
        .join(types.selectExpr("event_type AS b"), F.col("a") < F.col("b"))
    )
    # membership table: each pair listed under both of its member types,
    # so the register join stays a broadcast EQUI-join on event_type
    member = pairs.selectExpr("a AS event_type", "a", "b").unionByName(
        pairs.selectExpr("b AS event_type", "a", "b")
    )
    merged = (
        regs.join(F.broadcast(member), "event_type")
        .groupBy("a", "b", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    union_est = estimate(merged, ["a", "b"]).withColumnRenamed("est", "u_est")
    per_type = estimate(regs, ["event_type"])
    est = (
        union_est.join(
            F.broadcast(per_type.selectExpr("event_type AS a", "est AS a_est")), "a"
        )
        .join(F.broadcast(per_type.selectExpr("event_type AS b", "est AS b_est")), "b")
    )
    # r9 (guide §2.3 — aggregate before you expand): the exact side used
    # to join RAW events to the member table, multiplying every event row
    # by the pairs its type belongs to before the per-pair distinct.
    # Distinct (event_type, user_id) first — map-side combinable, output
    # bounded by |users|·|types| regardless of event volume — then expand
    # the deduped rows. countDistinct(user_id) per pair is unchanged, so
    # u_true/n_true are value-identical (duplicates never counted).
    type_users = events.select("event_type", "user_id").distinct()
    exact_union = (
        type_users.join(F.broadcast(member), "event_type")
        .groupBy("a", "b")
        .agg(F.countDistinct("user_id").alias("u_true"))
    )
    exact_type = type_users.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_true")
    )
    exact = (
        exact_union.join(
            F.broadcast(exact_type.selectExpr("event_type AS a", "n_true AS a_true")), "a"
        )
        .join(F.broadcast(exact_type.selectExpr("event_type AS b", "n_true AS b_true")), "b")
    )
    return (
        est.join(exact, ["a", "b"])
        .selectExpr(
            "concat(a, '|', b) AS pair",
            "u_true AS union_true",
            "ROUND(u_est, 4) AS union_est",
            "CAST(a_true + b_true - u_true AS BIGINT) AS inter_true",
            "ROUND(GREATEST(0.0D, a_est + b_est - u_est), 4) AS inter_est",
            "ROUND(abs(u_est - u_true) / u_true, 4) AS rel_err",
        )
    )


def hll_set_ops_audit_oracle() -> str:
    h, bucket, rho = _hll_pre("duckdb")
    est = _hll_est_sql("duckdb")
    return f"""
        WITH pre AS (SELECT event_type, {h} AS h FROM events),
        words AS (SELECT event_type, {bucket} AS bucket, h // {HLL_M} AS w FROM pre),
        regs AS (SELECT event_type, bucket, max({rho}) AS rho
                 FROM words GROUP BY event_type, bucket),
        types AS (SELECT DISTINCT event_type FROM events),
        pairs AS (SELECT x.event_type AS a, y.event_type AS b
                  FROM types x JOIN types y ON x.event_type < y.event_type),
        member AS (SELECT a AS event_type, a, b FROM pairs
                   UNION ALL SELECT b, a, b FROM pairs),
        merged AS (SELECT m.a, m.b, r.bucket, max(r.rho) AS rho
                   FROM regs r JOIN member m USING (event_type)
                   GROUP BY m.a, m.b, r.bucket),
        u0 AS (SELECT a, b,
                      sum(1.0 / CAST((CAST(1 AS BIGINT) << rho) AS DOUBLE)) AS s_present,
                      count(*) AS nz
               FROM merged GROUP BY a, b),
        u1 AS (SELECT a, b, s_present + CAST({HLL_M} - nz AS DOUBLE) AS s,
                      CAST({HLL_M} - nz AS BIGINT) AS v FROM u0),
        uest AS (SELECT a, b, {est} AS u_est FROM u1),
        t0 AS (SELECT event_type,
                      sum(1.0 / CAST((CAST(1 AS BIGINT) << rho) AS DOUBLE)) AS s_present,
                      count(*) AS nz
               FROM regs GROUP BY event_type),
        t1 AS (SELECT event_type, s_present + CAST({HLL_M} - nz AS DOUBLE) AS s,
                      CAST({HLL_M} - nz AS BIGINT) AS v FROM t0),
        test_ AS (SELECT event_type, {est} AS est FROM t1),
        utrue AS (SELECT m.a, m.b, count(DISTINCT e.user_id) AS u_true
                  FROM events e JOIN member m USING (event_type)
                  GROUP BY m.a, m.b),
        ttrue AS (SELECT event_type, count(DISTINCT user_id) AS n_true
                  FROM events GROUP BY event_type)
        SELECT u.a || '|' || u.b AS pair,
               CAST(ut.u_true AS BIGINT) AS union_true,
               ROUND(u.u_est, 4) AS union_est,
               CAST(ta.n_true + tb.n_true - ut.u_true AS BIGINT) AS inter_true,
               ROUND(GREATEST(0.0, ea.est + eb.est - u.u_est), 4) AS inter_est,
               ROUND(abs(u.u_est - ut.u_true) / ut.u_true, 4) AS rel_err
        FROM uest u
        JOIN utrue ut ON u.a = ut.a AND u.b = ut.b
        JOIN test_ ea ON ea.event_type = u.a
        JOIN test_ eb ON eb.event_type = u.b
        JOIN ttrue ta ON ta.event_type = u.a
        JOIN ttrue tb ON tb.event_type = u.b
    """


def histogram_merge_audit(events: DataFrame) -> DataFrame:
    """(type_a, type_b, n_merged, hist_med, exact_med, abs_err): the
    UNION median of every event-type pair estimated from MERGED
    histograms — counter ADDITION over shared global bins is the
    histogram's sketch merge, completing the mergeable-sketch story next
    to hll_set_ops_audit (HLL: max-merge; histogram: sum-merge; CMS:
    sum-merge by construction). The precondition the per-type audit
    doesn't need: merging demands a SHARED bin grid, so bounds here are
    corpus-global (one broadcast row), not per-type.

    The oracle recomputes the merged histogram by REBUILDING over the
    union — counter addition and union rebuild must agree to the last
    count, so value parity proves merge ≡ union, and the exact
    interpolated median bounds the estimate (abs_err ≤ bin width,
    pinned in tests/test_sketches.py).

    Plan shape: one global (lo, hi) aggregate, one binning pass, the
    pair expansion joins the ≤ |types|·256-counter histogram to a
    broadcast 2·|pairs|-row membership table (equi-join), and the
    read-off walks 256-row-per-pair cumulative counts — the merge never
    rescans the corpus; only the audit's exact side does (at 100 TB you
    keep the merge and audit on a sample)."""
    from pyspark.sql import Window

    vals = events.where(F.col("value").isNotNull())
    bounds = vals.agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    binned = vals.crossJoin(F.broadcast(bounds)).selectExpr(
        "event_type",
        f"CASE WHEN hi = lo THEN 0 ELSE "
        f"LEAST(CAST(floor((value - lo) * {HIST_BINS} / (hi - lo)) AS INT), "
        f"{HIST_BINS - 1}) END AS bucket",
    )
    hist = binned.groupBy("event_type", "bucket").agg(F.count("*").alias("cnt"))
    types = events.select("event_type").distinct()
    pairs = (
        types.selectExpr("event_type AS type_a")
        .join(types.selectExpr("event_type AS type_b"))
        .where(F.col("type_a") < F.col("type_b"))
    )
    member = pairs.selectExpr(
        "type_a", "type_b", "type_a AS event_type"
    ).unionByName(pairs.selectExpr("type_a", "type_b", "type_b AS event_type"))
    merged = (
        hist.join(F.broadcast(member), "event_type")
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    w = Window.partitionBy("type_a", "type_b").orderBy("bucket")
    cum = merged.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("type_a", "type_b"))
    )
    hit = (
        cum.where(F.col("cum") >= 0.5 * F.col("n"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("type_a", "type_b").orderBy("bucket")
            ),
        )
        .where(F.col("rn") == 1)
    )
    exact = (
        vals.join(F.broadcast(member), "event_type")
        .groupBy("type_a", "type_b")
        .agg(F.expr("percentile(value, 0.5D)").alias("exact_med"))
    )
    est = (
        "lo + (bucket + (0.5 * n - (cum - cnt)) / cnt) "
        f"* (hi - lo) / {HIST_BINS}"
    )
    return (
        hit.crossJoin(F.broadcast(bounds))
        .join(exact, ["type_a", "type_b"])
        .selectExpr(
            "type_a",
            "type_b",
            "CAST(n AS BIGINT) AS n_merged",
            f"ROUND({est}, 6) AS hist_med",
            "ROUND(exact_med, 6) AS exact_med",
            f"ROUND(abs(({est}) - exact_med), 6) AS abs_err",
        )
    )


def histogram_merge_audit_oracle() -> str:
    est = (
        f"lo + (bucket + (0.5 * n - (cum - cnt)) / cnt) * (hi - lo) / {HIST_BINS}"
    )
    return f"""
        WITH hm_bounds AS (
          SELECT min(value) AS lo, max(value) AS hi
          FROM events WHERE value IS NOT NULL),
        hm_pairs AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b
          FROM (SELECT DISTINCT event_type FROM events) a,
               (SELECT DISTINCT event_type FROM events) b
          WHERE a.event_type < b.event_type),
        hm_member AS (
          SELECT type_a, type_b, type_a AS event_type FROM hm_pairs
          UNION ALL
          SELECT type_a, type_b, type_b AS event_type FROM hm_pairs),
        hm_merged AS (
          -- REBUILD over the union: must equal Spark's counter addition
          SELECT m.type_a, m.type_b,
                 CASE WHEN b.hi = b.lo THEN 0 ELSE
                   LEAST(CAST(floor((e.value - b.lo) * {HIST_BINS} / (b.hi - b.lo))
                              AS INT), {HIST_BINS - 1}) END AS bucket,
                 count(*) AS cnt
          FROM events e
          JOIN hm_member m ON e.event_type = m.event_type
          CROSS JOIN hm_bounds b
          WHERE e.value IS NOT NULL
          GROUP BY 1, 2, 3),
        hm_cum AS (
          SELECT type_a, type_b, bucket, cnt,
                 sum(cnt) OVER (PARTITION BY type_a, type_b
                                ORDER BY bucket) AS cum,
                 sum(cnt) OVER (PARTITION BY type_a, type_b) AS n
          FROM hm_merged),
        hm_hit AS (
          SELECT *, row_number() OVER (PARTITION BY type_a, type_b
                                       ORDER BY bucket) AS rn
          FROM hm_cum WHERE cum >= 0.5 * n),
        hm_exact AS (
          SELECT m.type_a, m.type_b,
                 quantile_cont(e.value, 0.5) AS exact_med
          FROM events e JOIN hm_member m ON e.event_type = m.event_type
          WHERE e.value IS NOT NULL GROUP BY m.type_a, m.type_b)
        SELECT h.type_a, h.type_b, CAST(h.n AS BIGINT) AS n_merged,
               ROUND({est}, 6) AS hist_med,
               ROUND(x.exact_med, 6) AS exact_med,
               ROUND(abs(({est}) - x.exact_med), 6) AS abs_err
        FROM hm_hit h
        CROSS JOIN hm_bounds
        JOIN hm_exact x ON h.type_a = x.type_a AND h.type_b = x.type_b
        WHERE h.rn = 1
    """
