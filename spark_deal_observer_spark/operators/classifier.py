"""Trained linear classifier over text features — the fasttext-shaped
quality-filter model of LLM corpus pipelines (score documents with a tiny
linear model; keep/route by probability), trained END-TO-END in the engine
with full-batch gradient descent.

The task distills the rule-based C4-style quality gate (threshold on
`functions/text.py::quality_sql`'s composite score) into a trained model —
the standard pattern of bootstrapping a learned filter from heuristic
labels. Features are the practical hybrid: 3 engineered quality signals
(bounded mean token length, stopword ratio, punctuation ratio) ++ a 13-dim
hashed bag-of-words (`operators/ranking.py::hashed_doc_embeddings`,
the Weinberger feature-hashing trick), then STANDARDIZED with corpus
mean/stddev — without which full-batch logistic GD stalls at the majority
class (the bias term swallows the small-margin signal; standardization is
what makes a handful of GD steps move the boundary: measured 0.52 → 0.93
train accuracy at every test scale factor).

Scale posture (the shapes that survive 100 TB):
  * the RAW feature pass is one scan + one (doc_id) shuffle with map-side
    combine; the standardization stats are a (pos) aggregate whose shuffle
    carries D partial sums per task; the standardized feature table is
    checkpointed once — the feature-store pass;
  * each GD step is ONE pass over the feature table: the broadcast 1-row
    weight vector joins in the scan stage, per-row sigmoid/residual are
    codegen'd JVM expressions, and the gradient is a (pos) aggregate — D+1
    partial sums per task, independent of corpus size;
  * the model (17 doubles) is a session-published artifact
    (`operators/models.py`): train once, every consumer scores with the
    broadcast weights. No Python, no driver-side math — updates happen
    in-plan so both engines do identical IEEE-754 arithmetic.

Determinism contract (same as `similarity._kmeans_fit`): features, stats,
gradients, and weights ROUND to 6 dp at every stage boundary, so
summation-order drift between engines cannot compound across iterations;
the DuckDB twin unrolls the same steps as a CTE ladder and must match
value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import tokens_sql
from ..functions.text import quality_sql
from .models import published
from .ranking import hashed_doc_embeddings, hashed_doc_embeddings_oracle

N_SIGNALS = 3  # engineered quality-signal dims
N_HASHED = 13  # hashed bag-of-words dims
D_FEAT = N_SIGNALS + N_HASHED
N_ITER = 5  # full-batch GD steps (fixed-iteration: keeps the plan declarative)
LR = 5.0  # learning rate (standardized features make this stable)
QUALITY_THRESHOLD = 0.61  # label: quality_score >= threshold (≈ corpus median)
SD_FLOOR = 1e-6  # constant-feature guard in the standardization divide

# sigmoid(dot(x, w) + b) building blocks over array columns.
_DOT_SPARK = (
    "aggregate(zip_with(x, w, (p, q) -> p * q), "
    "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
)
_DOT_DUCK = (
    f"list_sum(list_transform(generate_series(1, {D_FEAT}), "
    "j -> f.x[j] * w.w[j]))"
)


def _signal_exprs(dialect: str) -> list[str]:
    """The three engineered signals, identical formulas in both dialects.

    mean_len's oracle twin rounds through the shortest-repr template
    (functions/rounding.py): `len/n_tokens` is a small-integer ratio, and
    when n_tokens is a power of two the /10-scaled value is an EXACT
    decimal 6-dp tie (sf0.1 doc 3349: 333/64/10 = 0.5203125). Spark's
    ROUND goes through BigDecimal's shortest decimal representation (sees
    the tie, HALF_UP → …13) while DuckDB rounds the raw double (1 ulp
    below the tie → …12) — caught by the sf0.1 gate harness. The template
    rounds the double's own shortest repr, tie-exact at any magnitude."""
    q = quality_sql(dialect, "text")
    toks = tokens_sql(dialect, "text")
    size_f = "size" if dialect == "spark" else "len"
    ratio = f"least(CAST(length(text) AS DOUBLE) / {size_f}({toks}), 10.0) / 10.0"
    if dialect == "spark":
        mean_len = f"ROUND({ratio}, 6)"
    else:
        from ..functions.rounding import round6_sql

        mean_len = round6_sql(ratio)
    return [mean_len, q["stopword_ratio"], q["punct_ratio"]]


def raw_features(docs: DataFrame) -> DataFrame:
    """(doc_id, x double[D_FEAT] (unscaled), y): signals ++ hashed BOW."""
    s1, s2, s3 = _signal_exprs("spark")
    label = F.expr(
        f"CASE WHEN {quality_sql('spark', 'text')['quality_score']} >= "
        f"{QUALITY_THRESHOLD} THEN 1.0 ELSE 0.0 END"
    )
    sig = docs.select(
        "doc_id",
        F.expr(f"array({s1}, {s2}, {s3})").alias("sig"),
        label.alias("y"),
    )
    emb = hashed_doc_embeddings(docs, dim=N_HASHED)
    return sig.join(emb, "doc_id").select(
        "doc_id", F.expr("concat(sig, embedding)").alias("x"), "y"
    )


def feature_stats(raw: DataFrame) -> DataFrame:
    """1-row (mu double[D_FEAT], sd double[D_FEAT]): the TRAIN-time
    standardization statistics — part of the published model; scoring any
    later batch applies these, never refits them."""
    return (
        raw.select(F.posexplode("x").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.round(F.avg("val"), 6).alias("mu"),
            F.round(F.stddev_pop("val"), 6).alias("sd"),
        )
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))), lambda s: s["mu"]
            ).alias("mu"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sd"))), lambda s: s["sd"]
            ).alias("sd"),
        )
    )


def standardize(raw: DataFrame, stats: DataFrame) -> DataFrame:
    """Apply (broadcast) standardization stats to a raw feature table."""
    xs = F.expr(
        f"zip_with(zip_with(x, mu, (a, m) -> a - m), sd, "
        f"(d, s) -> ROUND(d / greatest(s, {SD_FLOOR!r}), 6))"
    )
    return raw.crossJoin(F.broadcast(stats)).select("doc_id", xs.alias("x"), "y")


def _features(docs: DataFrame) -> DataFrame:
    """(doc_id, x double[D_FEAT], y): the standardized, checkpointed feature
    table — published once per input (the feature-store pass)."""

    def build() -> DataFrame:
        raw = raw_features(docs)
        return standardize(raw, train_stats(docs)).localCheckpoint(eager=True)

    return published(docs, "clf_features", (D_FEAT, QUALITY_THRESHOLD), build)


def train_stats(docs: DataFrame) -> DataFrame:
    """The published train-corpus standardization stats — part of the model
    artifact: scoring any later batch/stream applies THESE, never refits."""
    return published(
        docs,
        "clf_stats",
        (D_FEAT, QUALITY_THRESHOLD),
        lambda: feature_stats(raw_features(docs)).localCheckpoint(eager=True),
    )


def _fit(feats: DataFrame) -> DataFrame:
    """N_ITER in-plan GD steps; returns the 1-row (w double[D_FEAT], b) model."""
    spark = feats.sparkSession
    wdf = spark.sql(
        f"SELECT array_repeat(CAST(0 AS DOUBLE), {D_FEAT}) AS w, CAST(0 AS DOUBLE) AS b"
    )
    for _ in range(N_ITER):
        scored = feats.crossJoin(F.broadcast(wdf)).select(
            "doc_id",
            "x",
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(F.expr(_DOT_SPARK) + F.col("b"))))
                - F.col("y")
            ).alias("resid"),
        )
        gpos = (
            scored.select("resid", F.posexplode("x").alias("pos", "val"))
            .groupBy("pos")
            .agg(F.round(F.avg(F.col("resid") * F.col("val")), 6).alias("g"))
        )
        garr = gpos.groupBy().agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "g"))), lambda s: s["g"]
            ).alias("g")
        )
        gb = scored.agg(F.round(F.avg("resid"), 6).alias("gb"))
        wdf = (
            wdf.crossJoin(garr)
            .crossJoin(gb)
            .select(
                F.zip_with(
                    "w", "g", lambda wi, gi: F.round(wi - F.lit(LR) * gi, 6)
                ).alias("w"),
                F.round(F.col("b") - F.lit(LR) * F.col("gb"), 6).alias("b"),
            )
            .localCheckpoint(eager=True)
        )
    return wdf


def classifier_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, prob, predicted, label): every document scored by the
    trained model. `prob` is the sigmoid probability rounded to 6 dp,
    `predicted` the 0.5-threshold decision, `label` the training target —
    returning both makes the query double as the model's eval report."""
    feats = _features(docs)
    wdf = published(
        docs, "clf_model", (D_FEAT, N_ITER, LR, QUALITY_THRESHOLD), lambda: _fit(feats)
    )
    prob = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.expr(_DOT_SPARK) + F.col("b")))), 6
    )
    return feats.crossJoin(F.broadcast(wdf)).select(
        "doc_id",
        prob.alias("prob"),
        (prob >= 0.5).alias("predicted"),
        F.col("y").alias("label"),
    )


def _feature_ctes() -> list[str]:
    """Raw features → stats → standardized features, as DuckDB CTEs."""
    s1, s2, s3 = _signal_exprs("duckdb")
    qs = quality_sql("duckdb", "text")["quality_score"]
    return [
        f"""raw AS MATERIALIZED (
          SELECT d.doc_id, list_concat([{s1}, {s2}, {s3}], e.embedding) AS x,
                 CASE WHEN {qs} >= {QUALITY_THRESHOLD} THEN 1.0 ELSE 0.0 END AS y
          FROM documents d
          JOIN ({hashed_doc_embeddings_oracle(dim=N_HASHED)}) e USING (doc_id))""",
        f"""stats AS (
          SELECT list(mu ORDER BY pos) AS mu, list(sd ORDER BY pos) AS sd
          FROM (
            SELECT g.pos, ROUND(avg(x[g.pos + 1]), 6) AS mu,
                   ROUND(stddev_pop(x[g.pos + 1]), 6) AS sd
            FROM raw CROSS JOIN generate_series(0, {D_FEAT - 1}) g(pos)
            GROUP BY g.pos))""",
        f"""feats AS MATERIALIZED (
          SELECT r.doc_id,
                 list_transform(generate_series(1, {D_FEAT}), j ->
                   ROUND((r.x[j] - s.mu[j]) / greatest(s.sd[j], {SD_FLOOR!r}), 6)) AS x,
                 r.y
          FROM raw r CROSS JOIN stats s)""",
    ]


def _gd_ctes() -> list[str]:
    """The GD steps unrolled as DuckDB CTEs (w0 → p0/g0 → w1 → …),
    mirroring `similarity._kmeans_ctes`."""
    zeros = ", ".join(["CAST(0 AS DOUBLE)"] * D_FEAT)
    parts = _feature_ctes()
    parts.append(f"w0 AS (SELECT [{zeros}] AS w, CAST(0 AS DOUBLE) AS b)")
    for i in range(N_ITER):
        parts.append(
            f"""p{i} AS MATERIALIZED (
              SELECT f.doc_id, f.x,
                     1.0 / (1.0 + exp(-({_DOT_DUCK} + w.b))) - f.y AS resid
              FROM feats f CROSS JOIN w{i} w)"""
        )
        parts.append(
            f"""g{i} AS (
              SELECT g.pos, ROUND(avg(resid * x[g.pos + 1]), 6) AS gv
              FROM p{i} CROSS JOIN generate_series(0, {D_FEAT - 1}) g(pos)
              GROUP BY g.pos)"""
        )
        parts.append(
            f"gb{i} AS (SELECT ROUND(avg(resid), 6) AS gb FROM p{i})"
        )
        parts.append(
            f"""w{i + 1} AS (
              SELECT list(ROUND(w.w[g.pos + 1] - {LR} * g.gv, 6) ORDER BY g.pos) AS w,
                     ROUND(w.b - {LR} * gb.gb, 6) AS b
              FROM g{i} g CROSS JOIN gb{i} gb CROSS JOIN w{i} w
              GROUP BY w.b, gb.gb)"""
        )
    return parts


def classifier_scores_oracle() -> str:
    joined = ",\n        ".join(_gd_ctes())
    prob = f"ROUND(1.0 / (1.0 + exp(-({_DOT_DUCK} + w.b))), 6)"
    return f"""
        WITH {joined}
        SELECT f.doc_id, {prob} AS prob, {prob} >= 0.5 AS predicted,
               f.y AS label
        FROM feats f CROSS JOIN w{N_ITER} w
    """


def classifier_eval(docs: DataFrame) -> DataFrame:
    """One-row eval report of the trained model on its training set:
    (n, accuracy, precision, recall, f1) — the confusion-matrix summary
    every model publish step logs next to the weights.

    One pass over the scored output (itself one pass over the checkpointed
    feature table): the four confusion cells are filtered counts sharing a
    single aggregate; the metrics are driver-free arithmetic on that row.
    ROUND(6) for cross-engine division parity. Precision/recall guard the
    zero-denominator case with NULL (honest: undefined, not 0)."""
    scored = classifier_scores(docs)
    cells = scored.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("predicted") & (F.col("label") == 1.0), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("predicted") & (F.col("label") == 0.0), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("predicted") & (F.col("label") == 1.0), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(~F.col("predicted") & (F.col("label") == 0.0), 1).otherwise(0)).alias("tn"),
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp")))
    rec = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn")))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
        2 * prec * rec / (prec + rec),
    )
    return cells.select(
        F.col("n").cast("bigint").alias("n"),
        F.round((F.col("tp") + F.col("tn")) / F.col("n"), 6).alias("accuracy"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )


def classifier_eval_oracle() -> str:
    prec = "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) END"
    rec = "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) END"
    return f"""
        WITH scored AS ({classifier_scores_oracle()}),
        cells AS (
          SELECT count(*) AS n,
                 sum(CASE WHEN predicted AND label = 1.0 THEN 1 ELSE 0 END) AS tp,
                 sum(CASE WHEN predicted AND label = 0.0 THEN 1 ELSE 0 END) AS fp,
                 sum(CASE WHEN NOT predicted AND label = 1.0 THEN 1 ELSE 0 END) AS fn,
                 sum(CASE WHEN NOT predicted AND label = 0.0 THEN 1 ELSE 0 END) AS tn
          FROM scored)
        SELECT CAST(n AS BIGINT) AS n,
               ROUND(CAST(tp + tn AS DOUBLE) / n, 6) AS accuracy,
               ROUND({prec}, 6) AS precision,
               ROUND({rec}, 6) AS recall,
               ROUND(CASE WHEN ({prec}) IS NOT NULL AND ({rec}) IS NOT NULL
                           AND ({prec}) + ({rec}) > 0
                     THEN 2 * ({prec}) * ({rec}) / (({prec}) + ({rec})) END, 6) AS f1
        FROM cells
    """


CALIB_BINS = 10


def calibration_report(docs: DataFrame) -> DataFrame:
    """(bin, n, mean_prob, frac_positive, gap): the reliability diagram of
    the trained classifier — predicted probabilities bucketed into
    CALIB_BINS equal-width bins, each bin's mean prediction against its
    empirical positive rate, and the signed calibration gap. The sum of
    |gap| weighted by bin mass is the ECE a model card reports; emitting
    the per-bin rows keeps the report value-checkable and lets the reader
    aggregate either way.

    One pass over the scored output (published feature table underneath):
    a map-side-combinable aggregate on the bin key, ROUND(6) divisions
    for cross-engine parity. prob = 1.0 folds into the top bin (least(...)
    caps the bin index) so no mass is dropped at the boundary."""
    scored = classifier_scores(docs)
    b = F.least(
        F.floor(F.col("prob") * CALIB_BINS).cast("int"), F.lit(CALIB_BINS - 1)
    )
    return (
        scored.groupBy(b.alias("bin"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.avg(F.col("prob").cast("double")), 6).alias("mean_prob"),
            F.round(F.avg(F.col("label").cast("double")), 6).alias("frac_positive"),
        )
        .select(
            "bin",
            "n",
            "mean_prob",
            "frac_positive",
            F.round(F.col("mean_prob") - F.col("frac_positive"), 6).alias("gap"),
        )
    )


def calibration_report_oracle() -> str:
    return f"""
        WITH scored AS ({classifier_scores_oracle()}),
        binned AS (
          SELECT least(CAST(floor(prob * {CALIB_BINS}) AS INT),
                       {CALIB_BINS - 1}) AS bin,
                 prob, label
          FROM scored)
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               ROUND(avg(prob), 6) AS mean_prob,
               ROUND(avg(label), 6) AS frac_positive,
               ROUND(ROUND(avg(prob), 6) - ROUND(avg(label), 6), 6) AS gap
        FROM binned GROUP BY bin
    """
