"""Corpus-preparation operators for LLM training-data pipelines: splits,
quality gating, benchmark decontamination, vocabulary stats, and sequence
packing.

Everything here is generated SQL (JVM-side, no Python) with a DuckDB twin
built from the same formula generators — the same dual-dialect discipline
as the dedup/text families. Scale posture per operator:

  * train/val split     — pure scan-stage expression, zero shuffles; the
                          split is a deterministic hash of the PRIMARY KEY,
                          so it is stable across runs, machines, and
                          repartitioning (never `rand()`, which is neither).
  * quality gate        — scan-stage filter; composes the text.py signals.
  * decontamination     — the benchmark probe set's shingle hashes are tiny
                          (benchmarks are KBs against a TB corpus) →
                          broadcast semi-join on the shingle hash; the
                          corpus side explodes shingles in the scan stage.
  * doc-frequency vocab — explode + two-phase count + TakeOrdered.
  * sequence packing    — the GPT-style concat-and-chunk manifest: one
                          window (cumulative token sum) per source
                          partition; emitting a manifest instead of packed
                          blobs keeps the operator columnar — the trainer's
                          reader materializes bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    hash32_sql,
    hashed_shingles_sql,
    hashed_token_ngrams_sql,
    token_ngrams_sql,
    tokens_sql,
)
from ..functions.rounding import round6_sql
from ..functions.text import lang_id_sql, quality_sql

DEFAULT_VAL_PCT = 5
DEFAULT_CAPACITY = 2048


# -- deterministic train/val split ------------------------------------------


def _split_bucket(dialect: str) -> str:
    return f"{hash32_sql('CAST(doc_id AS STRING)', dialect)} % 100"


def train_val_split(docs: DataFrame, val_pct: int = DEFAULT_VAL_PCT) -> DataFrame:
    """Assign each document to train/val by hashing its primary key.

    hash(doc_id) % 100 < val_pct → val. Content-independent (editing a
    document never moves it across the split) and reproducible everywhere —
    the two properties `rand()`-based splits lack."""
    bucket = F.expr(_split_bucket("spark"))
    return docs.select(
        "doc_id",
        bucket.cast("int").alias("split_bucket"),
        F.when(bucket < val_pct, "val").otherwise("train").alias("split"),
    )


def train_val_split_oracle(val_pct: int = DEFAULT_VAL_PCT) -> str:
    bucket = _split_bucket("duckdb")
    return f"""
        SELECT doc_id,
               CAST({bucket} AS INT) AS split_bucket,
               CASE WHEN {bucket} < {val_pct} THEN 'val' ELSE 'train' END AS split
        FROM documents
    """


# -- quality gate (C4/Gopher-style keep decision) ---------------------------


def quality_gate(
    docs: DataFrame,
    min_score: float = 0.4,
    min_tokens: int = 5,
    lang: str = "en",
) -> DataFrame:
    """Documents that pass the combined quality + language + length gates,
    with the signals that justified the decision (auditability is the point
    of keeping them — a filtered corpus without per-doc evidence can't be
    debugged).

    Spark-side evaluation structure (values unchanged, oracle untouched):
    the tokenize and per-language stopword-hit HOFs are INTERPRETED per
    evaluation, and inlining them through the lang-ID CASE + ratio
    expressions evaluates them ~20× per row (every CASE branch re-counts
    several languages, each re-splitting the text). Pre-projecting the
    token array and one hit count per language — non-cheap aliases, so
    CollapseProject cannot re-inline them — cuts it to 6 evaluations per
    row: measured 3.9 s → 0.6 s warm on the 10× corpus."""
    from ..functions.text import STOPWORDS, _LANG_ORDER, _stop_hits
    from .dedup import spread_cpu

    base = spread_cpu(docs.select("doc_id", "source", "text")).select(
        "doc_id",
        "source",
        "text",
        F.expr(tokens_sql("spark", "text")).alias("_toks"),
    ).select(
        "doc_id",
        "source",
        "text",
        F.expr("size(_toks)").alias("_nt"),
        *[
            F.expr(_stop_hits("spark", "_toks", STOPWORDS[lg])).alias(f"_h_{lg}")
            for lg in _LANG_ORDER
        ],
    )
    n_punct = "length(regexp_replace(text, '[a-zA-Z0-9 ]', ''))"
    score = F.expr(
        f"ROUND(least(CAST(length(text) AS DOUBLE) / _nt, 10.0) / 10.0"
        f" + CAST(_h_en AS DOUBLE) / _nt"
        f" - CAST({n_punct} AS DOUBLE) / length(text), 6)"
    )
    clauses = []
    for i, lg in enumerate(_LANG_ORDER):
        others = [f"_h_{o}" for o in _LANG_ORDER[i + 1 :]]
        cond = " AND ".join(f"_h_{lg} >= {o}" for o in others) or "TRUE"
        clauses.append(f"WHEN {cond} THEN '{lg}'")
    lang_pred = F.expr("CASE " + " ".join(clauses) + " ELSE 'und' END")
    # The nondeterministic barrier column blocks PushDownPredicate from
    # substituting the signal aliases back into the WHERE (pushdown
    # re-expands every alias — the filter alone re-evaluated the tokenize
    # HOF ~25× per row; observed in the optimized plan). The filter must
    # REFERENCE the barrier (always-true: monotonically_increasing_id is
    # non-negative by contract) or ColumnPruning deletes it first and
    # pushdown proceeds anyway. The filter then tests already-computed
    # column refs; the barrier is dropped from the result.
    return (
        base.select(
            "doc_id",
            "source",
            F.col("_nt").cast("int").alias("n_tokens"),
            score.alias("quality_score"),
            lang_pred.alias("lang_pred"),
            F.monotonically_increasing_id().alias("_barrier"),
        )
        .where(
            (F.col("quality_score") >= min_score)
            & (F.col("n_tokens") >= min_tokens)
            & (F.col("lang_pred") == lang)
            & (F.col("_barrier") >= 0)
        )
        .drop("_barrier")
    )


def quality_gate_oracle(min_score: float = 0.4, min_tokens: int = 5, lang: str = "en") -> str:
    q = quality_sql("duckdb", "text")
    return f"""
        SELECT doc_id, source, n_tokens, quality_score, lang_pred FROM (
          SELECT doc_id, source,
                 CAST({q["n_tokens"]} AS INT) AS n_tokens,
                 {q["quality_score"]} AS quality_score,
                 {lang_id_sql("duckdb", "text")} AS lang_pred
          FROM documents)
        WHERE quality_score >= {min_score} AND n_tokens >= {min_tokens}
          AND lang_pred = '{lang}'
    """


# -- benchmark decontamination ----------------------------------------------

N_PROBE_DOCS = 5  # the first documents stand in for a benchmark's items


def contaminated_docs(docs: DataFrame, n_probes: int = N_PROBE_DOCS) -> DataFrame:
    """Corpus documents sharing ≥1 distinct 5-gram with the probe set.

    The decontamination shape: benchmark items (here: the first `n_probes`
    docs) are shingled once into a small distinct-hash set, broadcast, and
    the corpus side is an exploded scan joined semi-style on the hash. At
    100 TB the probe set is still KBs, so the join never shuffles the
    corpus; returns (doc_id, n_shared) for auditability."""
    from .dedup import spread_cpu

    hs = F.expr(hashed_shingles_sql("spark", "text"))
    sh = spread_cpu(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(F.array_distinct(hs)).alias("h")
    )
    probes = (
        sh.where(F.col("doc_id") < n_probes).select("h").distinct()
    )
    return (
        sh.where(F.col("doc_id") >= n_probes)
        .join(F.broadcast(probes), "h")
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n_shared"))
    )


def contaminated_docs_oracle(n_probes: int = N_PROBE_DOCS) -> str:
    hs = hashed_shingles_sql("duckdb", "text")
    return f"""
        WITH sh AS (
          SELECT doc_id, unnest(list_distinct({hs})) AS h FROM documents),
        probes AS (SELECT DISTINCT h FROM sh WHERE doc_id < {n_probes})
        SELECT s.doc_id, CAST(count(*) AS INT) AS n_shared
        FROM sh s JOIN probes p ON s.h = p.h
        WHERE s.doc_id >= {n_probes}
        GROUP BY s.doc_id
    """


# -- document-frequency vocabulary ------------------------------------------


def token_doc_freq(docs: DataFrame, top_n: int = 20) -> DataFrame:
    """Top tokens by document frequency (distinct docs containing them).

    Explode(distinct tokens per doc) → two-phase count → TakeOrdered. The
    shuffle moves (token, partial count) pairs; ties break on the token for
    a deterministic top-k."""
    toks = F.expr(tokens_sql("spark", "text"))
    return (
        docs.select("doc_id", F.explode(F.array_distinct(toks)).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("int").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("token"))
        .limit(top_n)
    )


def token_doc_freq_oracle(top_n: int = 20) -> str:
    toks = tokens_sql("duckdb", "text")
    return f"""
        SELECT token, CAST(count(*) AS INT) AS doc_freq FROM (
          SELECT doc_id, unnest(list_distinct({toks})) AS token FROM documents)
        GROUP BY token
        ORDER BY doc_freq DESC, token
        LIMIT {top_n}
    """


# -- stratified sampling ----------------------------------------------------

# Per-language keep rates (percent) for the registered query: downsample the
# dominant language, keep the tail. The CASE ladder is the "sampling policy
# as data" pattern — at real scale the rates come from a broadcast-joined
# policy table; a literal CASE keeps the registered query self-contained.
STRATA_RATES: tuple[tuple[str, int], ...] = (("en", 20), ("de", 50), ("fr", 50))
DEFAULT_RATE = 80


def _strata_case(dialect: str) -> str:
    arms = " ".join(f"WHEN '{lang}' THEN {rate}" for lang, rate in STRATA_RATES)
    return f"CASE lang {arms} ELSE {DEFAULT_RATE} END"


def stratified_sample(docs: DataFrame) -> DataFrame:
    """Deterministic per-stratum downsampling: keep doc iff
    hash(doc_id) % 100 < rate(lang).

    The LLM-corpus rebalancing primitive (e.g. downweighting English before
    pretraining). Same hash-the-primary-key discipline as train_val_split:
    content-independent, reproducible across runs/machines/partitionings,
    and — unlike `rand()` or `df.sample()` — expressible to the oracle.
    Zero shuffles: the whole operator is a scan-stage filter."""
    bucket = F.expr(_split_bucket("spark"))
    rate = F.expr(_strata_case("spark"))
    return (
        docs.where(bucket < rate)
        .select("doc_id", "lang", bucket.cast("int").alias("sample_bucket"))
    )


def stratified_sample_oracle() -> str:
    bucket = _split_bucket("duckdb")
    rate = _strata_case("duckdb")
    return f"""
        SELECT doc_id, lang, CAST({bucket} AS INT) AS sample_bucket
        FROM documents WHERE {bucket} < {rate}
    """


# -- sequence packing manifest ----------------------------------------------


def pack_manifest(docs: DataFrame, capacity: int = DEFAULT_CAPACITY) -> DataFrame:
    """Concat-and-chunk packing manifest: documents are laid end-to-end per
    `source` in doc_id order; each doc's first token position determines its
    pack (context window) and offset.

    pack_id = (running token total before the doc) DIV capacity — one
    cumulative-sum window per source partition, no Python, no driver state.
    Docs crossing a boundary simply span packs (GPT-style pretraining
    concatenation). The manifest is what a trainer's data loader consumes;
    the engine never materializes the packed blobs."""
    toks = tokens_sql("spark", "text")
    w = (
        "SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    base = docs.select(
        "doc_id", "source", F.expr(f"size({toks})").cast("long").alias("n_tokens")
    )
    return (
        base.withColumn("cum_tokens", F.expr(w))
        .select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            F.floor((F.col("cum_tokens") - F.col("n_tokens")) / capacity)
            .cast("int")
            .alias("pack_id"),
            ((F.col("cum_tokens") - F.col("n_tokens")) % capacity)
            .cast("int")
            .alias("pack_offset"),
        )
    )


def pack_manifest_oracle(capacity: int = DEFAULT_CAPACITY) -> str:
    toks = tokens_sql("duckdb", "text")
    return f"""
        SELECT doc_id, source,
               CAST(n_tokens AS INT) AS n_tokens,
               CAST(FLOOR((cum_tokens - n_tokens) / {capacity}) AS INT) AS pack_id,
               CAST((cum_tokens - n_tokens) % {capacity} AS INT) AS pack_offset
        FROM (
          SELECT doc_id, source, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
          FROM (SELECT doc_id, source, CAST(len({toks}) AS BIGINT) AS n_tokens
                FROM documents))
    """


# -- BPE merge learning (tokenizer training) --------------------------------

N_BPE_MERGES = 3


def _merge_seq_sql(dialect: str, seq: str, a: str, b: str) -> str:
    """Apply one learned merge (a, b) -> 'a_b' to a symbol-sequence array.

    Greedy left-to-right, as BPE defines it. Because the learner only ever
    picks pairs with a != b (self-pairs excluded below), matches can never
    overlap — position i matching (seq[i]=a) and position i being consumed
    by a match at i-1 (seq[i]=b) are mutually exclusive — so the merge is
    position-local and expressible as one array transform in both engines:
    emit ['a_b'] at a match, [] at the consumed position, [token] otherwise.
    """
    if dialect == "spark":
        return (
            f"flatten(transform(sequence(1, size({seq})), i -> "
            f"CASE WHEN i < size({seq}) AND element_at({seq}, i) = {a} "
            f"          AND element_at({seq}, i + 1) = {b} "
            f"     THEN array(concat({a}, '_', {b})) "
            f"     WHEN i > 1 AND element_at({seq}, i - 1) = {a} "
            f"          AND element_at({seq}, i) = {b} "
            f"     THEN array() "
            f"     ELSE array(element_at({seq}, i)) END))"
        )
    return (
        f"flatten(list_transform(generate_series(1, len({seq})), i -> "
        f"CASE WHEN i < len({seq}) AND {seq}[i] = {a} AND {seq}[i + 1] = {b} "
        f"     THEN [{a} || '_' || {b}] "
        f"     WHEN i > 1 AND {seq}[i - 1] = {a} AND {seq}[i] = {b} "
        f"     THEN [] "
        f"     ELSE [{seq}[i]] END))"
    )


def bpe_merges(docs: DataFrame, n_merges: int = N_BPE_MERGES) -> DataFrame:
    """Learn the top-N BPE-style merges over the corpus token sequences:
    (step, left_sym, right_sym, merged, freq) — what a tokenizer trainer
    produces.

    Each round counts adjacent symbol pairs corpus-wide (explode in the
    scan stage + one map-side-combined shuffle of pair counters), takes the
    most frequent pair (deterministic tie-break on the symbols; self-pairs
    a == b are excluded so the merge transform stays overlap-free), applies
    the merge to every sequence as a pure array transform, and repeats on
    the merged sequences — so later merges can combine earlier ones, the
    defining property of BPE. The per-round top-pair pull to the driver is
    ONE row (the same driver-polled-loop discipline as connected
    components' convergence check); everything heavy stays distributed.
    """
    merges, _ = _bpe_fit(docs, n_merges)
    return docs.sparkSession.createDataFrame(
        merges, "step INT, left_sym STRING, right_sym STRING, merged STRING, freq BIGINT"
    )


def _bpe_fit(docs: DataFrame, n_merges: int):
    """The BPE training run, PUBLISHED per (corpus, n_merges) through the
    session artifact registry (operators/models.py) like every other
    trained artifact (minhash sigs, k-means centroids, PQ codebooks):
    returns (merges, final_seqs) where `merges` is the driver-held
    [(step, a, b, merged, freq), …] ladder and `final_seqs` the
    (doc_id, seq) sequences after all merges. `bpe_merges` (the ladder)
    and `bpe_encode` (the applied tokenizer) share ONE learn loop per
    logical input — re-training in encode doubled the most expensive
    tokenizer pass (n_merges full-corpus pair-count aggregations) per
    session."""
    from .models import published

    seqs0 = docs.select("doc_id", F.expr(tokens_sql("spark", "text")).alias("seq"))
    return published(seqs0, "bpe", (n_merges,), lambda: _bpe_learn(seqs0, n_merges))


def _bpe_learn(seqs: DataFrame, n_merges: int):
    """The driver-polled learn loop: one pair-count aggregation + ONE-row
    collect per merge step, each round's sequences lazily checkpointed so
    merge k+1's plan doesn't replay merges 1..k."""
    merges = []
    for step in range(n_merges):
        pairs = (
            seqs.select(
                F.explode(
                    F.expr(
                        "zip_with(slice(seq, 1, size(seq) - 1), slice(seq, 2, size(seq) - 1), "
                        "(a, b) -> struct(a, b))"
                    )
                ).alias("p")
            )
            .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .where(F.col("a") != F.col("b"))
            .groupBy("a", "b")
            .agg(F.count("*").alias("freq"))
        )
        top = pairs.orderBy(F.col("freq").desc(), F.col("a"), F.col("b")).limit(1).collect()
        if not top:
            break
        a, b, freq = top[0]["a"], top[0]["b"], top[0]["freq"]
        merges.append((step, a, b, f"{a}_{b}", freq))
        lit_a, lit_b = a.replace("'", "''"), b.replace("'", "''")
        seqs = seqs.select(
            "doc_id",
            F.expr(_merge_seq_sql("spark", "seq", f"'{lit_a}'", f"'{lit_b}'")).alias("seq"),
        ).localCheckpoint(eager=False)
    return merges, seqs


def _bpe_ctes(n_merges: int) -> str:
    """The learn/merge CTE ladder shared by the bpe_merges / bpe_encode
    oracles: s{i} = sequences after i merges, t{i} = step i's top pair."""
    toks = tokens_sql("duckdb", "text")
    parts = [f"s0 AS (SELECT doc_id, {toks} AS seq FROM documents)"]
    for i in range(n_merges):
        parts.append(
            f"""p{i} AS (
              SELECT z[1] AS a, z[2] AS b, count(*) AS freq FROM (
                SELECT unnest(list_zip(seq[1:-2], seq[2:-1])) AS z FROM s{i})
              WHERE z[1] IS NOT NULL AND z[2] IS NOT NULL AND z[1] != z[2]
              GROUP BY z[1], z[2])"""
        )
        parts.append(
            f"""t{i} AS (SELECT {i} AS step, a, b, a || '_' || b AS merged, freq
                 FROM p{i} ORDER BY freq DESC, a, b LIMIT 1)"""
        )
        parts.append(
            f"""s{i + 1} AS (
              SELECT doc_id, {_merge_seq_sql('duckdb', 'seq', 't.a', 't.b')} AS seq
              FROM s{i} CROSS JOIN t{i} t)"""
        )
    return ",\n        ".join(parts)


def bpe_merges_oracle(n_merges: int = N_BPE_MERGES) -> str:
    unions = " UNION ALL ".join(
        f"SELECT CAST(step AS INT) AS step, a AS left_sym, b AS right_sym, merged, "
        f"CAST(freq AS BIGINT) AS freq FROM t{i}"
        for i in range(n_merges)
    )
    return f"WITH {_bpe_ctes(n_merges)}\n{unions}"


def bpe_encode(docs: DataFrame, n_merges: int = N_BPE_MERGES) -> DataFrame:
    """Apply the learned merges: per-document symbol counts before/after —
    the tokenizer-application half of bpe_merges (the compression the
    learned vocabulary buys, measured on the corpus that trained it).
    Consumes the PUBLISHED `_bpe_fit` run — learn once, encode forever."""
    _, seqs = _bpe_fit(docs, n_merges)
    toks = tokens_sql("spark", "text")
    before = docs.select("doc_id", F.size(F.expr(toks)).alias("n_before"))
    return before.join(
        seqs.select("doc_id", F.size("seq").alias("n_after")), "doc_id"
    ).select("doc_id", "n_before", "n_after")


def bpe_encode_oracle(n_merges: int = N_BPE_MERGES) -> str:
    return f"""WITH {_bpe_ctes(n_merges)}
        SELECT s0.doc_id, CAST(len(s0.seq) AS INT) AS n_before,
               CAST(len(s{n_merges}.seq) AS INT) AS n_after
        FROM s0 JOIN s{n_merges} USING (doc_id)
    """


# -- temperature-based domain mixture sampling -------------------------------

MIX_ALPHA = 0.5  # temperature exponent: 1 = natural distribution, 0 = uniform
MIX_BUDGET_FRAC = 0.5  # sampled corpus size as a fraction of the input


def mixture_sample(
    docs: DataFrame, alpha: float = MIX_ALPHA, budget_frac: float = MIX_BUDGET_FRAC
) -> DataFrame:
    """Temperature-weighted domain rebalancing (the multilingual-pretraining
    sampler): stratum `lang` is sampled at a rate that reshapes the corpus
    toward p_l^alpha — alpha < 1 upweights tail languages relative to the
    head, alpha = 1 keeps natural proportions.

    rate_l = min(1, budget·N·w_l / n_l) with w_l = n_l^alpha / Σ n^alpha;
    the keep decision is the same hash-the-primary-key test as
    `stratified_sample` (content-independent, reproducible, oracle-
    expressible — never `rand()`). Differs from `stratified_sample` in that
    the rates are COMPUTED from the corpus distribution, not read from a
    policy table: the per-stratum counts are a map-side-combined aggregate
    over ~|langs| keys, the rate table is a handful of rows broadcast back,
    and the keep filter is scan-stage — nothing here scales with corpus
    size except the one narrow count pass. The corpus-wide normalizers
    (N, Σ n^alpha) come from a 1-row aggregate broadcast-cross-joined onto
    the counts — not an unpartitioned window, which would plan a
    single-partition WindowExec (all counts to one task)."""
    counts = docs.groupBy("lang").agg(F.count("*").cast("double").alias("n_l"))
    pw = F.pow(F.col("n_l"), F.lit(alpha))
    tot = counts.agg(
        F.sum("n_l").alias("n_tot"), F.sum(pw).alias("z")
    )
    rate = F.round(
        F.least(
            F.lit(1.0),
            F.lit(budget_frac) * F.col("n_tot") * pw / F.col("z") / F.col("n_l"),
        ),
        6,
    )
    rates = counts.crossJoin(F.broadcast(tot)).select("lang", rate.alias("rate"))
    bucket = F.expr(_split_bucket("spark"))
    return (
        docs.join(F.broadcast(rates), "lang")
        .where((bucket % 10000).cast("double") < F.col("rate") * 10000)
        .select("doc_id", "lang", "rate")
    )


def mixture_sample_oracle(
    alpha: float = MIX_ALPHA, budget_frac: float = MIX_BUDGET_FRAC
) -> str:
    bucket = _split_bucket("duckdb")
    return f"""
        WITH counts AS (
          SELECT lang, CAST(count(*) AS DOUBLE) AS n_l FROM documents GROUP BY lang),
        tot AS (SELECT sum(n_l) AS n_tot, sum(pow(n_l, {alpha})) AS z FROM counts),
        rates AS (
          SELECT c.lang,
                 ROUND(LEAST(1.0, {budget_frac} * t.n_tot * pow(c.n_l, {alpha})
                                  / t.z / c.n_l), 6) AS rate
          FROM counts c CROSS JOIN tot t)
        SELECT d.doc_id, d.lang, r.rate
        FROM documents d JOIN rates r USING (lang)
        WHERE CAST(({bucket}) % 10000 AS DOUBLE) < r.rate * 10000
    """


# -- token-window chunking ---------------------------------------------------

CHUNK_TOKENS = 40
CHUNK_OVERLAP = 10


def token_chunks(
    docs: DataFrame, chunk: int = CHUNK_TOKENS, overlap: int = CHUNK_OVERLAP
) -> DataFrame:
    """Overlapping fixed-token-window chunks per document — the
    context-window splitter for embedding/RAG indexing (vs `pack_manifest`,
    which concatenates ACROSS documents for pretraining).

    Tokenize once in the scan stage, explode one start offset per stride
    (chunk − overlap), slice the token array per chunk and rejoin — all
    codegen'd array ops, zero shuffles, output rows ≈ n_tokens/stride per
    doc. Empty documents produce no chunks."""
    stride = chunk - overlap
    toks = tokens_sql("spark", "text")
    base = docs.select("doc_id", F.expr(toks).alias("toks")).where(F.size("toks") > 0)
    return (
        base.select(
            "doc_id",
            "toks",
            F.explode(F.expr(f"sequence(1, size(toks), {stride})")).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / stride).cast("int").alias("chunk_id"),
            F.expr(f"size(slice(toks, start, {chunk}))").cast("int").alias("n_tokens"),
            F.expr(f"array_join(slice(toks, start, {chunk}), ' ')").alias("chunk_text"),
        )
    )


def token_chunks_oracle(chunk: int = CHUNK_TOKENS, overlap: int = CHUNK_OVERLAP) -> str:
    stride = chunk - overlap
    toks = tokens_sql("duckdb", "text")
    return f"""
        WITH base AS (
          SELECT doc_id, {toks} AS toks FROM documents WHERE len({toks}) > 0),
        starts AS (
          SELECT doc_id, toks, unnest(range(1, len(toks) + 1, {stride})) AS start
          FROM base)
        SELECT doc_id,
               CAST((start - 1) / {stride} AS INT) AS chunk_id,
               CAST(len(list_slice(toks, start, start + {chunk} - 1)) AS INT) AS n_tokens,
               array_to_string(list_slice(toks, start, start + {chunk} - 1), ' ') AS chunk_text
        FROM starts
    """


# -- weighted sampling without replacement (Efraimidis–Spirakis) -------------

WS_TOP_N = 50


def weighted_sample(docs: DataFrame, n: int = WS_TOP_N) -> DataFrame:
    """Weighted sampling WITHOUT replacement across a distributed corpus in
    one pass: the exponential-keys scheme (Efraimidis–Spirakis A-ES) — each
    doc draws priority ln(u)/weight with u uniform in (0,1), and the top-n
    priorities are exactly a weight-proportional sample without replacement.

    The draw is the usual deterministic hash of the PRIMARY KEY (never
    rand()), weight = n_chars (longer docs proportionally likelier — the
    token-budget-aware corpus subset selector). Distributed shape: priority
    is a scan-stage expression and top-n is TakeOrderedAndProject — each
    task keeps n rows, no global sort, no per-group state; this is how you
    draw a weighted coreset from 100 TB in one scan."""
    # ln is the one non-correctly-rounded step (libm ulp drift between
    # engines); rounding it FIRST pins both sides to the same double, and
    # the IEEE division after is exact-identical by construction.
    u = f"(({hash32_sql('CAST(doc_id AS STRING)', 'spark')}) % 100000 + 1) / 100001.0"
    pri = F.round(F.expr(f"ROUND(ln({u}), 6)") / F.col("n_chars"), 9)
    return (
        docs.where(F.col("n_chars") > 0)
        .select("doc_id", "lang", F.col("n_chars").alias("weight"), pri.alias("priority"))
        .orderBy(F.col("priority").desc(), F.col("doc_id"))
        .limit(n)
    )


def weighted_sample_oracle(n: int = WS_TOP_N) -> str:
    u = f"(({hash32_sql('CAST(doc_id AS STRING)', 'duckdb')}) % 100000 + 1) / 100001.0"
    return f"""
        SELECT doc_id, lang, n_chars AS weight,
               ROUND(ROUND(ln({u}), 6) / n_chars, 9) AS priority
        FROM documents WHERE n_chars > 0
        ORDER BY priority DESC, doc_id LIMIT {n}
    """


# -- DSIR importance resampling ----------------------------------------------

# Hashed n-gram feature buckets (the paper uses 10k over CommonCrawl;
# scaled to the fixture vocabulary), curated exemplar sources standing in
# for the paper's formal-text target, and the resample size.
DSIR_M = 1024
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")
DSIR_TOP_K = 50


def _dsir_bucket_counts(src: DataFrame, extra: tuple[str, ...]) -> DataFrame:
    """(doc_id, *extra, bucket, c): hashed uni+bigram feature bucket counts
    of a (doc_id, *extra, text) table — the DSIR feature extractor.

    Features are token unigrams plus token bigrams (bigrams contain a
    space so the two classes can never collide; the degenerate <2-token
    tail gram is dropped for the same reason), hashed into DSIR_M buckets.
    The scan-stage trick is the same BOS-sentinel transition table as the
    perplexity trainer: with a single-space BOS prepended, every real
    token occurrence is exactly one transition target, so ONE per-(doc,
    prev, token) aggregation yields occurrence-exact unigram counts
    (target column) AND bigram counts (prev <> BOS rows) — the md5 bucket
    hash then runs on the compressed distinct-bigram rows, not once per
    raw occurrence, and every expression stays codegen'd (an
    explode-the-feature-strings shape with an interpreted n-gram HOF
    lambda measured ~2× slower at sf0.1)."""
    toks_expr = tokens_sql("spark", "text")
    t = src.select(
        "doc_id", *extra, F.expr(f"concat(array(' '), {toks_expr})").alias("toks")
    )
    trans = t.select(
        "doc_id",
        *extra,
        F.explode(
            F.expr(
                "arrays_zip(slice(toks, 1, size(toks) - 1), "
                "slice(toks, 2, size(toks) - 1))"
            )
        ).alias("pr"),
    ).select(
        "doc_id", *extra,
        F.col("pr.0").alias("prev"), F.col("pr.1").alias("token"),
    )
    dtc = trans.groupBy("doc_id", *extra, "prev", "token").agg(
        F.count("*").alias("n")
    )
    bucket_of = lambda e: F.expr(f"({hash32_sql(e, 'spark')}) % {DSIR_M}")  # noqa: E731
    # Both feature buckets are computed as plain columns BEFORE the explode
    # (the generator consumes attribute refs — md5 inside the Generate's
    # array constructor is the known janino fusion hazard), and emitted by
    # ONE pass over dtc: a unionAll of two projections instead lets
    # Catalyst push the prev-filter below the aggregate, splitting the
    # branches into two full scan+aggregate executions (measured 2× the
    # corpus-pass cost at sf0.1).
    feats = (
        dtc.select(
            "doc_id",
            *extra,
            "n",
            bucket_of("token").alias("ubucket"),
            F.when(
                F.col("prev") != F.lit(" "),
                bucket_of("concat_ws(' ', prev, token)"),
            ).alias("bbucket"),
        )
        .select(
            "doc_id",
            *extra,
            "n",
            F.explode(
                F.array_compact(F.array(F.col("ubucket"), F.col("bbucket")))
            ).alias("bucket"),
        )
    )
    return feats.groupBy("doc_id", *extra, "bucket").agg(F.sum("n").alias("c"))


def _dsir_features(docs: DataFrame) -> DataFrame:
    """The published corpus feature table (doc_id, is_target, bucket, c) —
    the SHARED DOMINANT COMPUTE of the DSIR family: the one corpus scan +
    corpus-sized shuffle, consumed by both feature LMs, the per-doc log
    weights, and the online model build. Spread wide before the tokenize
    pass (CPU-dominant; a small parquet corpus arrives as one split)."""
    from .dedup import spread_cpu
    from .models import published

    return published(
        docs,
        "dsir_ft",
        (DSIR_M, DSIR_TARGET_SOURCES),
        lambda: _dsir_bucket_counts(
            spread_cpu(
                docs.select(
                    "doc_id",
                    F.col("source").isin(*DSIR_TARGET_SOURCES).alias("is_target"),
                    "text",
                )
            ),
            ("is_target",),
        ).localCheckpoint(eager=True),
    )


def dsir_model(docs: DataFrame) -> tuple[DataFrame, float]:
    """The trained DSIR model: a DSIR_M-row broadcastable delta table
    (bucket, delta) with delta_b = ln p̂_target(b) − ln p̂_raw(b) (add-one
    smoothed, each ln rounded to 6dp so libm ulp drift can't split
    engines), plus the default delta an UNSEEN bucket scores under the
    same smoothing — what makes the model honest on held-out text.

    r9: the model itself is now published (it used to be rederived per
    call under the r4 cheap-intermediate rule, with only the corpus pass
    published) — measured at 430–530 ms per BUILD (the totals .first()
    job over the feature table plus the eager lm checkpoint), repeated by
    every consumer build per bench run. The delta table is DSIR_M rows —
    squarely the row-bounded artifact class the r4 rule publishes."""
    from .models import published

    return published(docs, "dsir_model", (), lambda: _dsir_model_build(docs))


def _dsir_model_build(docs: DataFrame) -> tuple[DataFrame, float]:
    import math

    ft = _dsir_features(docs)
    lm = ft.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(F.lit(0))).alias("tc"),
        F.sum(F.when(~F.col("is_target"), F.col("c")).otherwise(F.lit(0))).alias("rc"),
    )
    t_total, r_total = lm.agg(
        F.sum("tc").cast("double"), F.sum("rc").cast("double")
    ).first()
    delta = F.round(
        F.log((F.col("tc") + F.lit(1.0)) / F.lit(float(t_total) + DSIR_M)), 6
    ) - F.round(
        F.log((F.col("rc") + F.lit(1.0)) / F.lit(float(r_total) + DSIR_M)), 6
    )
    default = round(math.log(1.0 / (float(t_total) + DSIR_M)), 6) - round(
        math.log(1.0 / (float(r_total) + DSIR_M)), 6
    )
    return (
        lm.select("bucket", delta.alias("delta")).localCheckpoint(eager=True),
        default,
    )


def _dsir_logw_plan(docs: DataFrame) -> DataFrame:
    """Every raw-pool document's DSIR log importance weight, (doc_id, logw)
    — the training+scoring plan under `dsir_importance_sample` (point
    plan-shape tests here; the registered query reads the published
    checkpoint). The published feature table feeds both the model build
    and the weight aggregate, so the corpus is scanned exactly once; the
    log weight is one per-doc aggregate over a broadcast delta join."""
    ft = _dsir_features(docs)
    delta_df, _ = dsir_model(docs)
    return (
        ft.where(~F.col("is_target"))
        .join(F.broadcast(delta_df), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("c") * F.col("delta")), 4).alias("logw"))
    )


def dsir_importance_sample(docs: DataFrame, k: int = DSIR_TOP_K) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for Language
    Models via Importance Resampling"): fit two bag-of-hashed-n-grams
    unigram feature LMs — one on a curated target set, one on the raw
    pool — weight every raw document by its log importance ratio
    log p_target(x) − log p_raw(x), and draw a weight-proportional sample
    without replacement via Gumbel-top-k.

    The published artifact is the SCORED table (one row per raw doc — the
    train-once/resample-forever boundary: every consumer, including the
    sampling gate suite and any k, rides one training pass); the resample
    head is TakeOrdered over it — no global sort. The Gumbel draw is the
    usual deterministic hash of the PRIMARY KEY, never rand().
    """
    from .models import disk_checkpoint, published

    scored = published(
        docs,
        "dsir_logw",
        (DSIR_M, DSIR_TARGET_SOURCES),
        # one row per doc: corpus-sized -> columnar disk artifact
        lambda: disk_checkpoint(_dsir_logw_plan(docs), "dsir_logw"),
    )
    u = f"(({hash32_sql('CAST(doc_id AS STRING)', 'spark')}) % 100000 + 1) / 100001.0"
    gumbel = F.expr(f"ROUND(-ln(-ln({u})), 6)")
    return (
        scored.select(
            "doc_id",
            "logw",
            F.round(F.col("logw") + gumbel, 4).alias("gumbel_key"),
        )
        .orderBy(F.col("gumbel_key").desc(), "doc_id")
        .limit(k)
    )


def dsir_importance_sample_oracle(k: int = DSIR_TOP_K) -> str:
    toks = tokens_sql("duckdb", "text")
    grams = token_ngrams_sql("duckdb", "toks", 2)
    srcs = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    u = f"(({hash32_sql('CAST(doc_id AS STRING)', 'duckdb')}) % 100000 + 1) / 100001.0"
    m = DSIR_M
    return f"""
        WITH t AS MATERIALIZED (
          SELECT doc_id, source IN ({srcs}) AS is_target, {toks} AS toks
          FROM documents),
        f AS (
          SELECT doc_id, is_target,
                 unnest(list_concat(toks, CASE WHEN len(toks) >= 2
                        THEN {grams} ELSE [] END)) AS feat
          FROM t),
        ft AS MATERIALIZED (
          SELECT doc_id, is_target, ({hash32_sql('feat', 'duckdb')}) % {m} AS bucket,
                 count(*) AS c
          FROM f GROUP BY doc_id, is_target, bucket),
        lm AS MATERIALIZED (
          SELECT bucket,
                 sum(CASE WHEN is_target THEN c ELSE 0 END) AS tc,
                 sum(CASE WHEN NOT is_target THEN c ELSE 0 END) AS rc
          FROM ft GROUP BY bucket),
        tot AS (SELECT CAST(sum(tc) AS DOUBLE) AS tt,
                       CAST(sum(rc) AS DOUBLE) AS tr FROM lm),
        lmd AS (
          SELECT bucket,
                 ROUND(ln((tc + 1.0) / (tt + {m})), 6)
                   - ROUND(ln((rc + 1.0) / (tr + {m})), 6) AS delta
          FROM lm CROSS JOIN tot),
        logw AS (
          SELECT ft.doc_id, ROUND(sum(ft.c * lmd.delta), 4) AS logw
          FROM ft JOIN lmd USING (bucket)
          WHERE NOT ft.is_target GROUP BY ft.doc_id)
        SELECT doc_id, logw,
               ROUND(logw + ROUND(-ln(-ln({u})), 6), 4) AS gumbel_key
        FROM logw ORDER BY gumbel_key DESC, doc_id LIMIT {k}
    """


# -- token-budget admission ---------------------------------------------------

BUDGET_FRAC_DENOM = 2  # admit the best docs up to half the corpus tokens


def budget_admission(docs: DataFrame) -> DataFrame:
    """Quality-ordered token-budget admission: admit documents in
    descending quality order until the cumulative token count reaches the
    budget (half the corpus tokens) — the curation step that turns a
    ranked corpus into a fixed-size training set.

    The naive form is `sum(tokens) OVER (ORDER BY quality DESC)` — which
    Spark plans as an Exchange to ONE partition (the global-sort
    scale-killer). This uses `global_prefix_sum` (operators/prefix.py):
    range-partition on (quality DESC, doc_id), per-range cumulative
    window, exclusive per-partition offsets — #partitions rows to the
    driver, everything row-scaled distributed. The budget itself is one
    1-row aggregate folded to a literal; admission is a scan-stage
    comparison."""
    from .models import published
    from .prefix import global_prefix_sum

    q = quality_sql("spark", "text")
    d = docs.select(
        "doc_id",
        F.expr(q["n_tokens"]).cast("bigint").alias("n_tokens"),
        F.round(F.expr(q["quality_score"]), 6).alias("quality_score"),
    )
    # r9: both the 1-row token total (a full tokenize-HOF pass) and the
    # prefix-summed admission table (global_prefix_sum eagerly checkpoints
    # its range-partitioned pass at BUILD time, by design — the offsets
    # must see the sampled layout) are published through the artifact
    # registry: the total is the r4 rule's row-bounded class, the cum
    # table its shared-dominant-compute class (same as the signature /
    # feature tables models.py documents). Only the first build per
    # corpus snapshot pays the scans; bench's per-query models.clear()
    # keeps cold runs honest. Values identical by construction — the
    # published frame IS the one the un-published build returned.
    total, c = published(
        docs,
        "budget_admission_cum",
        (),
        lambda: (
            int(d.agg(F.sum("n_tokens")).first()[0] or 0),
            global_prefix_sum(
                d,
                [F.col("quality_score").desc(), F.col("doc_id")],
                "n_tokens",
                "cum_tokens",
            ),
        ),
    )
    budget = int(total) // BUDGET_FRAC_DENOM
    return c.select(
        "doc_id",
        "quality_score",
        "n_tokens",
        "cum_tokens",
        (F.col("cum_tokens") <= F.lit(budget)).alias("admitted"),
    )


def budget_admission_oracle() -> str:
    q = quality_sql("duckdb", "text")
    return f"""
        WITH d AS MATERIALIZED (
          SELECT doc_id,
                 CAST({q["n_tokens"]} AS BIGINT) AS n_tokens,
                 ROUND({q["quality_score"]}, 6) AS quality_score
          FROM documents),
        tot AS (SELECT CAST(sum(n_tokens) // {BUDGET_FRAC_DENOM} AS BIGINT)
                  AS budget FROM d),
        c AS (SELECT doc_id, quality_score, n_tokens,
                     CAST(sum(n_tokens) OVER (
                       ORDER BY quality_score DESC, doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              FROM d)
        SELECT doc_id, quality_score, n_tokens, cum_tokens,
               (cum_tokens <= tot.budget) AS admitted
        FROM c CROSS JOIN tot
    """


# -- curriculum difficulty binning -------------------------------------------

BIN_QUANTILES = (0.25, 0.5, 0.75)


def difficulty_bins(docs: DataFrame) -> DataFrame:
    """Quartile curriculum bins by quality score — the ordering signal for
    easy-to-hard training schedules: (doc_id, score, bin 1..4), bin 1 =
    lowest-quality quartile.

    The scalable bin-assignment shape: thresholds are computed ONCE as a
    one-row exact-percentile aggregate (sort-based partial state, no
    collect), broadcast back as a scalar cross join (the same pattern as
    BM25's corpus constants), and the bin is three scan-stage comparisons.
    Never ntile() — a global row_number/ntile forces a single-partition
    total sort that cannot scale; quantile thresholds give the same bins up
    to boundary ties for O(scan) cost. At 100 TB the exact percentile
    swaps for approx_percentile (t-digest) — this is the exact baseline
    it would be checked against."""
    q = quality_sql("spark", "text")
    scored = docs.select("doc_id", F.expr(q["quality_score"]).alias("score"))
    qlist = ", ".join(str(p) for p in BIN_QUANTILES)
    # one array-argument percentile buffer, not one per quantile — the
    # exact percentile's cost IS its value buffer (see winsorized_stats)
    thresholds = scored.agg(
        F.expr(f"percentile(score, array({qlist}))").alias("ts")
    ).select(*[F.col("ts")[i].alias(f"t{i}") for i in range(len(BIN_QUANTILES))])
    b = (
        F.lit(1)
        + F.when(F.col("score") > F.col("t0"), 1).otherwise(0)
        + F.when(F.col("score") > F.col("t1"), 1).otherwise(0)
        + F.when(F.col("score") > F.col("t2"), 1).otherwise(0)
    )
    return scored.join(F.broadcast(thresholds)).select(
        "doc_id", "score", b.cast("int").alias("bin")
    )


def difficulty_bins_oracle() -> str:
    q = quality_sql("duckdb", "text")
    qs = ", ".join(
        f"quantile_cont(score, {p}) AS t{i}" for i, p in enumerate(BIN_QUANTILES)
    )
    return f"""
        WITH scored AS (
          SELECT doc_id, {q["quality_score"]} AS score FROM documents),
        th AS (SELECT {qs} FROM scored)
        SELECT s.doc_id, s.score,
               CAST(1 + (s.score > th.t0)::INT + (s.score > th.t1)::INT
                      + (s.score > th.t2)::INT AS INT) AS bin
        FROM scored s CROSS JOIN th
    """


# -- deterministic global shuffle / shard layout -----------------------------

SHUFFLE_SHARDS = 8


def global_shuffle(docs: DataFrame, n_shards: int = SHUFFLE_SHARDS) -> DataFrame:
    """The LAST step of training-data prep: a reproducible global shuffle
    laid out as shards — (doc_id, shard, pos), where `shard` is which
    output file the doc lands in and `pos` its position inside it.

    The permutation key is the usual deterministic hash of the PRIMARY KEY
    (never rand()): hash(doc_id) spreads correlated neighbors (same crawl,
    same source) uniformly, shard = hash % n_shards, pos = rank of hash
    within the shard. Scale shape: one shuffle on `shard` (each reducer
    holds corpus/n_shards rows — pick n_shards so a shard fits a
    data-loader worker) and a per-shard sort; there is NO global total
    order, which is the point — a single-sequence global sort cannot scale,
    and shard-local order + shard interleaving at read time is how trainers
    actually consume a shuffled corpus."""
    from pyspark.sql.window import Window

    h = F.expr(hash32_sql("CAST(doc_id AS STRING)", "spark"))
    base = docs.select("doc_id", h.alias("h"), (h % n_shards).cast("int").alias("shard"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return base.select(
        "doc_id",
        "shard",
        (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
    )


def global_shuffle_oracle(n_shards: int = SHUFFLE_SHARDS) -> str:
    h = hash32_sql("CAST(doc_id AS STRING)", "duckdb")
    return f"""
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
                    AS BIGINT) AS pos
        FROM (SELECT doc_id, {h} AS h, CAST(({h}) % {n_shards} AS INT) AS shard
              FROM documents)
    """


# -- bloom-filter decontamination -------------------------------------------
#
# The scale variant of `contaminated_docs`: instead of broadcast-JOINING the
# corpus's exploded shingles against the probe-shingle set, the probe set is
# folded once into a fixed-size Bloom bitmap (BLOOM_NBITS bits as 32-bit
# words in a bigint array — a few hundred KB no matter how many benchmark
# items feed it) and the corpus side probes it with a scan-stage `exists`
# over its shingle array: no explode, no join, no shuffle anywhere on the
# corpus path. At 100 TB the entire decontamination pass is a single narrow
# filter whose only upstream is a KB→MB-sized aggregate of the (tiny)
# benchmark table. False positives over-remove at a bounded, tunable rate
# (k=3 probes; size BLOOM_NBITS for the benchmark's shingle count — 2^20
# bits ≈ 1.2e-5 per-shingle FP at 2% fill); false negatives are impossible,
# which is the direction decontamination must never be wrong in. The DuckDB
# twin implements the IDENTICAL bitmap (same hashes, same k, same width), so
# both engines agree bit-for-bit, false positives included — the oracle
# check stays a value-level hash match, not an approximation envelope.

BLOOM_NBITS = 1 << 20  # bits in the filter (128 KiB)
BLOOM_WORDS = BLOOM_NBITS // 32  # 32-bit words, stored in BIGINTs
# Odd multipliers (xxhash/Murmur primes): h < 2^31 keeps a*h below 2^63.
_BLOOM_PROBES: tuple[tuple[int, int], ...] = (
    (2_654_435_761, 0x1234_5),
    (2_246_822_519, 0x6789_A),
    (3_266_489_917, 0xBCDE_F),
)


def _bloom_pos(h: str, j: int) -> str:
    """Bit position of probe j for shingle-hash expression `h` (both dialects)."""
    a, b = _BLOOM_PROBES[j]
    return f"(({a} * {h} + {b}) % {BLOOM_NBITS})"


def _bloom_bit_test(words: str, h: str, dialect: str) -> str:
    """AND over the k probe bits of `h` against bigint-word array `words`."""
    tests = []
    for j in range(len(_BLOOM_PROBES)):
        pos = _bloom_pos(h, j)
        if dialect == "spark":
            elem = f"element_at({words}, CAST({pos} div 32 AS INT) + 1)"
            tests.append(f"((shiftright({elem}, CAST({pos} % 32 AS INT)) & 1) = 1)")
        else:
            elem = f"{words}[({pos} // 32) + 1]"
            tests.append(f"((({elem} >> ({pos} % 32)) & 1) = 1)")
    return "(" + " AND ".join(tests) + ")"


def bloom_build(docs: DataFrame, n_probes: int = N_PROBE_DOCS) -> DataFrame:
    """1-row (words bigint[BLOOM_WORDS]) Bloom bitmap of the probe docs'
    token-trigram hashes. Zero-filled via a range union so the array is
    dense; the bit_or aggregate map-side-combines to BLOOM_WORDS rows before
    the single shuffle."""
    bits = (
        docs.where(F.col("doc_id") < n_probes)
        .select(F.expr(tokens_sql("spark", "text")).alias("tk"))
        .select(F.explode(F.expr(hashed_token_ngrams_sql("spark", "tk"))).alias("h"))
        .select(
            F.explode(
                F.array(*[F.expr(_bloom_pos("h", j)) for j in range(len(_BLOOM_PROBES))])
            ).alias("pos")
        )
        .select(
            F.expr("pos div 32").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("m"),
        )
    )
    zeros = docs.sparkSession.range(BLOOM_WORDS).select(
        F.col("id").alias("word"), F.lit(0).cast("long").alias("m")
    )
    return (
        bits.unionByName(zeros)
        .groupBy("word")
        .agg(F.bit_or("m").alias("m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("word", "m"))), lambda s: s["m"]
            ).alias("words")
        )
    )


def decontaminate_bloom(docs: DataFrame, n_probes: int = N_PROBE_DOCS) -> DataFrame:
    """Clean corpus doc_ids: docs (beyond the probe set) whose shingle sets
    never fully hit the probe Bloom filter. The corpus side is one narrow
    scan — the bitmap arrives via a broadcast 1-row cross join."""
    from .dedup import spread_cpu

    hit = _bloom_bit_test("words", "h", "spark")
    grams = hashed_token_ngrams_sql("spark", "tk")
    return (
        spread_cpu(docs.select("doc_id", "text"))
        .where(F.col("doc_id") >= n_probes)
        .select("doc_id", F.expr(tokens_sql("spark", "text")).alias("tk"))
        .crossJoin(F.broadcast(bloom_build(docs, n_probes)))
        .where(F.expr(f"NOT exists({grams}, h -> {hit})"))
        .select("doc_id")
    )


def decontaminate_bloom_oracle(n_probes: int = N_PROBE_DOCS) -> str:
    grams = hashed_token_ngrams_sql("duckdb", "tk")
    hit = _bloom_bit_test("b.words", "h", "duckdb")
    pos_rows = " UNION ALL ".join(
        f"SELECT {_bloom_pos('h', j)} AS pos FROM probe_hashes" for j in range(len(_BLOOM_PROBES))
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, {tokens_sql("duckdb", "text")} AS tk FROM documents),
        probe_hashes AS (
          SELECT DISTINCT unnest({grams}) AS h
          FROM toks WHERE doc_id < {n_probes}),
        bits AS (
          SELECT pos // 32 AS word, CAST(1 AS BIGINT) << (pos % 32) AS m
          FROM ({pos_rows})
          UNION ALL
          SELECT w AS word, CAST(0 AS BIGINT) AS m
          FROM generate_series(0, {BLOOM_WORDS - 1}) t(w)),
        bloom AS (
          SELECT array_agg(m ORDER BY word) AS words
          FROM (SELECT word, bit_or(m) AS m FROM bits GROUP BY word))
        SELECT d.doc_id
        FROM toks d CROSS JOIN bloom b
        WHERE d.doc_id >= {n_probes}
          AND len(list_filter({grams}, h -> {hit})) = 0
    """


# -- fixed-size per-stratum sample (distributed reservoir) -------------------

FIXED_SAMPLE_K = 20


def grouped_fixed_sample(docs: DataFrame, k: int = FIXED_SAMPLE_K) -> DataFrame:
    """EXACTLY-k documents per language stratum (fewer only if the stratum
    is smaller): the fixed-budget complement of `stratified_sample`'s
    fixed-RATE filter — eval-set construction, per-domain probes, anything
    that needs a constant per-group budget regardless of group size.

    Deterministic reservoir analog: order each stratum by a content-
    independent hash of the primary key (uniform, reproducible — never
    `rand()`, which the oracle cannot replay) and keep the first k by
    row_number. One shuffle on the group key + an in-partition window —
    never a global sort. A true single-pass reservoir (mergeable per-task
    top-k heaps) has the same output law; the window form IS Spark's
    mergeable implementation of it: the rank sort is per-stratum, and at
    100 TB strata are large but the shuffle moves only (doc_id, lang,
    hash) triples, not document text."""
    from pyspark.sql.window import Window
    from ..functions.hashing import hash32_sql

    h = F.expr(hash32_sql("CAST(doc_id AS STRING)", "spark"))
    w = Window.partitionBy("lang").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("lang", "doc_id", F.col("rank").cast("int").alias("rank"))
    )


def grouped_fixed_sample_oracle(k: int = FIXED_SAMPLE_K) -> str:
    from ..functions.hashing import hash32_sql

    h = hash32_sql("CAST(doc_id AS VARCHAR)", "duckdb")
    return f"""
        WITH ranked AS (
          SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                                    ORDER BY {h} ASC, doc_id ASC) AS rank
          FROM documents)
        SELECT lang, doc_id, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= {k}
    """


# -- per-source quota capping ------------------------------------------------

DOMAIN_CAP_K = 10


def domain_cap(docs: DataFrame, cap: int = DOMAIN_CAP_K) -> DataFrame:
    """Per-SOURCE quota enforcement (the RefinedWeb-style domain cap): rank
    each source's docs by quality score (ties broken by doc_id) and keep at
    most `cap` — the anti-domination control that stops one crawl domain
    from flooding the mixture. Output keeps EVERY doc with its decision
    (doc_id, source, quality_score, rank_in_source, kept) — what a pipeline
    writes back as the per-doc admit column.

    Scale shape: one quality pass in the scan stage + one window shuffle
    partitioned BY SOURCE. Source cardinality is large in practice (one
    partition per domain, millions of keys) so the window parallelizes;
    a pathological mega-domain is exactly the thing the cap exists to
    bound, and its rank window is one sort of that domain's rows."""
    q = quality_sql("spark", "text")["quality_score"]
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.expr(q).alias("quality_score"))
        .withColumn("rank_in_source", F.row_number().over(w))
        .select(
            "doc_id",
            "source",
            "quality_score",
            "rank_in_source",
            (F.col("rank_in_source") <= cap).alias("kept"),
        )
    )


def domain_cap_oracle(cap: int = DOMAIN_CAP_K) -> str:
    q = quality_sql("duckdb", "text")["quality_score"]
    return f"""
        WITH scored AS (SELECT doc_id, source, {q} AS quality_score
                        FROM documents),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY source
                     ORDER BY quality_score DESC, doc_id) AS rank_in_source
                   FROM scored)
        SELECT doc_id, source, quality_score, rank_in_source,
               rank_in_source <= {cap} AS kept
        FROM ranked
    """


VOCAB_MIN_DF = 3        # tokens in fewer docs are 'rare'
VOCAB_MAX_DF_FRAC = 0.5  # tokens in more than this doc fraction are 'stopword'


def vocab_prune_report(docs: DataFrame) -> DataFrame:
    """(token, df, occurrences, verdict): vocabulary-construction hygiene —
    tokens too RARE to earn an embedding/merge slot (df < VOCAB_MIN_DF)
    and too UBIQUITOUS to carry signal (df > VOCAB_MAX_DF_FRAC of docs)
    flagged with their document frequency and total occurrence mass; kept
    tokens are omitted so the report is pruned-vocabulary-sized. One
    token shuffle + a broadcast 1-row corpus count."""
    toks = docs.select(
        "doc_id", F.explode(F.expr(tokens_sql("spark", "text"))).alias("token")
    )
    stats = toks.groupBy("token").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df"),
        F.count("*").cast("bigint").alias("occurrences"),
    )
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    verdict = (
        F.when(F.col("df") < VOCAB_MIN_DF, "rare")
        .when(F.col("df") > VOCAB_MAX_DF_FRAC * F.col("n_docs"), "stopword")
        .otherwise("keep")
    )
    return (
        stats.crossJoin(F.broadcast(n))
        .select("token", "df", "occurrences", verdict.alias("verdict"))
        .where(F.col("verdict") != "keep")
    )


def vocab_prune_report_oracle() -> str:
    toks = tokens_sql("duckdb", "text")
    return f"""
        WITH toks AS (SELECT doc_id, unnest({toks}) AS token FROM documents),
        stats AS (SELECT token,
                         CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
                         CAST(count(*) AS BIGINT) AS occurrences
                  FROM toks GROUP BY token),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        SELECT token, df, occurrences,
               CASE WHEN df < {VOCAB_MIN_DF} THEN 'rare'
                    WHEN df > {VOCAB_MAX_DF_FRAC} * n.n_docs THEN 'stopword'
                    ELSE 'keep' END AS verdict
        FROM stats CROSS JOIN n
        WHERE (CASE WHEN df < {VOCAB_MIN_DF} THEN 'rare'
                    WHEN df > {VOCAB_MAX_DF_FRAC} * n.n_docs THEN 'stopword'
                    ELSE 'keep' END) != 'keep'
    """


# -- cluster-aware split (leakage-free by construction) ------------------------


def cluster_split(docs: DataFrame, val_pct: int = DEFAULT_VAL_PCT) -> DataFrame:
    """(doc_id, grp, split_bucket, split): train/val assignment hashed on
    the NEAR-DUP CLUSTER, not the document — every member of a cluster
    lands on the same side, so no near-duplicate pair can straddle the
    split. The constructive fix for what `split_leakage_audit` measures
    on the naive doc-hash split: a val doc whose near-twin sits in train
    is a leaked eval answer (the Lee et al. 2021 dedup-test-leakage
    finding), and auditing can only find it after the fact — grouping the
    split unit makes it impossible.

    grp = the doc's connected-component label from the published cluster
    map (its own id for singletons), so the split rides the same
    artifact the dedup family maintains — one broadcast-sized left join
    on top of a scan, no new corpus pass. Same hash-the-key discipline
    as `train_val_split`: content-independent, reproducible, oracle-
    expressible."""
    from .dedup import connected_components, minhash_lsh_star_edges

    clusters = connected_components(minhash_lsh_star_edges(docs))
    grp = F.coalesce(F.col("cluster"), F.col("doc_id"))
    bucket = F.expr(
        f"{hash32_sql('CAST(grp AS STRING)', 'spark')} % 100"
    )
    return (
        docs.join(clusters, "doc_id", "left")
        .select("doc_id", grp.alias("grp"))
        .select(
            "doc_id",
            "grp",
            bucket.cast("int").alias("split_bucket"),
            F.when(bucket < val_pct, "val").otherwise("train").alias("split"),
        )
    )


def cluster_split_oracle(val_pct: int = DEFAULT_VAL_PCT) -> str:
    from .dedup import connected_components_oracle, minhash_lsh_pairs_oracle

    cc = connected_components_oracle(minhash_lsh_pairs_oracle())
    bucket = f"{hash32_sql('CAST(grp AS STRING)', 'duckdb')} % 100"
    return f"""
        WITH csp_cc AS MATERIALIZED ({cc}),
        csp_grp AS (
          SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS grp
          FROM documents d LEFT JOIN csp_cc c ON c.doc_id = d.doc_id)
        SELECT doc_id, grp,
               CAST({bucket} AS INT) AS split_bucket,
               CASE WHEN {bucket} < {val_pct} THEN 'val' ELSE 'train' END AS split
        FROM csp_grp
    """


# -- corpus statistical laws: Heaps' vocabulary growth + Zipf rank-frequency -

ZIPF_TOP_N = 1000  # rank-frequency fit over the top-N tokens


def vocab_growth(docs: DataFrame) -> DataFrame:
    """Heaps'-law raw material: per document in doc_id order,
    (doc_id, n_tokens, tokens_cum, new_types, vocab_cum) — how the
    distinct-token vocabulary grows as the corpus is consumed. The
    mixture-design diagnostic behind dedup and sampling decisions: a
    vocabulary that stops growing marks a corpus gone repetitive; one
    growing linearly marks noise/IDs masquerading as text.

    Everything is EXACT integers (fully hash-verifiable): token counts
    from the scan stage, first-occurrence doc per type via one
    (token → min(doc_id)) aggregate, and both cumulative columns through
    operators/prefix.py::global_prefix_sum — range-partitioned two-phase
    scans, never a single-partition `SUM() OVER (ORDER BY)` (the
    plan-sweep rule; the oracle, a single-node engine, uses the plain
    window form of the same arithmetic)."""
    from .models import disk_checkpoint, published
    from .prefix import global_prefix_sum

    def build() -> DataFrame:
        toks = F.expr(tokens_sql("spark", "text"))
        per_doc = docs.select(
            "doc_id", F.size(toks).cast("bigint").alias("n_tokens")
        )
        first = (
            docs.select("doc_id", F.explode(toks).alias("token"))
            .groupBy("token")
            .agg(F.min("doc_id").alias("first_doc"))
            .groupBy(F.col("first_doc").alias("doc_id"))
            .agg(F.count("*").cast("bigint").alias("new_types"))
        )
        base = per_doc.join(first, "doc_id", "left").select(
            "doc_id",
            "n_tokens",
            F.coalesce("new_types", F.lit(0)).cast("bigint").alias("new_types"),
        )
        cum1 = global_prefix_sum(
            base, [F.col("doc_id")], "n_tokens", out_col="tokens_cum"
        )
        cum2 = global_prefix_sum(
            cum1, [F.col("doc_id")], "new_types", out_col="vocab_cum"
        )
        # published: the registered query, the Heaps/Zipf fit, and the
        # profile_suite melt all read this table — re-deriving it per
        # consumer re-pays the token explode + type aggregate each time
        return disk_checkpoint(
            cum2.select(
                "doc_id",
                "n_tokens",
                F.col("tokens_cum").cast("bigint").alias("tokens_cum"),
                "new_types",
                F.col("vocab_cum").cast("bigint").alias("vocab_cum"),
            ),
            "vocab_growth",
        )

    return published(docs, "vocab_growth", (), build)


def vocab_growth_oracle() -> str:
    toks = tokens_sql("duckdb", "text")
    return f"""
        WITH vg_docs AS (
          SELECT doc_id, {toks} AS toks FROM documents),
        vg_per_doc AS (
          SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM vg_docs),
        vg_first AS (
          SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS new_types
          FROM (SELECT token, MIN(doc_id) AS first_doc
                FROM (SELECT doc_id, unnest(toks) AS token FROM vg_docs) t
                GROUP BY token) f
          GROUP BY first_doc)
        SELECT p.doc_id, p.n_tokens,
               CAST(SUM(p.n_tokens) OVER w AS BIGINT) AS tokens_cum,
               CAST(COALESCE(f.new_types, 0) AS BIGINT) AS new_types,
               CAST(SUM(COALESCE(f.new_types, 0)) OVER w AS BIGINT) AS vocab_cum
        FROM vg_per_doc p LEFT JOIN vg_first f ON p.doc_id = f.doc_id
        WINDOW w AS (ORDER BY p.doc_id ROWS UNBOUNDED PRECEDING)
    """


def _loglog_fit_spark(
    points: DataFrame, n_out: str, slope_out: str, icept_out: str
) -> DataFrame:
    """One-row OLS fit over 1e6-scaled integer log points (xi, yi): all
    sums are exact DECIMAL(38,0) (no float summation order), the slope
    is ONE rounded division of exact integers, and the intercept is one
    fixed expression over the rounded slope and exact sums — the
    crossmodal-W exactness discipline applied to regression."""
    # r9: expressions as parsed SQL strings (identical analyzed tree; the
    # py4j-chatter rule from OPTIMIZATION_r09.md).
    agg = points.agg(
        F.expr("count(*)").alias("n"),
        F.expr("sum(CAST(xi AS DECIMAL(38,0)))").alias("sx"),
        F.expr("sum(CAST(yi AS DECIMAL(38,0)))").alias("sy"),
        F.expr("sum(CAST(xi * yi AS DECIMAL(38,0)))").alias("sxy"),
        F.expr("sum(CAST(xi * xi AS DECIMAL(38,0)))").alias("sxx"),
    )
    num = "CAST(n * sxy - sx * sy AS DECIMAL(38,0))"
    den = "CAST(n * sxx - sx * sx AS DECIMAL(38,0))"
    slope = f"round(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE), 6)"
    intercept = (
        f"round((CAST(sy AS DOUBLE) / 1000000"
        f" - {slope} * (CAST(sx AS DOUBLE) / 1000000)) / n, 6)"
    )
    return agg.selectExpr(
        f"CAST(n AS BIGINT) AS {n_out}",
        f"{slope} AS {slope_out}",
        f"{intercept} AS {icept_out}",
    )


# slope = num/den rounded 6-dp; intercept re-uses the ROUNDED slope (both
# engines), all through the shortest-repr template (functions/rounding.py).
_LOGLOG_SLOPE6 = round6_sql("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)")
_LOGLOG_ICEPT6 = round6_sql(
    f"(CAST(sy AS DOUBLE) / 1000000"
    f" - {_LOGLOG_SLOPE6} * (CAST(sx AS DOUBLE) / 1000000)) / n"
)

_LOGLOG_ORACLE = f"""
        SELECT CAST(n AS BIGINT) AS {{n_out}},
               {_LOGLOG_SLOPE6} AS {{slope_out}},
               {_LOGLOG_ICEPT6} AS {{icept_out}}
        FROM (SELECT COUNT(*) AS n,
                     SUM(CAST(xi AS HUGEINT)) AS sx,
                     SUM(CAST(yi AS HUGEINT)) AS sy,
                     SUM(CAST(xi AS HUGEINT) * yi) AS sxy,
                     SUM(CAST(xi AS HUGEINT) * xi) AS sxx,
                     COUNT(*) * SUM(CAST(xi AS HUGEINT) * yi)
                       - SUM(CAST(xi AS HUGEINT)) * SUM(CAST(yi AS HUGEINT)) AS num,
                     COUNT(*) * SUM(CAST(xi AS HUGEINT) * xi)
                       - SUM(CAST(xi AS HUGEINT)) * SUM(CAST(xi AS HUGEINT)) AS den
              FROM ({{points}}) pts) agg
"""


def heaps_zipf_fit(docs: DataFrame) -> DataFrame:
    """One-row corpus-law report: Heaps' V(n) = K·n^β fitted over the
    vocabulary growth curve (log-log OLS: heaps_beta = β,
    heaps_logk = ln K) and Zipf's f(r) ∝ r^s fitted over the top-1000
    token rank-frequency curve (zipf_slope = s, ≈ −1 for natural text,
    zipf_logc = ln C).

    The growth curve rides vocab_growth (exact ints); the Zipf curve is
    TakeOrdered top-N + a rank window over the BOUNDED N rows (the
    hybrid_rrf single-partition exception: list-sized, never
    corpus-sized). Log points round once to 1e-6 (the ln-rounding rule
    every LM query uses); the OLS sums are exact scaled-int decimals, so
    the fits are reproducible to the last bit across engines."""
    growth = vocab_growth(docs).where(
        (F.col("tokens_cum") > 0) & (F.col("vocab_cum") > 0)
    )
    hp = growth.select(
        F.round(F.log("tokens_cum") * 1_000_000).cast("long").alias("xi"),
        F.round(F.log("vocab_cum") * 1_000_000).cast("long").alias("yi"),
    )
    heaps = _loglog_fit_spark(hp, "heaps_points", "heaps_beta", "heaps_logk")

    toks = F.expr(tokens_sql("spark", "text"))
    top = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(ZIPF_TOP_N)
    )
    from pyspark.sql.window import Window

    rk = Window.orderBy(F.col("freq").desc(), F.col("token"))
    zp = top.select(
        F.round(F.log(F.row_number().over(rk)) * 1_000_000)
        .cast("long")
        .alias("xi"),
        F.round(F.log("freq") * 1_000_000).cast("long").alias("yi"),
    )
    zipf = _loglog_fit_spark(zp, "zipf_points", "zipf_slope", "zipf_logc")
    return heaps.crossJoin(zipf)


def heaps_zipf_fit_oracle() -> str:
    toks = tokens_sql("duckdb", "text")
    growth = vocab_growth_oracle()
    hp_points = f"""
        SELECT CAST(ROUND(ln(tokens_cum) * 1000000) AS BIGINT) AS xi,
               CAST(ROUND(ln(vocab_cum) * 1000000) AS BIGINT) AS yi
        FROM ({growth}) g WHERE tokens_cum > 0 AND vocab_cum > 0
    """
    zp_points = f"""
        SELECT CAST(ROUND(ln(ROW_NUMBER() OVER
                 (ORDER BY freq DESC, token)) * 1000000) AS BIGINT) AS xi,
               CAST(ROUND(ln(freq) * 1000000) AS BIGINT) AS yi
        FROM (SELECT token, COUNT(*) AS freq
              FROM (SELECT unnest({toks}) AS token FROM documents) t
              GROUP BY token
              ORDER BY freq DESC, token LIMIT {ZIPF_TOP_N}) top
    """
    heaps = _LOGLOG_ORACLE.format(
        points=hp_points,
        n_out="heaps_points",
        slope_out="heaps_beta",
        icept_out="heaps_logk",
    )
    zipf = _LOGLOG_ORACLE.format(
        points=zp_points,
        n_out="zipf_points",
        slope_out="zipf_slope",
        icept_out="zipf_logc",
    )
    return f"""
        SELECT h.heaps_points, h.heaps_beta, h.heaps_logk,
               z.zipf_points, z.zipf_slope, z.zipf_logc
        FROM ({heaps}) h CROSS JOIN ({zipf}) z
    """
