"""Document deduplication family for large-scale training-data pipelines.

Five dedup strategies over a `documents(doc_id, text, lang, source, n_chars)`
table, each expressed so the hot path stays JVM-side (generated SQL column
expressions — no Python UDFs) and each with a DuckDB-oracle SQL twin built
from the same formula generators (functions/hashing.py):

  * exact          — md5(normalized text) group-by; one shuffle of 16-byte keys
  * minhash LSH    — shingle → 8 MinHashes (4 bands × 2 rows) → banded keys →
                     bucket self-join; the scale path: candidate pairs are
                     generated per band bucket, never all-pairs
  * simhash        — 32-bit per-doc signature; hamming≤k pairs via xor+bit_count,
                     blocked LOSSLESSLY on 8-bit band prefixes (pigeonhole:
                     k < n_bands ⇒ a qualifying pair agrees on ≥1 band)
  * n-gram Jaccard — exact Jaccard on the hashed distinct 5-gram sets
                     (the same once-per-doc md5 pass MinHash consumes), as a
                     verify stage over the MinHash-LSH candidate pairs
  * embedding      — cosine near-dup over `embeddings(vec_id, embedding, label)`,
                     blocked by the sign-LSH bucket (operators/similarity.py)

At 100 TB: exact dedup shuffles only (hash, doc_id) pairs; MinHash banding
bounds the self-join to same-bucket groups (skew-salted by AQE); the pairwise
verify steps only ever run on candidate pairs, which is the point of LSH.
Every blocking key here is bounded — band buckets for minhash/simhash, the
LSH candidate set for jaccard — so no stage degenerates to O(m²) per block
as the corpus grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import (
    hashed_shingles_sql,
    hashed_tokens_sql,
    minhash_from_hashed_sql,
    normalize_text_sql,
    simhash_sql,
    tokens_sql,
)


def spread_cpu(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the cluster's full parallelism.

    Signature computation is CPU-bound and orders of magnitude heavier than
    the narrow (doc_id, text) rows it reads; a small parquet file arrives as
    ONE input split, serializing the whole pass onto one core. The repartition
    shuffle moves only the narrow text rows and buys every core. On a real
    100 TB corpus the scan already has thousands of splits and this is a
    cheap rebalance (AQE folds it away when splits ≥ parallelism)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)

N_MINHASH = 8  # signature width used by the LSH queries
N_BANDS = 4  # 4 bands × 2 rows: catches pairs with Jaccard ≳ 0.5
ROWS_PER_BAND = N_MINHASH // N_BANDS


# -- exact ------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents.

    Returns (fingerprint, n_docs, keep_doc_id): one row per content group;
    `keep_doc_id` is the smallest doc_id (the canonical survivor). Shuffles
    only (md5, doc_id) — at 100 TB this is the cheapest possible dedup pass.
    """
    fp = F.expr(normalize_text_sql("spark", "text"))
    return (
        docs.select(F.md5(fp).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def exact_dedup_groups_oracle() -> str:
    fp = normalize_text_sql("duckdb", "text")
    return f"""
        SELECT md5({fp}) AS fingerprint,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(doc_id) AS keep_doc_id
        FROM documents GROUP BY md5({fp})
    """


# -- MinHash + LSH ----------------------------------------------------------


def minhash_signatures(docs: DataFrame, n: int = N_MINHASH) -> DataFrame:
    """Per-document MinHash signature as columns mh0..mh{n-1}.

    Two codegen'd passes: shingles are md5-hashed ONCE into a 31-bit array,
    then each permutation is an array_min of pure arithmetic over it — the
    md5 cost is paid once regardless of signature width.

    The signature table is a PUBLISHED artifact (operators/models.py): the
    md5-dominated pass runs once per corpus input per session, and every
    consumer (`dedup_minhash_sig`, the LSH pair join, the star-edge
    builder feeding CC + canonical pick, the streaming ingest store) reads
    it — the in-session analog of the materialized signature store a dedup
    pipeline writes next to its corpus (narrow: doc_id + n BIGINTs).
    """
    from .models import disk_checkpoint, published

    def build() -> DataFrame:
        hs = hashed_shingles_sql("spark", "text")
        cols = [
            F.expr(minhash_from_hashed_sql("spark", "hs", j)).alias(f"mh{j}")
            for j in range(n)
        ]
        sigs = (
            spread_cpu(docs.select("doc_id", "text"))
            .select("doc_id", F.expr(hs).alias("hs"))
            .select("doc_id", *cols)
        )
        # corpus-sized -> columnar disk artifact, not deserialized cache
        return disk_checkpoint(sigs, "minhash_sigs")

    return published(docs, "minhash_sigs", (n,), build)


def minhash_signatures_oracle(n: int = N_MINHASH) -> str:
    hs = hashed_shingles_sql("duckdb", "text")
    cols = ", ".join(f"{minhash_from_hashed_sql('duckdb', 'hs', j)} AS mh{j}" for j in range(n))
    return f"SELECT doc_id, {cols} FROM (SELECT doc_id, {hs} AS hs FROM documents)"


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash (doc_a < doc_b).

    Bands are exploded to (band_id, band_key, doc_id) and candidates come
    from a self-join on the band bucket — the classic LSH shape that scales:
    the join key is (band_id, band_key), so only same-bucket docs ever meet.
    """
    sigs = minhash_signatures(docs)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "-", *[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
            ).alias("key"),
        )
        for b in range(N_BANDS)
    ]
    exploded = sigs.select(
        "doc_id", F.explode(F.array(*bands)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # One shuffle on the bucket key, signatures computed once. A self-join
    # formulation would evaluate the signature subtree twice and shuffle two
    # full copies; grouping collects each bucket's ids and emits the a<b
    # pairs in-place. LSH buckets are small by construction — a pathological
    # hot bucket degrades either formulation identically (m² pairs on one
    # key), so this loses nothing on skew.
    buckets = exploded.groupBy("band", "key").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ids")
    )
    # Pair generation is the fan-out stage: a bucket of m ids emits m²/2
    # pair rows. Two skew hazards hide here at scale:
    #   1. AQE sizes the post-groupBy stage by its INPUT bytes (bucket rows
    #      are tiny) and coalesces it to ~1 partition — serializing exactly
    #      the stage that multiplies. The explicit-count repartition defeats
    #      that (a count-less repartition(cols) is advisory and AQE folds it
    #      right back).
    #   2. A single hot bucket's m²/2 pairs would still land on ONE task if
    #      generated in one row's transform. So each bucket is first split
    #      into CHUNK-sized anchor slices — chunk i pairs its ≤CHUNK anchors
    #      against the tail of the sorted id array — and the repartition key
    #      includes the chunk index, spreading a hot bucket over m/CHUNK
    #      tasks. Work and output are identical (ids sorted ⇒ slice i ×
    #      suffix = exactly the a<b pairs, no dedup needed within a bucket).
    chunk = 64
    chunked = buckets.where(F.size("ids") > 1).select(
        "band",
        "key",
        "ids",
        F.explode(F.expr(f"sequence(1, size(ids), {chunk})")).alias("chunk_start"),
    )
    pairs = (
        f"flatten(transform(slice(ids, chunk_start, {chunk}), "
        "a -> transform(filter(ids, b -> b > a), b -> struct(a AS doc_a, b AS doc_b))))"
    )
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    return (
        chunked.repartition(n_part, "band", "key", "chunk_start")
        .select(F.explode(F.expr(pairs)).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _band_selects_sql() -> str:
    """DuckDB band-key explode over a `sigs` CTE: (doc_id, band, key)."""
    return " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + " || '-' || ".join(
            f"CAST(mh{b * ROWS_PER_BAND + r} AS STRING)" for r in range(ROWS_PER_BAND)
        )
        + " AS key FROM sigs"
        for b in range(N_BANDS)
    )


def minhash_lsh_pairs_oracle() -> str:
    return f"""
        WITH sigs AS ({minhash_signatures_oracle()}),
        bands AS ({_band_selects_sql()})
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    """


def minhash_lsh_star_edges(docs: DataFrame) -> DataFrame:
    """Connectivity-equivalent edge set for clustering: per LSH bucket, a
    STAR (every member → the bucket's min doc_id) instead of all a<b pairs.

    Within one bucket, the star and the clique have identical connected
    components (every member reaches every other through the hub), and the
    union over buckets preserves that — so connected_components over these
    edges yields byte-identical cluster labels while carrying O(k) edges
    per bucket instead of O(k²). This is the right input for the clustering
    stage; `minhash_lsh_pairs` remains the right output when the pairs
    themselves are the product (e.g. feeding a verify stage)."""
    # Deliberately NOT deduplicated: the same (hub, member) pair recurs when
    # two buckets share their hub, but connected_components is insensitive
    # to edge multiplicity — the min-aggregate absorbs duplicates — and the
    # dedup would cost a full shuffle of the edge set every build. Consumers
    # needing a set (none today) can dropDuplicates themselves.
    return _star(_band_rows(docs))


# -- SimHash ----------------------------------------------------------------


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """32-bit SimHash per document (token-level); published per input like
    the MinHash table — one md5 pass serves signatures, hamming pairs, and
    the compound verify suite."""
    from .models import published

    def build() -> DataFrame:
        tok = tokens_sql("spark", "text")
        ht = hashed_tokens_sql("spark", tok)
        expr = simhash_sql("spark", ht, f"size({tok})")
        return (
            spread_cpu(docs.select("doc_id", "text"))
            .select("doc_id", F.expr(expr).alias("simhash"))
            .localCheckpoint(eager=True)
        )

    return published(docs, "simhash_sigs", (), build)


def simhash_signatures_oracle() -> str:
    tok = tokens_sql("duckdb", "text")
    ht = hashed_tokens_sql("duckdb", tok)
    expr = simhash_sql("duckdb", ht, f"len({tok})")
    return f"SELECT doc_id, {expr} AS simhash FROM documents"


N_SIM_BANDS = 4  # 4 disjoint 8-bit bands over the 32-bit signature
SIM_BAND_BITS = 8


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked LOSSLESSLY on
    8-bit band prefixes of the signature itself.

    A pair with hamming ≤ 3 differs in at most 3 of the 4 disjoint bands, so
    by pigeonhole it agrees EXACTLY on at least one — blocking on (band_id,
    band_value) loses nothing for max_hamming < N_SIM_BANDS. That is why the
    oracle below is the plain all-pairs form: band blocking is provably
    result-identical, and the driver's hash check re-proves it every round.

    Scale shape: pair generation is a self-EQUI-join on the bounded
    (band, key) key, not a collect_set + higher-order-function expansion.
    The join form matters twice at 100 TB: SimHash bits are NOT uniform
    (similar token distributions concentrate band values — measured at
    sf0.1 the hottest of 1024 buckets holds 27% of the corpus), so (a) a
    hot bucket's full member list must never be required to fit one
    aggregation buffer, and (b) the quadratic in-bucket expansion must run
    as whole-stage-codegen'd join rows that AQE's skew-join splitter can
    fan out across executors, not as one interpreted per-element lambda on
    a single row. Hamming = bit_count(xor) filters inside the join stage;
    a pair found in several shared bands dedups on (doc_a, doc_b)."""
    sigs = simhash_signatures(docs)
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(f"shiftright(simhash, {b * SIM_BAND_BITS}) & 255").alias("key"),
        )
        for b in range(N_SIM_BANDS)
    ]
    exploded = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("bk")
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a, b = exploded.alias("a"), exploded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            on=(F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash_near_pairs_oracle(max_hamming: int = 3) -> str:
    # Deliberately unblocked all-pairs: proves the band blocking is lossless.
    sig = simhash_signatures_oracle()
    return f"""
        WITH sigs AS ({sig})
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
               CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
        FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.simhash, y.simhash)) <= {max_hamming}
    """


# -- n-gram Jaccard ---------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.35) -> DataFrame:
    """Exact Jaccard over HASHED distinct 5-gram sets as a VERIFY stage
    over the MinHash-LSH candidate pairs (doc_a < doc_b, jaccard rounded
    to 6 dp).

    This is the production dedup pipeline shape: LSH proposes (bounded per
    band bucket), exact Jaccard disposes. Pairwise work is |candidates|,
    not any block², and each side re-joins its shingle set by doc_id —
    all of it inside the PUBLISHED `pair_intersections` table, so this
    function (and every other verify policy) is arithmetic + a filter
    over the one shared verify pass.

    The sets are the 31-bit hashed shingles MinHash itself consumes
    (`hashed_shingles_sql` — md5 paid once per doc, published per input),
    not the raw strings: integer array_intersect avoids re-hashing ~250
    five-char strings per candidate, which dominated wall time on a
    candidate-dense corpus (29 s → ~4 s at sf0.1's 1.5 M candidates).
    Jaccard over the hashed sets equals string Jaccard up to deterministic
    31-bit collisions — BOTH engines hash identically (portable md5), so
    the value-level oracle parity is exact, collisions included.
    |A∪B| = |A|+|B|−|A∩B| avoids building the union array."""
    inter = pair_intersections(docs)
    jac = F.round(
        F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")), 6
    )
    return inter.select("doc_a", "doc_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def pair_intersections(docs: DataFrame) -> DataFrame:
    """PUBLISHED per-candidate intersection table
    (doc_a, doc_b, i=|A∩B|, na=|A|, nb=|B|): `pair_intersections_plan`
    checkpointed once per corpus input.

    This is the SHARED dominant compute of the whole verify family —
    Jaccard (i/(na+nb−i)) and both containment directions (i/na, i/nb)
    are arithmetic over the same three integers, so jaccard/containment/
    suite/audit consumers re-ran identical candidate⋈shingle joins and
    array_intersect passes. Distinct from the recorded negative result
    (publishing the RAW candidate table, whose re-derivation was cheaper
    than its materialization): here the build contains the verify compute
    every consumer needs anyway, and the checkpoint adds only the write
    of |candidates| five-integer rows. At 100 TB this is the materialized
    verify table a dedup pipeline persists next to its signature store —
    candidate-bounded, written once, filtered by every policy
    (threshold / direction) downstream."""
    from .models import disk_checkpoint, published

    return published(
        docs,
        "pair_intersections",
        (),
        # candidate-bounded but corpus-keyed: disk-tier artifact
        lambda: disk_checkpoint(pair_intersections_plan(docs), "pair_intersections"),
    )


def pair_intersections_plan(docs: DataFrame) -> DataFrame:
    """The logical verify build: LSH candidates re-joined to the published
    hashed-shingle sets by primary key, one array_intersect per candidate.
    Plan-shape assertions (tests/test_plans.py) target this form — the
    published checkpoint's plan is a scan by design."""
    cands = minhash_lsh_pairs(docs)
    with_sh = _hashed_shingle_sets(docs)
    a = with_sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = with_sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return _verify_join(cands, a, b).select(
        "doc_a",
        "doc_b",
        inter.alias("i"),
        F.size("sh_a").alias("na"),
        F.size("sh_b").alias("nb"),
    )


def _verify_join(cands: DataFrame, a: DataFrame, b: DataFrame) -> DataFrame:
    """Candidate-pair ⋈ shingle-set joins with EXPLICIT-count keyed
    repartitioning on both sides of each join.

    Left to AQE, the pair-verify join stages coalesce to a handful of
    post-shuffle partitions (the map-side byte estimate is small because
    the candidate rows are narrow) — but the verify PROJECTION that rides
    those stages does |set| work per row, so the coalesced stage runs the
    intersections on a fraction of the cluster with a hot-key straggler
    tail (measured: 10 tasks / 9+1 stragglers on 32 cores). Explicit
    keyed counts pin both join stages wide (same defeat-AQE discipline as
    the LSH fan-out, dedup.py chunked-anchor note): 11.8 → 7.3 s at
    sf0.1's 1.5 M candidates, every stage 32-wide."""
    n = cands.sparkSession.sparkContext.defaultParallelism * 4
    j1 = cands.repartition(n, "doc_a").join(a.repartition(n, "doc_a"), "doc_a")
    return j1.repartition(n, "doc_b").join(b.repartition(n, "doc_b"), "doc_b")


def _hashed_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh bigint[]): published hashed-shingle sets (models.py)."""
    from .models import disk_checkpoint, published

    def build() -> DataFrame:
        sh = F.expr(hashed_shingles_sql("spark", "text"))
        # the FAT one: ~n_shingles ints per doc; deserialized caching of
        # this table is what OOM'd the 100x run -> columnar disk artifact
        return disk_checkpoint(
            spread_cpu(docs.select("doc_id", "text")).select(
                "doc_id", sh.alias("sh")
            ),
            "shingle_sets",
        )

    return published(docs, "shingle_sets", (), build)


def lsh_candidate_recall(
    docs: DataFrame,
    probe_mod: int = 10,
    thresholds: tuple[float, ...] = (0.35, 0.5, 0.7),
) -> DataFrame:
    """(threshold, n_true, n_hit, recall): candidate recall of the banded
    MinHash LSH against EXACT Jaccard ground truth, per threshold — the
    dedup family's analog of `ann_recall_report`: the eval a pipeline runs
    before trusting its blocking to not silently drop duplicate mass.

    Ground truth for a deterministic probe subset (doc_id % probe_mod == 3)
    comes from an inverted-index EQUI-join: probe shingles ⋈ corpus
    shingles on the shingle value, counted per (probe, doc) — exact
    |A∩B| for every pair sharing ≥1 shingle (pairs sharing none have
    Jaccard 0 and can't reach any threshold), with NO product join
    anywhere. Cost is Σ over probe shingles of df(shingle) — so the scale
    CONTRACT is a fixed probe COUNT: scale `probe_mod` with the corpus
    (same knob discipline as contrastive_negatives' n_buckets). Held as a
    fixed FRACTION, probes×df grows quadratically with corpus size
    (measured: the 10× run at probe_mod=10 was terminated; at
    probe_mod=100 — same ~500 probes — it tracks df growth, SCALE.md §4).
    The banded index (4 bands × 2 rows over 8 minhashes) targets Jaccard
    ≳ 0.5; measuring recall AT 0.35 as well documents what the blocking
    is expected to miss.

    The scored ground-truth table (exact jaccard + candidate-hit flag per
    probe pair) is PUBLISHED per (corpus, probe_mod) through the artifact
    registry: it is probe-BOUNDED — |ground-truth pairs|, never corpus- or
    candidate-sized — so unlike the 1.5 M-row candidate table (the
    recorded negative result, SCALE.md §5) it falls on the
    row-sized-artifacts-always-pay side of the rule. Every consumer after
    the first (the gate suite, per-threshold re-reports, min-of-2 bench
    passes) aggregates the published rows instead of re-running the
    ground-truth equi-join and the candidate enumeration."""
    from .models import published

    def build() -> DataFrame:
        sh = _hashed_shingle_sets(docs)
        sizes = sh.select("doc_id", F.size("sh").alias("n"))
        pe = (
            sh.where(F.col("doc_id") % probe_mod == 3)
            .select(F.col("doc_id").alias("probe"), F.explode("sh").alias("g"))
        )
        de = sh.select(F.col("doc_id").alias("doc"), F.explode("sh").alias("g"))
        inter = (
            pe.join(de, "g")
            .where(F.col("doc") != F.col("probe"))
            .groupBy("probe", "doc")
            .agg(F.count("*").alias("c"))
        )
        jac = (
            inter.join(
                sizes.select(F.col("doc_id").alias("probe"), F.col("n").alias("np")),
                "probe",
            )
            .join(sizes.select(F.col("doc_id").alias("doc"), F.col("n").alias("nd")), "doc")
            .select(
                F.least("probe", "doc").alias("doc_a"),
                F.greatest("probe", "doc").alias("doc_b"),
                (F.col("c") / (F.col("np") + F.col("nd") - F.col("c"))).alias("jac"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        cands = minhash_lsh_pairs(docs).withColumn("hit", F.lit(1))
        return jac.join(cands, ["doc_a", "doc_b"], "left").localCheckpoint(eager=True)

    scored = published(docs, "lsh_recall_scored", (probe_mod,), build)
    # ONE conditional-sum aggregate for every threshold (a union of
    # per-threshold aggregates would re-execute the ground-truth join once
    # per threshold — 3× the dominant cost), unpivoted with stack().
    aggs = []
    for i, t in enumerate(thresholds):
        above = F.when(F.col("jac") >= t, 1).otherwise(0)
        aggs.append(F.sum(above).cast("bigint").alias(f"t{i}"))
        aggs.append(
            F.sum(above * F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias(f"h{i}")
        )
    stack = ", ".join(
        f"CAST({float(t)} AS DOUBLE), t{i}, h{i}" for i, t in enumerate(thresholds)
    )
    out = scored.agg(*aggs).selectExpr(
        f"stack({len(thresholds)}, {stack}) AS (threshold, n_true, n_hit)"
    )
    recall = F.when(
        F.col("n_true") > 0, F.round(F.col("n_hit") / F.col("n_true"), 6)
    )
    return out.select("threshold", "n_true", "n_hit", recall.alias("recall"))


def lsh_candidate_recall_oracle(
    probe_mod: int = 10, thresholds: tuple[float, ...] = (0.35, 0.5, 0.7)
) -> str:
    sh = hashed_shingles_sql("duckdb", "text")
    per_t = " UNION ALL ".join(
        f"""SELECT CAST({t} AS DOUBLE) AS threshold,
               CAST(count(*) AS BIGINT) AS n_true,
               CAST(COALESCE(sum(hit), 0) AS BIGINT) AS n_hit,
               CASE WHEN count(*) > 0
                    THEN ROUND(CAST(COALESCE(sum(hit), 0) AS DOUBLE) / count(*), 6)
               END AS recall
           FROM scored WHERE jac >= {t}"""
        for t in thresholds
    )
    return f"""
        WITH shs AS (SELECT doc_id, {sh} AS sh FROM documents),
        sizes AS (SELECT doc_id, len(sh) AS n FROM shs),
        pe AS (SELECT doc_id AS probe, unnest(sh) AS g FROM shs
               WHERE doc_id % {probe_mod} = 3),
        de AS (SELECT doc_id AS doc, unnest(sh) AS g FROM shs),
        inter AS (SELECT probe, doc, count(*) AS c FROM pe JOIN de USING (g)
                  WHERE doc != probe GROUP BY probe, doc),
        jac AS (SELECT DISTINCT least(probe, doc) AS doc_a,
                       greatest(probe, doc) AS doc_b,
                       CAST(c AS DOUBLE) / (np + nd - c) AS jac
                FROM inter
                JOIN (SELECT doc_id AS probe, n AS np FROM sizes) USING (probe)
                JOIN (SELECT doc_id AS doc, n AS nd FROM sizes) USING (doc)),
        cands AS ({minhash_lsh_pairs_oracle()}),
        scored AS (SELECT j.doc_a, j.doc_b, j.jac,
                          CASE WHEN c2.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
                   FROM jac j LEFT JOIN cands c2
                     ON j.doc_a = c2.doc_a AND j.doc_b = c2.doc_b)
        {per_t}
    """


def ngram_jaccard_pairs_oracle(threshold: float = 0.35) -> str:
    sh = hashed_shingles_sql("duckdb", "text")
    return f"""
        WITH cands AS ({minhash_lsh_pairs_oracle()}),
        s AS (SELECT doc_id, {sh} AS sh FROM documents)
        SELECT doc_a, doc_b, jaccard FROM (
          SELECT c.doc_a, c.doc_b,
                 ROUND(CAST(len(list_filter(a.sh, e -> list_contains(b.sh, e))) AS DOUBLE)
                       / (len(a.sh) + len(b.sh)
                          - len(list_filter(a.sh, e -> list_contains(b.sh, e)))), 6) AS jaccard
          FROM cands c
          JOIN s a ON a.doc_id = c.doc_a
          JOIN s b ON b.doc_id = c.doc_b)
        WHERE jaccard >= {threshold}
    """


# -- connected components (dedup clusters) ----------------------------------


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Cluster near-dup pairs into components: (doc_id, cluster) where
    `cluster` is the component's minimum doc_id (the canonical survivor).

    Iterative min-label propagation — the Spark-shaped form of union-find:
    every node repeatedly takes the min of its own label and its neighbors',
    converging in O(component diameter) rounds. Each round is one join +
    one aggregate; `localCheckpoint` truncates the plan each round, without
    which iterative algorithms compound their lineage into an
    exponentially-replanned DAG (the classic Spark-iteration trap).

    ONE Spark job per round: the new labels carry a `__chg` flag computed
    in-plan, the checkpoint is lazy, and the driver's "did anything change"
    count is the action that materializes it — convergence detection rides
    the materialization job instead of paying a second join+count job
    (round time at small SF is dominated by per-job scheduling overhead).

    The converged label table is a PUBLISHED artifact (operators/models.py):
    a dedup pipeline materializes its cluster map once per corpus snapshot,
    then both the clustering report (`dedup_clusters`) and the survivor
    selection (`dedup_canonical_pick`) read it — re-deriving it per
    consumer would repeat O(diameter) corpus-wide rounds. Deterministic
    (min-label fixpoint), so cached vs re-derived is value-identical.
    """
    from .models import published

    return published(
        pairs, "cc_labels", (max_iter,), lambda: _cc_run(pairs, max_iter)
    )


# Stats of the most recent _cc_run, for the pointer-doubling round-count
# property tests (tests/test_dedup.py) and the SCALE.md graph decade:
# {"rounds": total Spark label-update rounds (neighbor-min + flatten jumps,
# including the final no-op verification rounds), "converged": bool}.
LAST_CC_STATS: dict[str, object] = {}


def _cc_run(pairs: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation with min-HOOKING and FULL pointer doubling
    (VERDICT r6 #3 — provably bounded rounds instead of O(diameter)
    behind a warning).

    Alternates two label-monotone steps until a hooking pass is a no-op:

    1. **Neighbor-min + hooking (+one fused jump)** — per edge (u,v),
       candidate ℓ(v) goes to node u (neighbor-min) AND to node ℓ(u)
       (Shiloach–Vishkin-style hooking: a star's ROOT learns the min of
       every star adjacent to any of its members). One union-groupBy
       folds own labels, neighbor candidates and hooked candidates into
       a single min aggregate, then label ← label's label fuses the
       first compression jump into the same round.
    2. **Flatten to fixpoint** — pointer doubling: label ← label[label]
       repeated until the label forest is flat. Each jump composes the
       pointer function with itself, so chain length HALVES per jump —
       the inner loop terminates in ≤ ⌈log2(longest chain)⌉+1 jumps
       unconditionally (labels are monotone non-increasing, so
       checksum-unchanged ⇔ fixpoint, up to a 2^-64 hash collision).

    Why hooking is load-bearing: without it, a star rooted at a LOCAL
    minimum never hears about a smaller label except through one graph
    hop per round of its members — a spliced chain with an interior
    local min (test_cc_round_bound_min_in_middle) stalls back to
    O(diameter) rounds exactly like the pre-r7 loop. With hooking, every
    round each star adopts the min root among adjacent stars and the
    flatten composes simultaneous adoptions (a monotone chain of star
    merges collapses in ONE round), so components contract
    logarithmically.

    Exactness: if a full pass changes nothing, in particular
    neighbor-min changed nothing, so for every edge (u,v) both
    ℓ(u) ≤ ℓ(v) and ℓ(v) ≤ ℓ(u) — labels are constant per component;
    labels only ever take member-id values and the component-min node
    keeps labelling itself, so the constant is the component min. The
    fixpoint IS the answer; no flatness assumption needed.

    Bound: total Spark label-update rounds ≤ ⌈log2(diameter)⌉+2 on chain
    graphs (tight — equality on power-of-two diameters), small constants
    on stars and local-min splices. Pinned by the property tests in
    tests/test_dedup_clusters.py across 3 decades of diameter plus the
    adversarial shapes; `max_iter` bounds OUTER rounds only and is a
    never-expected backstop rather than a scaling cliff.

    Each round `localCheckpoint`s to truncate lineage (the classic
    Spark-iteration trap) and the convergence checksum rides the lazy
    checkpoint's materialization job, so every round is ONE Spark job.
    """
    edges = pairs.select("doc_a", "doc_b")
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("doc_a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )

    def _checksum(lbl: DataFrame):
        return lbl.agg(  # decimal sum: ANSI mode would overflow a BIGINT sum
            F.sum(F.xxhash64("node", "label").cast("decimal(38,0)")).alias("chk")
        ).collect()[0][0]

    def _jump(lbl: DataFrame) -> DataFrame:
        hop = lbl.select(F.col("node").alias("pnode"), F.col("label").alias("plabel"))
        return (
            lbl.join(hop, lbl.label == hop.pnode, "left")
            .select("node", F.coalesce("plabel", "label").alias("label"))
            .localCheckpoint(eager=False)
        )

    rounds = 0
    prev_chk = None
    converged = False
    for _ in range(max_iter):
        # -- neighbor-min + hooking round (one fused pointer jump) --
        # Per edge (u,v) with current labels ℓ: candidate ℓ(v) goes to u
        # (neighbor-min) AND to ℓ(u) (Shiloach–Vishkin-style hooking —
        # the star ROOT learns its neighborhood's min). Without hooking,
        # a star rooted at a LOCAL min stalls: the global min creeps one
        # graph hop per round along its members (O(diameter) rounds —
        # found by test_cc_round_bound_min_in_middle, which also OOM'd
        # the planner via ~n compounding stats estimates). With hooking,
        # every round each star adopts the min root among its adjacent
        # stars and the flatten composes simultaneous adoptions, so star
        # chains collapse in one round and components contract
        # logarithmically.
        both = (
            sym.join(labels, sym.doc_b == labels.node)
            .select("doc_a", F.col("label").alias("lab_b"))
            .join(labels.select(F.col("node").alias("doc_a"), F.col("label").alias("lab_a")), "doc_a")
        )
        cand = both.select(F.col("doc_a").alias("node"), F.col("lab_b").alias("label")).union(
            both.select(F.col("lab_a").alias("node"), F.col("lab_b").alias("label"))
        )
        stepped = (
            labels.union(cand).groupBy("node").agg(F.min("label").alias("label"))
        )
        labels = _jump(stepped)
        rounds += 1
        chk = _checksum(labels)
        if chk == prev_chk:
            converged = True
            break
        prev_chk = chk
        # -- flatten to fixpoint (pointer doubling) --
        # Chain length halves per jump, so this terminates in
        # ≤ ⌈log2(n)⌉+1 iterations regardless of graph shape; the range
        # cap is unreachable paranoia (2^64 nodes), not a tuning knob.
        for _ in range(64):
            labels = _jump(labels)
            rounds += 1
            chk = _checksum(labels)
            if chk == prev_chk:
                break
            prev_chk = chk
    LAST_CC_STATS.clear()
    LAST_CC_STATS.update({"rounds": rounds, "converged": converged})
    if not converged:
        # max_iter outer rounds exhausted with labels still moving. With
        # full flattening this needs a graph no real corpus produces (the
        # property test pins ⌈log2(diameter)⌉+2 total rounds on chains);
        # surface it anyway — silent wrong answers are worse than noise.
        import warnings

        warnings.warn(
            f"connected_components did not converge within {max_iter} rounds; "
            "increase max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster"))


def connected_components_oracle(pairs_sql: str) -> str:
    """DuckDB twin via recursive CTE: min reachable id == component min.

    `pairs`/`sym` are MATERIALIZED: DuckDB inlines plain CTEs per
    reference, so the recursive step would otherwise re-run the whole
    LSH pair pipeline once per recursion DEPTH — invisible at sf0.01,
    a ~20-minute wall at sf0.1 (caught by scripts/verify_gate_sf01.py)."""
    return f"""
        WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
        sym AS MATERIALIZED (SELECT doc_a, doc_b FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
        walk(node, reach) AS (
          SELECT DISTINCT doc_a, doc_a FROM sym
          UNION
          SELECT w.node, s.doc_b FROM walk w JOIN sym s ON s.doc_a = w.reach
        )
        SELECT node AS doc_id, min(reach) AS cluster FROM walk GROUP BY node
    """


__all__ = [
    "N_MINHASH",
    "N_BANDS",
    "N_SIM_BANDS",
    "exact_dedup_groups",
    "exact_dedup_groups_oracle",
    "minhash_signatures",
    "minhash_signatures_oracle",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_oracle",
    "simhash_signatures",
    "simhash_signatures_oracle",
    "simhash_near_pairs",
    "simhash_near_pairs_oracle",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_oracle",
]


# -- fuzzy string join (PassJoin-style segment blocking) --------------------


def fuzzy_name_pairs(parts: DataFrame, max_dist: int = 2) -> DataFrame:
    """Same-length name pairs within levenshtein distance `max_dist`,
    candidate-blocked by the PassJoin segment scheme: each string splits
    into max_dist+1 contiguous segments, and any equal-length pair within
    distance k must agree EXACTLY on at least one segment (pigeonhole: k
    substitutions cannot touch all k+1 segments). Blocking key =
    (length, segment_index, segment_text) — bounded like every other
    near-dup block in this module; the exact levenshtein runs only inside
    blocks as the residual verify.

    For equal-length strings levenshtein also admits insert+delete combos
    that shift characters between segments; those candidates can be missed
    — the oracle replicates the identical blocked semantics (the same
    recall contract as embedding_near_pairs); losslessness holds for
    substitution-only edits.

    Caveat measured in SCALE.md §4: on LOW-ENTROPY key vocabularies
    (template-generated names) the segment blocks degenerate toward "all
    same-length pairs" and the verify stage dominates — signature blocking
    is only as good as the entropy of its key. Production use at scale
    should derive the blocking key (segment length, or q-gram signatures)
    from the actual key distribution.

    Output: (key_a, key_b, name_a, name_b, dist), key_a < key_b.
    """
    # Candidacy (same length + a shared segment) and the edit distance are
    # properties of the NAME, not the key — so block and verify once per
    # DISTINCT name pair, then expand to key pairs with two equi-joins.
    # On low-entropy vocabularies (the measured degenerate case: thousands
    # of keys per name) this collapses the levenshtein stage from
    # O(candidate key pairs) to O(candidate name pairs); the expansion then
    # only materializes pairs that VERIFIED, which is the operator's output
    # cardinality anyway.
    names = parts.select(F.col("p_partkey").alias("key"), F.col("p_name").alias("name"))
    dn = names.select("name").distinct()
    n_seg = max_dist + 1
    segs = []
    for i in range(n_seg):
        start = f"(CAST(length(name) * {i} / {n_seg} AS INT) + 1)"
        end = f"CAST(length(name) * {i + 1} / {n_seg} AS INT)"
        segs.append(
            F.struct(
                F.lit(i).alias("seg"),
                F.expr(f"substring(name, {start}, {end} - {start} + 1)").alias("segtxt"),
            )
        )
    keyed = dn.select(
        "name", F.length("name").alias("ln"), F.explode(F.array(*segs)).alias("s")
    ).select("name", "ln", F.col("s.seg").alias("seg"), F.col("s.segtxt").alias("segtxt"))
    x, y = keyed.alias("x"), keyed.alias("y")
    # name_a <= name_b canonical order; the (n, n) self pair carries the
    # within-group key pairs of a duplicated name (dist 0).
    cand = (
        x.join(
            y,
            (F.col("x.ln") == F.col("y.ln"))
            & (F.col("x.seg") == F.col("y.seg"))
            & (F.col("x.segtxt") == F.col("y.segtxt"))
            & (F.col("x.name") <= F.col("y.name")),
        )
        .select(F.col("x.name").alias("name_a"), F.col("y.name").alias("name_b"))
        .dropDuplicates(["name_a", "name_b"])
    )
    dist = F.levenshtein("name_a", "name_b")
    verified = cand.where(dist <= max_dist).select(
        "name_a", "name_b", dist.cast("int").alias("dist")
    )
    ka = names.select(F.col("key").alias("ka"), F.col("name").alias("name_a"))
    kb = names.select(F.col("key").alias("kb"), F.col("name").alias("name_b"))
    expanded = (
        F.broadcast(verified)
        .join(ka, "name_a")
        .join(kb, "name_b")
        # same-name group: each unordered key pair once; distinct names:
        # every (ka, kb) combo is a distinct unordered pair
        .where((F.col("name_a") != F.col("name_b")) | (F.col("ka") < F.col("kb")))
    )
    swap = F.col("ka") > F.col("kb")
    return expanded.select(
        F.least("ka", "kb").alias("key_a"),
        F.greatest("ka", "kb").alias("key_b"),
        F.when(swap, F.col("name_b")).otherwise(F.col("name_a")).alias("name_a"),
        F.when(swap, F.col("name_a")).otherwise(F.col("name_b")).alias("name_b"),
        "dist",
    )


def fuzzy_name_pairs_oracle(max_dist: int = 2) -> str:
    n_seg = max_dist + 1
    seg_selects = " UNION ALL ".join(
        f"""SELECT p_partkey AS key, p_name AS name, length(p_name) AS ln, {i} AS seg,
            substring(p_name, CAST(length(p_name) * {i} / {n_seg} AS INT) + 1,
                      CAST(length(p_name) * {i + 1} / {n_seg} AS INT)
                      - CAST(length(p_name) * {i} / {n_seg} AS INT)) AS segtxt
            FROM part"""
        for i in range(n_seg)
    )
    return f"""
        WITH keyed AS ({seg_selects}),
        cand AS (
          SELECT DISTINCT x.key AS key_a, y.key AS key_b,
                          x.name AS name_a, y.name AS name_b
          FROM keyed x JOIN keyed y
            ON x.ln = y.ln AND x.seg = y.seg AND x.segtxt = y.segtxt
           AND x.key < y.key)
        SELECT key_a, key_b, name_a, name_b,
               CAST(levenshtein(name_a, name_b) AS INT) AS dist
        FROM cand WHERE levenshtein(name_a, name_b) <= {max_dist}
    """


# -- cross-document duplicate spans (exact substring dedup) ------------------


def duplicate_spans(docs: DataFrame, min_docs: int = 2) -> DataFrame:
    """Repeated text spans ACROSS documents, mined from winnowing
    fingerprints: a fingerprint selected by ≥`min_docs` distinct documents
    certifies a shared substring of length ≥ w+k−1 (the winnowing guarantee
    — functions/text.py:111), the boilerplate/template detector that
    document-level dedup misses (docs differing by one paragraph still
    share every other span).

    Shape at 100 TB: fingerprinting is a scan-stage array expression
    (hash once, window-min, distinct — no Python), the explode emits
    ~n_chars/w rows per doc, and the only shuffle is a two-phase count
    on the 32-bit fingerprint — the same cost profile as exact dedup,
    per span instead of per document. Output: (fp, n_docs, first_doc),
    descending-frequency spans first for triage."""
    from ..functions.text import positional_hashes_sql, winnow_sql

    hs = positional_hashes_sql("spark", "text")
    wn = winnow_sql("spark", "hs")
    fps = (
        spread_cpu(docs.select("doc_id", "text"))
        .select("doc_id", F.expr(hs).alias("hs"))
        .select("doc_id", F.explode(F.expr(wn)).alias("fp"))
    )
    # winnow_sql output is already distinct per document, so count(*) is a
    # distinct-document count without a count(DISTINCT) shuffle.
    return (
        fps.groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .where(F.col("n_docs") >= min_docs)
    )


def duplicate_spans_oracle(min_docs: int = 2) -> str:
    from ..functions.text import positional_hashes_sql, winnow_sql

    hs = positional_hashes_sql("duckdb", "text")
    wn = winnow_sql("duckdb", "hs")
    return f"""
        WITH fps AS (
          SELECT doc_id, unnest({wn}) AS fp
          FROM (SELECT doc_id, {hs} AS hs FROM documents))
        SELECT fp, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS first_doc
        FROM fps GROUP BY fp HAVING count(*) >= {min_docs}
    """


# -- canonical-survivor selection (end-to-end dedup resolution) --------------


def canonical_pick(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Resolve near-dup clusters to keep/drop decisions: for every document,
    its cluster, its quality score, and keep = "is this the cluster's best
    document". The end-to-end step a real corpus pipeline runs after
    clustering — deduplication isn't done until exactly one survivor per
    cluster is chosen, and choosing by QUALITY (not arbitrary min-id)
    is what keeps the good copy of each template.

    `clusters` is (doc_id, cluster) from connected_components; documents
    absent from it (no near-dup candidates) are singletons — their cluster
    is their own id via the left join + coalesce. Scale shape: the quality
    score is a scan-stage expression, the cluster label join shuffles on
    doc_id, and the survivor argmax is one window shuffle on the cluster
    id (cluster sizes are near-dup group sizes — naturally bounded after
    LSH, no skew blowup)."""
    from pyspark.sql.window import Window

    from ..functions.text import quality_sql

    score = F.expr(quality_sql("spark", "text")["quality_score"])
    lab = docs.select("doc_id", score.alias("score")).join(
        clusters, "doc_id", "left"
    ).select("doc_id", "score", F.coalesce("cluster", F.col("doc_id")).alias("cluster"))
    w = Window.partitionBy("cluster").orderBy(F.col("score").desc(), F.col("doc_id"))
    return lab.withColumn("rn", F.row_number().over(w)).select(
        "doc_id", "cluster", "score", (F.col("rn") == 1).alias("keep")
    )


def canonical_pick_oracle(cc_sql: str) -> str:
    from ..functions.text import quality_sql

    q = quality_sql("duckdb", "text")["quality_score"]
    return f"""
        SELECT doc_id, cluster, score, (rn = 1) AS keep FROM (
          SELECT d.doc_id,
                 COALESCE(cc.cluster, d.doc_id) AS cluster,
                 {q} AS score,
                 row_number() OVER (PARTITION BY COALESCE(cc.cluster, d.doc_id)
                                    ORDER BY {q} DESC, d.doc_id) AS rn
          FROM documents d LEFT JOIN ({cc_sql}) cc USING (doc_id))
    """


def containment_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """ASYMMETRIC near-dup relation over the LSH candidates: containment
    c(A→B) = |A∩B| / |A| — catches "A is a subset/excerpt of B" (quoted
    snippets, boilerplate-wrapped copies), which symmetric Jaccard dilutes
    below threshold whenever |B| ≫ |A|. The dedup policy difference is
    real: under containment the SHORTER doc is the duplicate, under
    Jaccard neither may be.

    Emits both directions per candidate pair that clear `threshold`:
    (contained_doc, container_doc, containment). Same scale posture as the
    Jaccard verify — |candidates| work over the published hashed-shingle
    sets, never any block²; the (i, na, nb) integers come from the SHARED
    published `pair_intersections` table, so the Jaccard and containment
    policies price one verify pass between them."""
    joined = pair_intersections(docs).select(
        "doc_a", "doc_b", F.col("i").cast("double").alias("i"), "na", "nb"
    )
    ab = joined.select(
        F.col("doc_a").alias("contained_doc"),
        F.col("doc_b").alias("container_doc"),
        F.round(F.col("i") / F.col("na"), 6).alias("containment"),
    )
    ba = joined.select(
        F.col("doc_b").alias("contained_doc"),
        F.col("doc_a").alias("container_doc"),
        F.round(F.col("i") / F.col("nb"), 6).alias("containment"),
    )
    return ab.unionAll(ba).where(F.col("containment") >= threshold)


def containment_pairs_oracle(threshold: float = 0.8) -> str:
    sh = hashed_shingles_sql("duckdb", "text")
    inter = "CAST(len(list_filter(a.sh, e -> list_contains(b.sh, e))) AS DOUBLE)"
    return f"""
        WITH cands AS ({minhash_lsh_pairs_oracle()}),
        s AS (SELECT doc_id, {sh} AS sh FROM documents),
        j AS (SELECT c.doc_a, c.doc_b, {inter} AS i,
                     len(a.sh) AS na, len(b.sh) AS nb
              FROM cands c
              JOIN s a ON a.doc_id = c.doc_a
              JOIN s b ON b.doc_id = c.doc_b),
        both_ AS (
          SELECT doc_a AS contained_doc, doc_b AS container_doc,
                 ROUND(i / na, 6) AS containment FROM j
          UNION ALL
          SELECT doc_b, doc_a, ROUND(i / nb, 6) FROM j)
        SELECT * FROM both_ WHERE containment >= {threshold}
    """


# -- incremental dedup (continuous ingestion) --------------------------------


def incremental_dedup(
    docs: DataFrame, batch_mod: int = 10, threshold: float = 0.35
) -> DataFrame:
    """Probe an incoming BATCH against the established CORPUS through the
    banded MinHash index — the continuous-ingestion dedup shape: at 100 TB
    you never re-dedup the corpus; you band-key the delta, join it against
    the persisted signature index, and exact-verify only the delta's
    candidates against the persisted verify store.

    The deterministic split (doc_id % batch_mod == 0 → batch, else corpus)
    stands in for the delta/base partition a real pipeline gets from its
    ingestion timestamps. In-session, the PUBLISHED `pair_intersections`
    table plays the persisted verify store: a (batch, corpus) pair shares
    a band bucket iff it appears in the full candidate set, so the
    incremental candidates are EXACTLY the mixed-split rows of that table
    and the query is a filter + arithmetic + per-batch-doc argmax over it
    — no re-enumeration, no corpus rescan (a probe-shaped enumeration was
    measured 20× slower than riding the shared verify pass; the artifact
    rule's shared-dominant-compute side). At 100 TB the incremental run
    pays |batch| band-probes + |mixed candidates| verifies and APPENDS its
    rows to the same store. Intra-batch duplicates are out of scope here
    (the full dedup family handles them when the batch is merged).

    Output: one row per batch doc with ≥1 candidate —
    (batch_doc, match_doc, jaccard, is_dup) where match_doc is the
    best-scoring corpus doc (ties broken by min doc_id) and
    is_dup = jaccard ≥ threshold (the admit/reject decision an
    ingestion sink would apply)."""
    inter = pair_intersections(docs)
    is_batch_a = F.col("doc_a") % batch_mod == 0
    is_batch_b = F.col("doc_b") % batch_mod == 0
    # exactly one side of a mixed pair is the batch side, so the two
    # directions are one CASE projection over one pass of the store, not
    # a two-branch union that scans the checkpoint twice
    scored = inter.where(is_batch_a != is_batch_b).select(
        F.when(is_batch_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("batch_doc"),
        F.when(is_batch_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("match_doc"),
        F.round(
            F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")), 6
        ).alias("jaccard"),
    )
    # per-batch-doc argmax as a map-side-combinable AGGREGATE, not a
    # window (the trained-quantizer-assign rule, SCALE.md §4): partial
    # aggregation collapses each task's candidates to one row per
    # batch_doc before the exchange, so the shuffle moves |batch docs|
    # rows instead of |mixed candidates|. max(struct(jaccard, -match_doc))
    # implements the (jaccard DESC, match_doc ASC) tiebreak exactly —
    # doc ids are non-negative longs, so the negation is exact.
    return (
        scored.groupBy("batch_doc")
        .agg(
            F.max(
                F.struct(
                    F.col("jaccard"), (-F.col("match_doc")).alias("nmd")
                )
            ).alias("b")
        )
        .select(
            "batch_doc",
            (-F.col("b.nmd")).alias("match_doc"),
            F.col("b.jaccard").alias("jaccard"),
            (F.col("b.jaccard") >= threshold).alias("is_dup"),
        )
    )


def incremental_dedup_oracle(batch_mod: int = 10, threshold: float = 0.35) -> str:
    sh = hashed_shingles_sql("duckdb", "text")
    inter = "CAST(len(list_filter(a.sh, e -> list_contains(b.sh, e))) AS DOUBLE)"
    return f"""
        WITH sigs AS ({minhash_signatures_oracle()}),
        bands AS ({_band_selects_sql()}),
        cand AS (SELECT DISTINCT x.doc_id AS batch_doc, y.doc_id AS match_doc
                 FROM bands x JOIN bands y
                   ON x.band = y.band AND x.key = y.key
                 WHERE x.doc_id % {batch_mod} = 0
                   AND y.doc_id % {batch_mod} != 0),
        s AS (SELECT doc_id, {sh} AS sh FROM documents),
        j AS (SELECT c.batch_doc, c.match_doc, {inter} AS i,
                     len(a.sh) AS na, len(b.sh) AS nb
              FROM cand c
              JOIN s a ON a.doc_id = c.batch_doc
              JOIN s b ON b.doc_id = c.match_doc),
        scored AS (SELECT batch_doc, match_doc,
                          ROUND(i / (na + nb - i), 6) AS jaccard FROM j),
        r AS (SELECT *, row_number() OVER (PARTITION BY batch_doc
                        ORDER BY jaccard DESC, match_doc) AS rn FROM scored)
        SELECT batch_doc, match_doc, jaccard,
               jaccard >= {threshold} AS is_dup
        FROM r WHERE rn = 1
    """


# -- cross-source contamination matrix ---------------------------------------


def source_overlap(docs: DataFrame) -> DataFrame:
    """Pairwise SOURCE-level n-gram contamination matrix:
    (source_a, source_b, n_shared, n_a, n_b, overlap_coef) where n_shared
    counts distinct hashed 5-gram shingles present in BOTH sources and
    overlap_coef = n_shared / min(n_a, n_b) — the diversity/contamination
    diagnostic a mixture designer reads before weighting sources (a pair
    near 1.0 means one source is largely a reprint of the other).

    Scale shape: the (source, shingle) DISTINCT table is one shuffle of
    narrow rows; the pair count is an inverted-index equi-join on the
    shingle value whose per-key fan-out is bounded by |sources| (tiny by
    construction after the distinct) — total work is LINEAR in distinct
    shingles, never any corpus². Same discipline as
    `lsh_candidate_recall`'s ground-truth join."""
    sh = _hashed_shingle_sets(docs)
    src = docs.select("doc_id", "source")
    ss = (
        sh.join(src, "doc_id")
        .select("source", F.explode("sh").alias("g"))
        .dropDuplicates(["source", "g"])
    )
    counts = ss.groupBy("source").agg(F.count("*").cast("bigint").alias("n"))
    a = ss.select(F.col("source").alias("source_a"), "g")
    b = ss.select(F.col("source").alias("source_b"), "g")
    pairs = (
        a.join(b, "g")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    ca = counts.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared").cast("double") / F.least("n_a", "n_b"), 6
            ).alias("overlap_coef"),
        )
    )


def source_overlap_oracle() -> str:
    sh = hashed_shingles_sql("duckdb", "text")
    return f"""
        WITH shs AS (SELECT doc_id, {sh} AS sh FROM documents),
        ss AS (SELECT DISTINCT d.source, g
               FROM (SELECT doc_id, unnest(sh) AS g FROM shs) e
               JOIN documents d USING (doc_id)),
        counts AS (SELECT source, CAST(count(*) AS BIGINT) AS n
                   FROM ss GROUP BY source),
        pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                         CAST(count(*) AS BIGINT) AS n_shared
                  FROM ss a JOIN ss b
                    ON a.g = b.g AND a.source < b.source
                  GROUP BY 1, 2)
        SELECT p.source_a, p.source_b, p.n_shared,
               ca.n AS n_a, cb.n AS n_b,
               ROUND(CAST(p.n_shared AS DOUBLE) / least(ca.n, cb.n), 6)
                 AS overlap_coef
        FROM pairs p
        JOIN counts ca ON ca.source = p.source_a
        JOIN counts cb ON cb.source = p.source_b
    """


# -- global line-level dedup (CCNet/RefinedWeb-style) --------------------------

LINE_W = 8  # tokens per "line" (the corpus is a whitespace token stream)


def _line_table(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, line): non-overlapping LINE_W-token windows per doc —
    the whitespace-corpus stand-in for CCNet's newline-delimited lines.
    Pure scan-stage expansion: split once, slice per window index."""
    lines = F.expr(
        f"transform(sequence(0, CAST(ceil(size(split(text, ' ')) / {LINE_W}) AS INT) - 1), "
        f"i -> array_join(slice(split(text, ' '), i * {LINE_W} + 1, {LINE_W}), ' '))"
    )
    return docs.select("doc_id", F.posexplode(lines).alias("pos", "line"))


def dedup_lines(docs: DataFrame) -> DataFrame:
    """(doc_id, n_lines, n_kept, clean_text): corpus-wide line-level dedup
    with document reassembly — every line occurrence EXCEPT its global
    first (smallest (doc_id, pos)) is removed and the survivors are
    rejoined in order, the CCNet / RefinedWeb boilerplate-removal stage
    that document-level dedup cannot express (it rewrites documents
    instead of dropping them).

    Plan: one scan-stage window expansion, one (line-hash) shuffle for the
    global argmin (map-side-combinable struct-min, never a window over
    the full occurrence table), one hash-keyed join back, and a per-doc
    reassembly aggregate whose buffer is bounded by document length. The
    hash shuffle moves 16-byte digests + (doc_id, pos) — at 100 TB the
    lines themselves stay in the scan stage."""
    occ = _line_table(docs).select(
        "doc_id", "pos", "line", F.md5("line").alias("lh")
    )
    firsts = occ.groupBy("lh").agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    kept = (
        occ.join(firsts, "lh")
        .where(
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("pos") == F.col("first.pos"))
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("clean_text"),
        )
    )
    totals = occ.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines")
    )
    return (
        totals.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def dedup_lines_ttl(
    docs: DataFrame, ttl_batches: int = 3, batch_docs: int = 100
) -> DataFrame:
    """(doc_id, n_lines, n_kept, clean_text): SLIDING-WINDOW line dedup —
    a bounded-state line store's TTL recall trade, made
    oracle-checkable. Documents are bucketed into
    ingestion batches (batch = doc_id DIV `batch_docs`, the doc_id-ordered
    arrival the streaming equality test pins) and a line occurrence is
    dropped iff its most recent PRIOR occurrence — kept or dropped; the
    streaming store refreshes last_seen on every occurrence — lies within
    `ttl_batches` batches. A line recurring after a longer absence is
    first-seen again and kept.

    Plan: the same scan-stage expansion as dedup_lines, then ONE window
    per line hash (max prior batch over preceding occurrences; batch is
    nondecreasing in (doc_id, pos) order, so max == most recent) —
    O(occurrences), no per-line self-join, so a hot boilerplate line
    costs its occurrence count, never its square — and the same per-doc
    reassembly aggregate."""
    from pyspark.sql.window import Window

    occ = (
        _line_table(docs)
        .select("doc_id", "pos", "line", F.md5("line").alias("lh"))
        .withColumn(
            "batch", F.expr(f"CAST(doc_id DIV {batch_docs} AS BIGINT)")
        )
    )
    w = (
        Window.partitionBy("lh")
        .orderBy("doc_id", "pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept_occ = (
        occ.withColumn("prev_batch", F.max("batch").over(w))
        .where(
            F.col("prev_batch").isNull()
            | (F.col("prev_batch") < F.col("batch") - ttl_batches)
        )
    )
    kept = kept_occ.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = occ.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines")
    )
    return totals.join(kept, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def dedup_lines_ttl_oracle(ttl_batches: int = 3, batch_docs: int = 100) -> str:
    return f"""
        WITH ttl_toks AS (SELECT doc_id, string_split(text, ' ') AS ts
                          FROM documents),
        ttl_occ AS (SELECT doc_id, pos,
                       array_to_string(ts[(pos * {LINE_W} + 1):(pos * {LINE_W} + {LINE_W})], ' ') AS line
                FROM (SELECT doc_id, ts,
                             CAST(unnest(range(0, CAST(ceil(len(ts) / {LINE_W}.0) AS INT))) AS INT) AS pos
                      FROM ttl_toks)),
        ttl_flagged AS (SELECT doc_id, pos, line,
                           CAST(doc_id // {batch_docs} AS BIGINT) AS batch,
                           max(CAST(doc_id // {batch_docs} AS BIGINT)) OVER (
                             PARTITION BY md5(line) ORDER BY doc_id, pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                           ) AS prev_batch
                    FROM ttl_occ),
        ttl_kept AS (SELECT doc_id,
                        CAST(count(*) AS BIGINT) AS n_kept,
                        string_agg(line, ' ' ORDER BY pos) AS clean_text
                 FROM ttl_flagged
                 WHERE prev_batch IS NULL OR prev_batch < batch - {ttl_batches}
                 GROUP BY doc_id),
        ttl_totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
                   FROM ttl_occ GROUP BY doc_id)
        SELECT t.doc_id, t.n_lines,
               COALESCE(k.n_kept, 0) AS n_kept,
               COALESCE(k.clean_text, '') AS clean_text
        FROM ttl_totals t LEFT JOIN ttl_kept k ON t.doc_id = k.doc_id
    """


def dedup_lines_oracle() -> str:
    return f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts
                      FROM documents),
        occ AS (SELECT doc_id, pos,
                       array_to_string(ts[(pos * {LINE_W} + 1):(pos * {LINE_W} + {LINE_W})], ' ') AS line
                FROM (SELECT doc_id, ts,
                             CAST(unnest(range(0, CAST(ceil(len(ts) / {LINE_W}.0) AS INT))) AS INT) AS pos
                      FROM toks)),
        ranked AS (SELECT doc_id, pos, line,
                          row_number() OVER (PARTITION BY md5(line)
                                             ORDER BY doc_id, pos) AS rn
                   FROM occ),
        kept AS (SELECT doc_id,
                        CAST(count(*) AS BIGINT) AS n_kept,
                        string_agg(line, ' ' ORDER BY pos) AS clean_text
                 FROM ranked WHERE rn = 1 GROUP BY doc_id),
        totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
                   FROM occ GROUP BY doc_id)
        SELECT t.doc_id, t.n_lines,
               COALESCE(k.n_kept, 0) AS n_kept,
               COALESCE(k.clean_text, '') AS clean_text
        FROM totals t LEFT JOIN kept k ON t.doc_id = k.doc_id
    """


# -- exact set-similarity self-join (prefix filtering / AllPairs) ------------

SETSIM_THRESHOLD = 0.35


def _setsim_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh, n): DISTINCT sorted hashed-shingle sets + exact set size.

    Derived per-row from the published shingle table (array_distinct +
    array_sort are narrow); the distinct pass matters because the hashed
    array can carry 31-bit collisions — exact set semantics need true set
    sizes on BOTH engines or the Jaccard denominators drift."""
    sets = _hashed_shingle_sets(docs)
    sh = F.array_sort(F.array_distinct(F.col("sh")))
    return sets.select("doc_id", sh.alias("sh")).select(
        "doc_id", "sh", F.size("sh").alias("n")
    )


def setsim_prefix_pairs(
    docs: DataFrame, threshold: float = SETSIM_THRESHOLD
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (AllPairs /
    PPJoin discipline, Bayardo et al. 2007, Xiao et al. 2008) — the
    full-corpus exact counterpart of the MinHash-LSH pipeline: LSH trades
    recall for candidate volume; the prefix filter is LOSSLESS, so the
    output is ground truth at the threshold, corpus-wide (the probe-audit
    `dedup_lsh_recall` samples this; here nothing is sampled).

    Completeness argument (the reason no pair is missed): order every
    set by a global token order; for Jaccard ≥ t a pair needs overlap
    i ≥ t·max(|A|,|B|) ≥ ⌈t·|A|⌉, so the SMALLEST shared token cannot sit
    deeper than position |A| − ⌈t·|A|⌉ + 1 in A (all tokens before it are
    unshared) — and symmetrically for B. Emitting only each set's first
    |·| − ⌈t·|·|⌉ + 1 tokens into the equi-join therefore preserves every
    qualifying pair, while shrinking the inverted index by ~t of its mass.

    The global order is ASCENDING document frequency (ties by token
    value) — the classic AllPairs ordering: prefixes then hold the RAREST
    tokens, so the equi-join's per-key fan-out is bounded by rare-token
    df, not by stop-shingle df² (value-ordered prefixes admit corpus-hot
    shingles and degenerate toward the unfiltered inverted join: measured
    7.7 M intersect rows at sf0.01 vs ~10 k after the frequency-ordered
    prefix). df is one map-side-combinable aggregate over the exploded
    distinct shingles — the same corpus-wide pass every retrieval stat
    (ranking.py) already pays.

    Plan: explode published sets → df aggregate → rejoin on token →
    per-doc row_number window (≤ |set| rows per doc) → prefix-token
    equi-join with the length filter min ≥ t·max (Jaccard ≥ t bounds the
    size ratio) → distinct candidate pairs → one array_intersect verify
    per candidate (same keyed-repartition verify join as the LSH family).
    Every stage is an equi-shuffle or a per-doc window; nothing is
    all-pairs. At 100 TB the candidate volume is the prefix index's
    Σ df²(rare tokens), the quantity AllPairs exists to minimize.

    Returns (doc_a, doc_b, jaccard) — doc_a < doc_b, jaccard over the
    DISTINCT hashed-shingle sets, rounded to 6 dp. Oracle: an UNFILTERED
    inverted-index brute force (independent of the prefix logic — the
    oracle proves the filter lossless, not just self-consistent)."""
    from .models import published

    sets = _setsim_sets(docs)

    def build() -> DataFrame:
        tok = sets.select("doc_id", "n", F.explode("sh").alias("tok"))
        df_ = tok.groupBy("tok").agg(F.count("*").alias("df"))
        plen = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1).cast(
            "int"
        )
        rn = F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "tok")
        )
        pref = (
            tok.join(df_, "tok")
            .select("doc_id", "n", "tok", rn.alias("rn"), plen.alias("plen"))
            .where(F.col("rn") <= F.col("plen"))
            .select("doc_id", "n", "tok", "rn")
        )
        # r10 negative result (recorded): widening this self-join with an
        # explicit (tok) repartition (the probe's AQE-fan-out fix) made
        # total CPU 2x WORSE (320 -> 656 s at sf0.1): at 12 AQE-coalesced
        # tasks the fused partial positional-aggregate compacts the
        # ~60 M-row fan-out to 66 MB of shuffle, but at 128 partitions
        # the per-task pair maps stop absorbing duplicates and ~2.9 GB
        # of raw pair rows shuffle to the final aggregate instead. The
        # narrow coalesce IS the efficient shape here; left alone.
        a = pref.select(
            F.col("doc_id").alias("doc_a"),
            F.col("n").alias("na"),
            "tok",
            F.col("rn").alias("ra"),
        )
        b = pref.select(
            F.col("doc_id").alias("doc_b"),
            F.col("n").alias("nb"),
            "tok",
            F.col("rn").alias("rb"),
        )
        cands = _positional_candidates(
            a.join(b, "tok").where(
                (F.col("doc_a") < F.col("doc_b"))
                & (
                    F.least("na", "nb")
                    >= F.lit(threshold) * F.greatest("na", "nb")
                )
            ),
            "doc_a",
            "doc_b",
            threshold,
        )
        sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        jac = F.round(
            inter / (F.size("sh_a") + F.size("sh_b") - inter), 6
        )
        return (
            _verify_join(cands, sa, sb)
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold)
            .localCheckpoint(eager=True)
        )

    # pair-bounded result, consumed by the catalog query, the recall
    # report, and the containment property test -> published per input
    return published(sets, "setsim_pairs", (threshold,), build)


def setsim_prefix_pairs_oracle(threshold: float = SETSIM_THRESHOLD) -> str:
    sh = hashed_shingles_sql("duckdb", "text")
    return f"""
        WITH s AS (SELECT doc_id, list_sort(list_distinct({sh})) AS sh
                   FROM documents),
        sz AS (SELECT doc_id, len(sh) AS n FROM s),
        tok AS (SELECT doc_id, unnest(sh) AS tok FROM s),
        i AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(count(*) AS DOUBLE) AS i
              FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
        SELECT doc_a, doc_b, jaccard FROM (
            SELECT doc_a, doc_b,
                   ROUND(i.i / (sa.n + sb.n - i.i), 6) AS jaccard
            FROM i JOIN sz sa ON sa.doc_id = i.doc_a
                   JOIN sz sb ON sb.doc_id = i.doc_b)
        WHERE jaccard >= {threshold}
    """


def setsim_lsh_recall(
    docs: DataFrame, threshold: float = SETSIM_THRESHOLD
) -> DataFrame:
    """(n_true, n_hit, recall): the FULL-CORPUS recall of the banded
    MinHash-LSH candidate stage against the prefix-filter exact join —
    the census version of `dedup_lsh_recall`'s probe audit. One row; the
    exact side is the published `setsim_pairs` artifact, the LSH side the
    published candidate pairs, so the report is a pair-table left join.
    """
    exact = setsim_prefix_pairs(docs, threshold)
    cand = minhash_lsh_pairs(docs).select("doc_a", "doc_b").distinct()
    hit = exact.join(cand, ["doc_a", "doc_b"], "left_semi")
    n_true = exact.agg(F.count("*").alias("n_true"))
    n_hit = hit.agg(F.count("*").alias("n_hit"))
    return n_true.crossJoin(F.broadcast(n_hit)).select(
        F.col("n_true").cast("bigint").alias("n_true"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        F.round(
            F.col("n_hit") / F.greatest(F.col("n_true"), F.lit(1)), 6
        ).alias("recall"),
    )


def setsim_lsh_recall_oracle(threshold: float = SETSIM_THRESHOLD) -> str:
    return f"""
        WITH exact AS ({setsim_prefix_pairs_oracle(threshold)}),
        cand AS (SELECT DISTINCT doc_a, doc_b
                 FROM ({minhash_lsh_pairs_oracle()})),
        hit AS (SELECT e.doc_a FROM exact e
                JOIN cand c ON c.doc_a = e.doc_a AND c.doc_b = e.doc_b)
        SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_true,
               CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
               ROUND(CAST((SELECT count(*) FROM hit) AS DOUBLE)
                     / greatest((SELECT count(*) FROM exact), 1), 6) AS recall
    """


def setsim_corpus_index(
    sets: DataFrame, threshold: float = SETSIM_THRESHOLD
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(prefix postings, df table, sets) of the CORPUS side — the
    persisted exact-dedup index an ingestion pipeline maintains next to
    its LSH store: prefix postings (tok, doc_id, n) under the corpus-df
    total order, the df table that DEFINES that order (probes must sort
    by the same keys), and the full sorted sets for the verify stage.
    Takes a (doc_id, sh, n) SETS frame (callers carve the corpus side out
    of the ONE published shingle artifact — building a second shingle
    table per subset was the dominant cost of the first cut: the md5 pass
    is paid per distinct published input). Published per (input,
    threshold) through the artifact registry."""
    from .models import disk_checkpoint, published

    def build() -> tuple[DataFrame, DataFrame, DataFrame]:
        tok = sets.select("doc_id", "n", F.explode("sh").alias("tok"))
        df_ = disk_checkpoint(
            tok.groupBy("tok").agg(F.count("*").alias("df")), "setsim_df"
        )
        plen = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1).cast(
            "int"
        )
        rn = F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "tok")
        )
        pref = (
            tok.join(df_, "tok")
            .select("doc_id", "n", "tok", rn.alias("rn"), plen.alias("plen"))
            .where(F.col("rn") <= F.col("plen"))
            .select("tok", "doc_id", "n", "rn")
        )
        return (
            disk_checkpoint(pref, "setsim_postings"),
            df_,
            disk_checkpoint(sets, "setsim_sets"),
        )

    return published(sets, "setsim_corpus_index", (threshold,), build)


def setsim_probe(
    batch_sets: DataFrame,
    postings: DataFrame,
    df_: DataFrame,
    corpus_sets: DataFrame,
    threshold: float = SETSIM_THRESHOLD,
) -> DataFrame:
    """EXACT batch-vs-corpus near-dup probe through a prefix index —
    the lossless counterpart of the banded-LSH probe: every corpus doc
    within Jaccard ≥ threshold of a batch doc is found, none invented.

    The batch side sorts by the CORPUS df order (the order the postings
    were prefixed under — a shared total order is what the smallest-
    shared-token argument needs); tokens the corpus has never seen get
    df 0, sort first, and can't match a posting, which costs prefix
    slots but never correctness. Returns the best qualifying match per
    batch doc: (batch_doc, match_doc, jaccard), jaccard ≥ threshold —
    row present ⇔ the ingest decision is REJECT. Restricting output to
    qualifying pairs is what makes the operator exactly oracle-equal:
    the prefix filter preserves every qualifying pair but prunes
    arbitrary non-qualifying candidates."""
    tok = batch_sets.select("doc_id", "n", F.explode("sh").alias("tok"))
    plen = (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1).cast("int")
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "tok")
    )
    pref = (
        tok.join(df_, "tok", "left")
        .na.fill({"df": 0})
        .select("doc_id", "n", "tok", rn.alias("rn"), plen.alias("plen"))
        .where(F.col("rn") <= F.col("plen"))
    )
    # r10 (the AQE fan-out hazard, measured): the prefix rows leaving the
    # window filter are ~1 MB of shuffle output, so AQE coalesced the
    # downstream stage to ONE task — which then ran the postings join's
    # 25 M-row fan-out AND the positional filter's partial aggregate
    # single-threaded (8.45 s of the probe's 12.6 s cold wall, task
    # summary via the UI REST API). The width pin must be KEYED BY THE
    # PROBE DOC: a round-robin spread scatters each (batch_doc,
    # match_doc) pair's token rows across tasks, so the fused partial
    # aggregate stops compacting and ~0.5 GB of raw pair rows shuffle to
    # the final aggregate (measured — recorded negative). Partitioned by
    # doc_id, the broadcast postings join keeps the partitioning, every
    # pair's rows stay inside one task, and the partial aggregate
    # compacts the 25 M-row fan-out before the exchange exactly as the
    # single-task plan did — just on the whole cluster. ×4 keeps
    # per-task pair-map state small (§5; ×1 GC-thrashed a default-heap
    # session at sf0.1). An explicit count is not AQE-coalescible.
    pref = pref.repartition(
        pref.sparkSession.sparkContext.defaultParallelism * 4, "doc_id"
    )
    joined = pref.select(
        F.col("doc_id").alias("batch_doc"),
        F.col("n").alias("na"),
        "tok",
        F.col("rn").alias("ra"),
    ).join(
        postings.select(
            "tok",
            F.col("doc_id").alias("match_doc"),
            F.col("n").alias("nb"),
            F.col("rn").alias("rb"),
        ),
        "tok",
    ).where(
        F.least("na", "nb") >= F.lit(threshold) * F.greatest("na", "nb")
    )
    # positional filter: positions are under the SHARED global order —
    # the postings were prefixed by this index's own df order
    cands = _positional_candidates(joined, "batch_doc", "match_doc", threshold)
    a = batch_sets.select(F.col("doc_id").alias("batch_doc"), F.col("sh").alias("sh_a"))
    b = corpus_sets.select(F.col("doc_id").alias("match_doc"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    jac = F.round(inter / (F.size("sh_a") + F.size("sh_b") - inter), 6)
    # explicit keyed-COUNT repartition on both sides of each verify join
    # (the _verify_join discipline): the per-row intersection is CPU-heavy
    # while the candidate rows are narrow, so AQE's byte-based coalescing
    # would run the verify on a fraction of the cluster
    npart = cands.sparkSession.sparkContext.defaultParallelism * 4
    scored = (
        cands.repartition(npart, "batch_doc")
        .join(a.repartition(npart, "batch_doc"), "batch_doc")
        .repartition(npart, "match_doc")
        .join(b.repartition(npart, "match_doc"), "match_doc")
        .select("batch_doc", "match_doc", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    # per-batch-doc argmax as a map-side-combinable aggregate (the
    # incremental_dedup rule): max(struct(jaccard, -match_doc)) is the
    # (jaccard DESC, match_doc ASC) tiebreak exactly.
    return (
        scored.groupBy("batch_doc")
        .agg(
            F.max(
                F.struct(F.col("jaccard"), (-F.col("match_doc")).alias("nmd"))
            ).alias("b")
        )
        .select(
            "batch_doc",
            (-F.col("b.nmd")).alias("match_doc"),
            F.col("b.jaccard").alias("jaccard"),
        )
    )


def setsim_incremental(
    docs: DataFrame, batch_mod: int = 10, threshold: float = SETSIM_THRESHOLD
) -> DataFrame:
    """EXACT incremental dedup: probe the deterministic batch split
    (doc_id % batch_mod == 0, the same split as `incremental_dedup`)
    against the corpus-side prefix index — the lossless twin of the
    banded-LSH probe, so the two queries over the SAME split quantify
    precisely what the LSH index trades away (every `incremental_dedup`
    is_dup row at this threshold must appear here; the reverse can
    fail — pinned in tests)."""
    # ONE published shingle artifact; both sides are filters over it
    # (publishing per-subset repaid the md5 pass twice — 95 → 24 s cold
    # at sf0.1 together with the positional filter). The probe RESULT is
    # itself published (row-bounded, consumed by the lifecycle gate
    # suite, the standalone query, and the subset property tests): the
    # probe join re-ran ~11 s warm per consumer otherwise.
    from .models import published

    sets = _setsim_sets(docs)

    def build() -> DataFrame:
        batch_sets = sets.where(F.col("doc_id") % batch_mod == 0)
        corpus_sets = sets.where(F.col("doc_id") % batch_mod != 0)
        postings, df_, csets = setsim_corpus_index(corpus_sets, threshold)
        return setsim_probe(
            batch_sets, postings, df_, csets, threshold
        ).localCheckpoint(eager=True)

    return published(sets, "setsim_incremental", (batch_mod, threshold), build)


def setsim_incremental_oracle(
    batch_mod: int = 10, threshold: float = SETSIM_THRESHOLD
) -> str:
    sh = hashed_shingles_sql("duckdb", "text")
    return f"""
        WITH s AS MATERIALIZED (
          SELECT doc_id, list_sort(list_distinct({sh})) AS sh FROM documents),
        sz AS (SELECT doc_id, len(sh) AS n FROM s),
        tokb AS (SELECT doc_id, unnest(sh) AS tok FROM s
                 WHERE doc_id % {batch_mod} = 0),
        tokc AS (SELECT doc_id, unnest(sh) AS tok FROM s
                 WHERE doc_id % {batch_mod} != 0),
        i AS (SELECT b.doc_id AS batch_doc, c.doc_id AS match_doc,
                     CAST(count(*) AS DOUBLE) AS i
              FROM tokb b JOIN tokc c ON b.tok = c.tok
              GROUP BY 1, 2),
        scored AS (
          SELECT batch_doc, match_doc,
                 ROUND(i.i / (sa.n + sb.n - i.i), 6) AS jaccard
          FROM i JOIN sz sa ON sa.doc_id = i.batch_doc
                 JOIN sz sb ON sb.doc_id = i.match_doc),
        q AS (SELECT * FROM scored WHERE jaccard >= {threshold}),
        r AS (SELECT *, row_number() OVER (PARTITION BY batch_doc
                     ORDER BY jaccard DESC, match_doc) AS rn FROM q)
        SELECT batch_doc, match_doc, jaccard FROM r WHERE rn = 1
    """


def _positional_candidates(
    joined: DataFrame, col_a: str, col_b: str, threshold: float
) -> DataFrame:
    """PPJoin positional filter over the prefix-token join output
    (columns: col_a, col_b, na, nb, ra, rb — rn positions under the ONE
    global token order both sides were prefixed with).

    Sound overlap upper bound per pair: every shared token globally
    BEFORE the last shared prefix token w is itself inside both prefixes
    (positions are monotone in the shared order), so it is counted by
    c = |shared prefix tokens|; tokens after w number ≤ min(na−ra, nb−rb).
    A pair can only reach Jaccard ≥ t if i ≥ t·(na+nb)/(1+t), so pairs
    with c + min(na−ra, nb−rb) below that are dropped WITHOUT a verify —
    measured 10.5 M → 98 k candidates at sf0.1 (107×), which moves the
    verify stage from the dominant cost to noise. The ε guards the float
    evaluation of the real-valued bound (an exact-integer boundary must
    never round into an over-filter); the oracle is the unfiltered brute
    force, so the gate proves the filter lossless every round."""
    alpha = F.lit(threshold / (1.0 + threshold)) * (
        F.col("na") + F.col("nb")
    ) - F.lit(1e-6)
    return (
        joined.groupBy(col_a, col_b)
        .agg(
            F.count("*").alias("c"),
            F.max("ra").alias("ra"),
            F.max("rb").alias("rb"),
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
        )
        .where(
            F.col("c")
            + F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb"))
            >= alpha
        )
        .select(col_a, col_b)
    )


# -- incremental connected components (cluster maintenance under ingest) -----


def _band_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band rows over the published signature
    table — the probe-side index every incremental consumer carves its
    subsets from (the published-once rule: subsetting docs BEFORE the
    signature build would retrain the artifact per subset)."""
    sigs = minhash_signatures(docs)
    # r9: band structs as ONE parsed SQL string (identical analyzed tree;
    # the py4j-chatter rule from OPTIMIZATION_r09.md).
    bands = ", ".join(
        "named_struct('band', {b}, 'key', concat_ws('-', {cols}))".format(
            b=b,
            cols=", ".join(
                f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return sigs.selectExpr(
        "doc_id", f"explode(array({bands})) AS bk"
    ).selectExpr("doc_id", "bk.band AS band", "bk.key AS key")


def _star(bands: DataFrame) -> DataFrame:
    """Per-bucket star edges (hub = min member) over (doc_id, band, key)
    rows — connectivity-equivalent to the in-bucket clique at O(k) edges
    per bucket (see minhash_lsh_star_edges)."""
    buckets = bands.groupBy("band", "key").agg(
        F.expr("min(doc_id)").alias("hub"),
        F.expr("collect_set(doc_id)").alias("ids"),
    )
    return (
        buckets.where("size(ids) > 1")
        .selectExpr("hub", "explode(ids) AS doc_id")
        .where("doc_id != hub")
        .selectExpr("hub AS doc_a", "doc_id AS doc_b")
    )


def fold_clusters(
    delta_edges: DataFrame, prior_labels: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Supernode contraction → delta CC → expand: fold new edges into an
    established (doc_id, cluster) label map — `incremental_clusters`'
    construction, pinned by the full-graph CC oracle. Exactness argument:
    prior labels are component-MIN doc ids, so the contracted fixpoint's
    min over (labels ∪ new node ids) equals the global component min."""
    la = prior_labels.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster").alias("ca")
    )
    lb = prior_labels.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster").alias("cb")
    )
    contracted = (
        delta_edges.join(la, "doc_a", "left")
        .join(lb, "doc_b", "left")
        .select(
            F.coalesce("ca", "doc_a").alias("doc_a"),
            F.coalesce("cb", "doc_b").alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
    )
    delta = _cc_run(contracted, max_iter)
    reps = delta.select(
        F.col("doc_id").alias("rep"), F.col("cluster").alias("new_label")
    )
    kept = prior_labels.join(
        reps, prior_labels.cluster == reps.rep, "left"
    ).select("doc_id", F.coalesce("new_label", "cluster").alias("cluster"))
    fresh = delta.join(
        prior_labels.select(F.col("cluster").alias("rep")).distinct(),
        delta.doc_id == F.col("rep"),
        "left_anti",
    ).select("doc_id", "cluster")
    return kept.unionByName(fresh)


def incremental_clusters(
    docs: DataFrame, batch_mod: int = 10, max_iter: int = 25
) -> DataFrame:
    """Incremental cluster maintenance: fold a new batch into the
    ESTABLISHED corpus clustering without re-running connected components
    over the corpus graph — the cluster-map twin of `incremental_dedup`
    (candidates) and the production shape of dedup under continuous
    ingest: at 100 TB the corpus label map is a maintained artifact; a
    delta touches only the components its candidate buckets reach.

    Supernode contraction (the textbook incremental-CC construction):
    corpus endpoints of the delta's edges are REWRITTEN to their corpus
    cluster label, so the delta CC runs over batch docs + touched
    CLUSTERS — O(|batch| + touched components) nodes, independent of
    corpus graph size. Because corpus labels are component-MIN doc ids,
    the contracted fixpoint's min-label per merged component equals the
    global min doc id — so the expanded result is BYTE-IDENTICAL to the
    from-scratch clustering, and the oracle (the full-graph recursive
    CTE, same as `dedup_clusters`) proves that equality at value level
    every gate run.

    Stages: (1) corpus-only star edges from the ONE published band-row
    table → published corpus label map (in production: read, not built);
    (2) batch band keys semi-select touched buckets → full star over
    their members (covers batch-batch AND batch-corpus connectivity);
    (3) contract via two left joins on the label map; (4) CC over the
    contracted delta graph (rounds bounded by DELTA diameter);
    (5) re-expand: relabel corpus components through the delta fixpoint,
    emit delta-only nodes directly."""
    from .models import published

    bands = _band_rows(docs)
    is_batch = F.col("doc_id") % batch_mod == 0
    corpus_edges = _star(bands.where(~is_batch))
    corpus_labels = connected_components(corpus_edges, max_iter)
    batch_keys = bands.where(is_batch).select("band", "key").distinct()
    touched = bands.join(batch_keys, ["band", "key"])
    delta_edges = _star(touched)
    # the final label map is node-sized and read by two consumers (the
    # registered query and the lifecycle gate suite) — published like
    # every converged label table
    return published(
        bands,
        "incremental_cluster_labels",
        (batch_mod, max_iter),
        lambda: fold_clusters(delta_edges, corpus_labels, max_iter)
        .localCheckpoint(eager=True),
    )
