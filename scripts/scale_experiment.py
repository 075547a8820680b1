#!/usr/bin/env python
"""1× vs 10× (vs 100×) scaling experiment (SCALE.md §4), reproducibly.

Synthesizes a 10× corpus from $SPARK_GRAFT_SF_DIR (default sf0.1) into
$SCALE10X_DIR (default /tmp/scale10x): 10 id-shifted copies of events /
documents / embeddings, document texts perturbed per copy, embeddings
nudged per copy — the same protocol as the r2 experiment. Then times the
query names given on the command line (default: the round-3 additions) at
1× and 10× (min-of-2, noop sink) and prints a markdown table.

`--x100` adds a THIRD decade: a 100× corpus (same id-shift/perturb
protocol, 100 copies ≈ sf10-equivalent row counts for the scaled tables)
in $SCALE100X_DIR (default /tmp/scale100x), timing the headline LINEAR
families across all three points so the claimed exponents are measured
over two decades, not one. Pair-OUTPUT queries stay excluded there by
the standing quadratic-semantics rule (100 copies of a document means
~10 000× its true near-dup pairs — that is the semantics, not a cost).

Usage: python scripts/scale_experiment.py [--skew] [--x100] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.environ.get("SCALE10X_DIR", "/tmp/scale10x")
DST100 = os.environ.get("SCALE100X_DIR", "/tmp/scale100x")
COPIES = 10

DEFAULT_QUERIES = [
    "kmeans_cells",
    "ann_ivf_kmeans",
    "tfidf_top_terms",
    "bm25_scores",
    "grouped_topk_docs",
    "stratified_sample",
    "interval_range_join",
    "hypertable_rollup",
    "dedup_minhash_lsh",
    "dedup_clusters",
    # r4 extension: composed/compressed ANN tiers, graph + basket family,
    # governance + layout-ops reports
    "ann_ivf_pq",
    "ann_ivf_pq_residual",
    "ann_sq8",
    "graph_communities",
    "copurchase_pairs",
    "privacy_kanon_audit",
    "join_key_skew_report",
    "compaction_plan",
    "dedup_lines",
    "event_anomaly_zscore",
    "event_transition_matrix",
    "prototype_classifier_eval",
    # r6: frozen-model incremental ANN encode (models are snapshot-sized —
    # the decade measures the batch-linear encode path) and the perceptual
    # media hash (bucket means are scan-stage; the pair stage is banded)
    "ann_incremental",
    "multimodal_phash_dedup",
]


COPY_TARGETS = ("documents", "events", "embeddings", "orders", "lineitem")


def _clean_copy_targets(dst: str) -> None:
    """Remove any pre-existing COPY target in `dst` BEFORE writing.

    Earlier revisions symlinked orders/lineitem into the scale dir; a COPY
    through such a stale symlink would follow it and silently overwrite the
    SOURCE fixture with scaled data. Unlinking first (os.remove removes the
    link itself, never the target) makes that impossible regardless of what
    a previous run left behind."""
    for t in COPY_TARGETS:
        p = os.path.join(dst, f"{t}.parquet")
        if os.path.lexists(p):
            os.remove(p)


def synthesize(con, dst: str = DST, n_copies: int = COPIES, salt: bool = False) -> None:
    os.makedirs(dst, exist_ok=True)
    _clean_copy_targets(dst)
    n_docs = con.execute(
        f"SELECT max(doc_id) + 1 FROM read_parquet('{SRC}/documents.parquet')"
    ).fetchone()[0]
    n_events = con.execute(
        f"SELECT max(event_id) + 1 FROM read_parquet('{SRC}/events.parquet')"
    ).fetchone()[0]
    n_vecs = con.execute(
        f"SELECT max(vec_id) + 1 FROM read_parquet('{SRC}/embeddings.parquet')"
    ).fetchone()[0]
    copies = f"generate_series(0, {n_copies - 1}) AS g(i)"
    if salt:
        # constant-duplicate-density perturbation: per-copy Caesar
        # rotation (letters shift (i%25)+1, digits shift (i%9)+1 —
        # lcm 225 > copies, so every copy is in its own class). A
        # bijective char map preserves each copy's INTERNAL duplicate
        # structure exactly (shingle sets map 1:1) while making
        # cross-copy shingle overlap ~zero — token-level salts are NOT
        # enough: character 5-shingles are local, a salt every 5 tokens
        # leaves Jaccard ≈ 0.8 and the 4-band × 2-row LSH (catches
        # J ≳ 0.5) still pairs every copy with every other.
        al = "abcdefghijklmnopqrstuvwxyz"
        dg = "0123456789"
        rot_l = f"substr('{al}', (i % 25) + 2) || substr('{al}', 1, (i % 25) + 1)"
        rot_d = f"substr('{dg}', (i % 9) + 2) || substr('{dg}', 1, (i % 9) + 1)"
        text_expr = (
            f"CASE WHEN i = 0 THEN text ELSE "
            f"translate(text, '{al}{dg}', {rot_l} || {rot_d}) END"
        )
    else:
        text_expr = "CASE WHEN i = 0 THEN text ELSE text || ' v' || i END"
    con.execute(
        f"""COPY (
          SELECT doc_id + i * {n_docs} AS doc_id,
                 {text_expr} AS text,
                 lang, source, n_chars
          FROM read_parquet('{SRC}/documents.parquet'), {copies}
        ) TO '{dst}/documents.parquet' (FORMAT parquet)"""
    )
    con.execute(
        f"""COPY (
          SELECT event_id + i * {n_events} AS event_id, ts,
                 user_id, event_type, value, props
          FROM read_parquet('{SRC}/events.parquet'), {copies}
        ) TO '{dst}/events.parquet' (FORMAT parquet)"""
    )
    con.execute(
        f"""COPY (
          SELECT vec_id + i * {n_vecs} AS vec_id,
                 list_transform(embedding, x -> x + i * 0.001) AS embedding,
                 label
          FROM read_parquet('{SRC}/embeddings.parquet'), {copies}
        ) TO '{dst}/embeddings.parquet' (FORMAT parquet)"""
    )
    # fact tables scale with the corpus (id-shifted copies; foreign keys into
    # the unscaled dimensions stay valid because custkeys/partkeys repeat)
    n_orders = con.execute(
        f"SELECT max(o_orderkey) + 1 FROM read_parquet('{SRC}/orders.parquet')"
    ).fetchone()[0]
    for stmt in (
        f"""COPY (
          SELECT o_orderkey + i * {n_orders} AS o_orderkey, o_custkey,
                 o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
          FROM read_parquet('{SRC}/orders.parquet'), {copies}
        ) TO '{dst}/orders.parquet' (FORMAT parquet)""",
        f"""COPY (
          SELECT l_orderkey + i * {n_orders} AS l_orderkey, l_partkey,
                 l_suppkey, l_linenumber, l_quantity, l_extendedprice,
                 l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
          FROM read_parquet('{SRC}/lineitem.parquet'), {copies}
        ) TO '{dst}/lineitem.parquet' (FORMAT parquet)""",
    ):
        con.execute(stmt)
    # pure dimensions are referenced by some queries' table loads only;
    # link them through unchanged so load_table finds every name
    for t in ("region", "nation", "customer", "supplier", "part"):
        dpath = os.path.join(dst, f"{t}.parquet")
        if not os.path.exists(dpath):
            os.symlink(os.path.join(SRC, f"{t}.parquet"), dpath)


SKEW_DST = os.environ.get("SCALE10X_SKEW_DIR", "/tmp/scale10x_skew")

# queries whose skew defenses the stress case exercises: the chunked
# hot-bucket fan-out (dedup_minhash_lsh), the salt-spread join
# (salted_join_dim), the per-key window family (sessionize_events), and
# the AQE-skew-splittable simhash band self-join (dedup_simhash_pairs —
# the boilerplate hot text collapses ~5% of the corpus into one band
# bucket, its exact degenerate case)
SKEW_QUERIES = [
    "dedup_minhash_lsh",
    "salted_join_dim",
    "sessionize_events",
    "dedup_simhash_pairs",
]


def synthesize_skew(con) -> None:
    """10× corpus with DELIBERATE hot keys (SCALE.md §4 skew stress):
    every 20th document (across all copies) carries one identical
    boilerplate text — minhash signatures collide exactly, so all its
    occurrences land in ONE LSH bucket per band (~5% of the corpus in a
    single bucket); and every 5th event is reassigned to user_id 7 (~20%
    of events on one session/join key)."""
    os.makedirs(SKEW_DST, exist_ok=True)
    _clean_copy_targets(SKEW_DST)
    boiler = (
        "terms and conditions apply all rights reserved unsubscribe here "
        "this message was sent automatically do not reply to this email "
        "copyright notice privacy policy cookie settings contact support"
    )
    con.execute(
        f"""COPY (
          SELECT doc_id, CASE WHEN doc_id % 20 = 3 THEN '{boiler}' ELSE text END AS text,
                 lang, source, n_chars
          FROM read_parquet('{DST}/documents.parquet')
        ) TO '{SKEW_DST}/documents.parquet' (FORMAT parquet)"""
    )
    con.execute(
        f"""COPY (
          SELECT event_id, ts,
                 CASE WHEN event_id % 5 = 0 THEN 7 ELSE user_id END AS user_id,
                 event_type, value, props
          FROM read_parquet('{DST}/events.parquet')
        ) TO '{SKEW_DST}/events.parquet' (FORMAT parquet)"""
    )
    for t in ("embeddings", "orders", "lineitem", "region", "nation", "customer",
              "supplier", "part"):
        dst = os.path.join(SKEW_DST, f"{t}.parquet")
        if not os.path.lexists(dst):
            os.symlink(os.path.join(DST, f"{t}.parquet"), dst)


def _time(spark, fn, sf_dir: str, cold: bool = False) -> float:
    """min-of-2 wall. `cold=True` clears the session artifact registry
    before EVERY run: published-artifact queries (signatures, CC labels,
    graph builds) otherwise report the warm artifact SCAN on run 2 —
    flat across decades and useless as scale evidence. The x100 decade
    times the cold end-to-end path (train + consume) for exactly that
    reason; the default mode keeps the historical warm semantics so the
    earlier §4 tables stay comparable."""
    from spark_deal_observer_spark.operators import models

    best = float("inf")
    for _ in range(2):
        if cold:
            models.clear()
        t = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t)
    return best


# the third-decade set: the headline LINEAR families (signature build,
# star-edge CC, sessionization, salt-spread join, line dedup, watermark
# windows). Pair-family consumers (dedup_incremental, LSH pair
# enumeration) stay excluded per the standing quadratic-semantics rule —
# the id-shifted protocol multiplies duplicate DENSITY, so their
# candidate volume grows ~copies² by construction; they get their own
# decade under --lowdup below.
X100_QUERIES = [
    "dedup_minhash_sig",
    "dedup_clusters",
    "sessionize_events",
    "salted_join_dim",
    "dedup_lines",
    "windowed_counts",
]

# --lowdup: the CONSTANT-duplicate-density decade for the pair family.
# Each copy has a per-copy salt token spliced every 5 tokens, destroying
# cross-copy shingle overlap — 10×/100× the DATA at ≈ the base corpus's
# duplicate rate, which is the real production shape (a bigger corpus is
# not 100 near-copies of itself). Under it, candidate volume grows
# linearly and the probe-shaped incremental dedup can be measured
# honestly across two decades.
DST_LD10 = os.environ.get("SCALE10X_LOWDUP_DIR", "/tmp/scale10x_lowdup")
DST_LD100 = os.environ.get("SCALE100X_LOWDUP_DIR", "/tmp/scale100x_lowdup")
LOWDUP_QUERIES = [
    "dedup_incremental",
    "dedup_minhash_lsh",
]


def setsim_probe_decade(spark) -> None:
    """--setsim-probe: the EXACT incremental-dedup decade — a FIXED
    incoming batch probed against a grown store through the prefix
    index, over the LOWDUP corpora — the id-shifted protocol is excluded
    for the exact tier by the standing quadratic-semantics rule: unlike
    the LSH band SEMI-join (density-insensitive), the exact probe's
    candidate volume tracks duplicate density by construction, and ×N
    id-shifted copies mean ~N× true matches per batch doc (measured: the
    id-shifted 10× tick skew-straggled on hot shingles). Per-copy salted
    corpora hold duplicate density at the base rate, so the decade
    measures STORE-GROWTH cost, which is the production claim. Set
    against the LSH tier's recorded per-tick growth (SCALE.md), it
    quantifies what losslessness costs at each store size."""
    from spark_deal_observer_spark.operators import models
    from spark_deal_observer_spark.operators.dedup import (
        _setsim_sets,
        setsim_corpus_index,
        setsim_probe,
    )
    from spark_deal_observer_spark.sources.tables import load_table

    batch = load_table(spark, SRC, "documents").where("doc_id % 10 = 0")
    rows = []
    for label, d in (("1x", SRC), ("10x", DST_LD10), ("100x", DST_LD100)):
        models.clear()
        t0 = time.perf_counter()
        corpus_sets = _setsim_sets(load_table(spark, d, "documents"))
        postings, df_, csets = setsim_corpus_index(corpus_sets)
        n_post = postings.count()
        build_s = time.perf_counter() - t0
        bsets = _setsim_sets(batch)
        ticks = []
        n_hit = 0
        for _ in range(3):
            t1 = time.perf_counter()
            n_hit = setsim_probe(bsets, postings, df_, csets).count()
            ticks.append(time.perf_counter() - t1)
        rows.append((label, build_s, min(ticks), n_hit, n_post))
        print(
            f"DONE setsim-probe {label} build={build_s:.2f} "
            f"tick={min(ticks):.2f}",
            flush=True,
        )
    print("\n| store | index build sec | exact probe tick sec | batch rejects | posting rows |")
    print("|---|---|---|---|---|")
    for label, b, t, h, n in rows:
        print(f"| {label} | {b:.2f} | {t:.2f} | {h} | {n} |")


PUBLISH_QUERIES = [
    "dedup_incremental",
    "dedup_clusters_incremental",
    "dedup_setsim_incremental",
    # the crossmodal train+retrieve paths ride the same protocol (r8
    # measured them in a separate table; r9 folds them in so the 100x
    # point covers both families in one run) — including the r9
    # length-routed local tier
    "crossmodal_retrieval",
    "crossmodal_ivf_retrieval",
    "crossmodal_local_retrieval",
    "crossmodal_moments",
]


def publish_decade(spark, x100: bool = False) -> None:
    """--publish-decade (VERDICT r7 #5): the COLD publish passes of the
    heaviest suite's incremental family across 1×/10× at CONSTANT
    duplicate density (lowdup corpora — the id-shifted protocol is wrong
    for pair ops, §4). Cold = cleared artifact registry, so the wall IS
    the training/publish pipeline (signature store, contracted CC
    labels, prefix index) plus one probe — the actual 100 TB ingest
    story the warm decades don't cover. Warm re-runs immediately after
    (artifacts live, the r7 warm-sweep rule) so the table separates
    publish growth from probe growth."""
    from spark_deal_observer_spark.operators import models
    from spark_deal_observer_spark.plans.registry import REGISTRY

    dirs = [("1x", SRC), ("10x", DST_LD10)]
    if x100:
        # r9 (VERDICT r8 #3): the THIRD decade — 10x->100x is where a
        # hidden super-linear stage would actually show (the 1x->10x
        # ratios are fixed-overhead-dominated). Same lowdup protocol
        # (constant duplicate density); sweep blockmgr debris first.
        dirs.append(("100x", DST_LD100))
    rows = []
    for name in PUBLISH_QUERIES:
        per = {}
        for label, d in dirs:
            models.clear()
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, d).write.format("noop").mode("overwrite").save()
            cold = time.perf_counter() - t0
            t1 = time.perf_counter()
            REGISTRY[name].fn(spark, d).write.format("noop").mode("overwrite").save()
            warm = time.perf_counter() - t1
            per[label] = (cold, warm)
            print(f"DONE publish {name} {label} cold={cold:.2f} warm={warm:.2f}", flush=True)
        rows.append((name, per))
    hdr = " | ".join(f"{lbl} cold" for lbl, _ in dirs)
    print(f"\n| query | {hdr} | 10x/1x | " + ("100x/10x | " if x100 else "") + "warm (last) |")
    print("|---" * (len(dirs) + (3 if x100 else 2)) + "|")
    for name, per in rows:
        colds = [per[lbl][0] for lbl, _ in dirs]
        cells = " | ".join(f"{c:.2f}" for c in colds)
        r10 = colds[1] / colds[0]
        extra = f"{colds[2] / colds[1]:.1f} | " if x100 else ""
        print(f"| {name} | {cells} | {r10:.1f} | {extra}{per[dirs[-1][0]][1]:.2f} |")


def main() -> None:
    import duckdb

    args = sys.argv[1:]
    skew = "--skew" in args
    x100 = "--x100" in args
    lowdup = "--lowdup" in args
    setsim = "--setsim-probe" in args
    publish = "--publish-decade" in args
    args = [
        a
        for a in args
        if a not in ("--skew", "--x100", "--lowdup", "--setsim-probe", "--publish-decade")
    ]
    if lowdup:
        names = args or LOWDUP_QUERIES
    else:
        names = args or (
            SKEW_QUERIES if skew else (X100_QUERIES if x100 else DEFAULT_QUERIES)
        )
    con = duckdb.connect()
    if publish:
        synthesize(con, DST_LD10, 10, salt=True)
        if x100:
            synthesize(con, DST_LD100, 100, salt=True)
    elif not lowdup:
        synthesize(con)
    if skew:
        synthesize_skew(con)
    if x100:
        synthesize(con, DST100, 100)
    if setsim:
        synthesize(con, DST_LD10, 10, salt=True)
        synthesize(con, DST_LD100, 100, salt=True)
    if lowdup:
        # 10x only: even at CONSTANT density the pair family's verify
        # volume is 10x the base corpus's (the fixture is duplicate-
        # dense: ~1.5M base pairs), and the 100x store build's array
        # shuffle (~150M candidate verifies) exceeds one box's spill
        # budget — measured: >39 GB of shuffle before ENOSPC. The 100x
        # point for incremental ingestion is --setsim-probe (fixed batch
        # vs grown store), which is the per-tick production claim anyway.
        synthesize(con, DST_LD10, 10, salt=True)

    from spark_deal_observer_spark.plans.registry import REGISTRY
    from spark_deal_observer_spark.session import get_spark

    spark = get_spark("scale-experiment")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    if publish:
        publish_decade(spark, x100=x100)
        return
    if setsim:
        setsim_probe_decade(spark)
        return

    if lowdup:
        dirs = [("1x", SRC), ("10x", DST_LD10)]
    else:
        dirs = (
            [("1x", SRC), ("10x", DST)]
            + ([("10x-skew", SKEW_DST)] if skew else [])
            + ([("100x", DST100)] if x100 else [])
        )
    rows = []
    for name in names:
        fn = REGISTRY[name].fn
        timing = {
            label: _time(spark, fn, sf_dir, cold=x100 or lowdup)
            for label, sf_dir in dirs
        }
        rows.append((name, timing))
        print(
            "DONE " + name + " " + " ".join(f"{k}={v:.2f}" for k, v in timing.items()),
            flush=True,
        )

    labels = [label for label, _ in dirs]
    extra = (1 if skew else 0) + (1 if x100 else 0)
    print("\n| query | " + " | ".join(f"{la} sec" for la in labels) + " | ratio |"
          + (" skew ratio |" if skew else "")
          + (" 100x/10x |" if x100 else ""))
    print("|---|" + "---|" * (len(labels) + 1 + extra))
    for name, t in rows:
        cells = " | ".join(f"{t[la]:.2f}" for la in labels)
        line = f"| {name} | {cells} | {t['10x'] / t['1x']:.1f} |"
        if skew:
            line += f" {t['10x-skew'] / t['1x']:.1f} |"
        if x100:
            line += f" {t['100x'] / t['10x']:.1f} |"
        print(line)


if __name__ == "__main__":
    main()
