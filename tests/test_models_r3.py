"""Round-3 additions: the trained-artifact registry, the in-plan GD
classifier, hybrid RRF retrieval, random projection, heavy hitters, and
the table profiler — behavior beyond what oracle parity already proves."""

from __future__ import annotations

import math

from conftest import SF_SMALL

from spark_deal_observer_spark.operators import models
from spark_deal_observer_spark.operators.classifier import (
    D_FEAT,
    classifier_scores,
)
from spark_deal_observer_spark.operators.profile import PROFILE_COLS, table_profile
from spark_deal_observer_spark.operators.ranking import hybrid_rrf, ngram_heavy_hitters
from spark_deal_observer_spark.operators.similarity import (
    RP_DIM,
    _kmeans_fit,
    random_projection,
)


def _docs(spark):
    return spark.read.parquet(f"{SF_SMALL}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")


# -- artifact registry -------------------------------------------------------


def test_published_artifact_is_shared_across_consumers(spark):
    """Two fits on the same logical input must return the SAME centroid
    ladder objects (one training run), a different input must not."""
    emb = _emb(spark)
    c1, _ = _kmeans_fit(emb, 8, 2)
    c2, _ = _kmeans_fit(emb, 8, 2)
    assert c1 is c2
    c3, _ = _kmeans_fit(emb.where("vec_id < 400"), 8, 2)
    assert c3 is not c1


def test_published_artifact_distinguishes_params(spark):
    emb = _emb(spark)
    a, _ = _kmeans_fit(emb, 8, 2)
    b, _ = _kmeans_fit(emb, 4, 2)
    assert a is not b


def test_clear_forces_retrain(spark):
    emb = _emb(spark)
    a, _ = _kmeans_fit(emb, 8, 2)
    models.clear()
    b, _ = _kmeans_fit(emb, 8, 2)
    assert a is not b  # new training run (values still identical)


# -- classifier --------------------------------------------------------------


def test_classifier_learns_the_label(spark):
    """After 3 GD steps the model must beat the majority-class baseline on
    its own training set (the distillation actually moved the weights)."""
    rows = classifier_scores(_docs(spark)).collect()
    n = len(rows)
    acc = sum(1 for r in rows if (r.prob >= 0.5) == (r.label == 1.0)) / n
    majority = max(sum(1 for r in rows if r.label == 1.0) / n,
                   sum(1 for r in rows if r.label == 0.0) / n)
    assert acc > majority, (acc, majority)
    assert all(0.0 <= r.prob <= 1.0 for r in rows)


def test_classifier_plan_is_jvm_only(spark):
    plan = classifier_scores(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan


# -- random projection -------------------------------------------------------


def test_random_projection_plan_has_no_shuffle(spark):
    """The projection is scan-stage only: the ±1 matrix arrives as a
    BroadcastExchange, but no SHUFFLE exchange (hash/range/single) may
    appear — every row is projected where it is scanned."""
    plan = (
        random_projection(_emb(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    for kind in ("Exchange hashpartitioning", "Exchange rangepartitioning",
                 "Exchange SinglePartition"):
        assert kind not in plan, plan


def test_random_projection_roughly_preserves_norms(spark):
    """JL contract sanity: projected squared-norm ≈ original squared-norm
    in expectation (sign matrix, 1/√d scaling) — check the corpus mean is
    within 30% rather than any single vector."""
    emb = _emb(spark)
    proj = random_projection(emb)
    orig = {
        r.vec_id: sum(float(x) * float(x) for x in r.embedding)
        for r in emb.select("vec_id", "embedding").collect()
    }
    got = {r.vec_id: sum(x * x for x in r.proj) for r in proj.collect()}
    ratio = sum(got[k] / orig[k] for k in orig if orig[k] > 0) / len(orig)
    assert 0.7 < ratio < 1.3, ratio
    assert all(len(r.proj) == RP_DIM for r in proj.limit(5).collect())


# -- hybrid RRF --------------------------------------------------------------


def test_hybrid_rrf_scores_are_rank_reciprocals(spark):
    rows = hybrid_rrf(_docs(spark), _emb(spark)).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        expect = 0.0
        if r.bm25_rank is not None:
            expect += 1.0 / (60 + r.bm25_rank)
        if r.cos_rank is not None:
            expect += 1.0 / (60 + r.cos_rank)
        assert math.isclose(r.rrf_score, round(expect, 6), abs_tol=1e-9)
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)


# -- heavy hitters / profile -------------------------------------------------


def test_heavy_hitters_descending_and_bounded(spark):
    rows = ngram_heavy_hitters(_docs(spark), n=3, top_k=10).collect()
    assert len(rows) == 10
    counts = [r.cnt for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r.ngram.split(" ")) == 3 for r in rows)


def test_table_profile_matches_direct_aggregates(spark):
    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet")
    prof = {r.column: r for r in table_profile(orders).collect()}
    assert set(prof) == {c for c, _ in PROFILE_COLS}
    n = orders.count()
    for c, kind in PROFILE_COLS:
        row = prof[c]
        assert row.n_rows == n
        assert row.n_distinct == orders.select(c).distinct().count()
        if kind == "num":
            assert row.min_str is None and row.max_str is None
            assert row.min_num <= row.max_num
        else:
            assert row.min_num is None and row.max_num is None
            assert row.min_str <= row.max_str


# -- count-min sketch / DLQ decode -------------------------------------------


def test_cms_estimate_is_one_sided(spark):
    """CMS guarantee: est >= true for every probe; the absent probe's
    estimate is pure collision mass and must stay far below real tokens."""
    from spark_deal_observer_spark.operators.sketches import cms_token_counts

    rows = {r.token: r for r in cms_token_counts(_docs(spark)).collect()}
    assert rows["zzz-absent"].true_cnt == 0
    for r in rows.values():
        assert r.cms_est >= r.true_cnt, r
    present = [r for t, r in rows.items() if t != "zzz-absent"]
    assert max(r.cms_est for r in present) > 10 * rows["zzz-absent"].cms_est


def test_dlq_decode_routes_instead_of_dropping(spark):
    """Every raw event lands exactly once: claims with NULL reason,
    unknown types quarantined with reason + msg_cid; corrupted payloads
    quarantine instead of crashing the pass."""
    import pyspark.sql.functions as F

    from spark_deal_observer_spark.sources.events import (
        decode_raw_events,
        decode_raw_events_routed,
        synth_raw_events,
    )
    from spark_deal_observer_spark.sources.tables import load_table

    raw = synth_raw_events(load_table(spark, SF_SMALL, "events").limit(200))
    routed = decode_raw_events_routed(raw).localCheckpoint()
    n_raw = raw.count()
    assert routed.count() == n_raw
    good = routed.where("dlq_reason IS NULL")
    # the routed pass's claims are the lax decoder's, row for row
    lax = decode_raw_events(raw)
    claim_cols = good.drop("dlq_reason", "msg_cid")
    assert claim_cols.exceptAll(lax).isEmpty() and lax.exceptAll(claim_cols).isEmpty()
    assert good.count() == lax.count() > 0
    dlq = routed.where("dlq_reason IS NOT NULL")
    assert dlq.count() == n_raw - good.count() > 0
    assert dlq.where(F.col("msg_cid").isNull()).count() == 0
    assert dlq.where(F.col("dlq_reason").like("unknown event type%")).count() == dlq.count()
    # quarantined rows keep the raw envelope (height/emitter/reverted) so
    # they can be triaged without re-reading the raw stream
    assert (
        dlq.where(
            F.col("height").isNull()
            | F.col("emitter").isNull()
            | F.col("reverted").isNull()
        ).count()
        == 0
    )

    # poison-pill payload: corrupt one entry's base64 so CBOR decode throws
    bad = raw.limit(1).withColumn(
        "entries",
        F.expr(
            "transform(entries, e -> named_struct("
            "'Codec', e.Codec, 'Flags', e.Flags, 'Key', e.Key, 'Value', '!!!notb64'))"
        ),
    )
    out = decode_raw_events_routed(bad).collect()
    assert len(out) == 1 and out[0].dlq_reason is not None


def test_artifact_store_is_lru_bounded(spark):
    """Publishing more artifacts than MAX_ARTIFACTS evicts the oldest; a
    re-request after eviction retrains rather than erroring."""
    emb = _emb(spark)
    models.clear()
    first, _ = _kmeans_fit(emb, 8, 2)
    # flood the store with distinct tiny artifacts
    for i in range(models.MAX_ARTIFACTS + 4):
        models.published(emb, "flood", (i,), lambda: object())
    assert len(models._STORE) <= models.MAX_ARTIFACTS
    again, _ = _kmeans_fit(emb, 8, 2)  # evicted → rebuilt, same values
    assert again is not first
    assert sorted(r.cell for r in again.collect()) == sorted(
        r.cell for r in first.collect()
    )


def test_probe_ttl_caches_liveness(spark, monkeypatch):
    """r9 OPTIMIZATION pin: the liveness probe (an isEmpty job per
    artifact per lookup) runs at most once per TTL — repeated lookups of
    a just-built artifact cost zero probe jobs, an expired-TTL hit
    re-probes, and a dead artifact past TTL retrains in place."""
    from spark_deal_observer_spark.operators import models

    models.clear()
    calls = {"n": 0}
    real_alive = models._alive

    def counting(a):
        calls["n"] += 1
        return real_alive(a)

    monkeypatch.setattr(models, "_alive", counting)
    df = spark.range(3).localCheckpoint()
    built = {"n": 0}

    def build():
        built["n"] += 1
        return df

    src = spark.range(1)
    for _ in range(5):
        models.published(src, "ttl_probe_test", (), build)
    assert built["n"] == 1
    assert calls["n"] == 0  # just built + within TTL: no probe jobs

    key = next(iter(models._STORE))
    models._PROBED[key] = -1e9  # expire the TTL
    models.published(src, "ttl_probe_test", (), build)
    assert calls["n"] == 1 and built["n"] == 1  # one probe, still alive

    monkeypatch.setattr(models, "_alive", lambda a: False)
    models._PROBED[key] = -1e9
    models.published(src, "ttl_probe_test", (), build)
    assert built["n"] == 2  # dead hit past TTL retrains
    models.clear()
