"""Revert-compensation design experiment (VERDICT r7 #7).

The reference leaves reorg compensation as a TODO
(backend/lib/rpc-service/service.js:57-58) and SURVEY §7 pins the
flag-only default — nothing here changes behavior. These tests PROVE, on
the engine's own machinery, which compensation strategy is sound per
downstream family IF a reorg handler ever flips `reverted` rows to
retracted:

1. counts / rollups — abelian-group state: merging the NEGATED partials
   of the reverted rows through an hourly rollup's union+sum merge
   yields bit-exactly the recomputed retained-only aggregate. A
   retraction is a sign flip away; no history rescan.
2. dedup clusters — NOT retraction-compatible: removing a bridge doc
   SPLITS a component, so "cluster(all) minus the reverted doc" keeps
   A,C merged where cluster(retained) separates them. Compensation must
   recompute affected components (the supernode-contraction incremental
   path already scopes that work to touched components).
3. change feed — a snapshot diff (full-outer join of old and new state)
   carries the retraction signal downstream as `removed` ops keyed by
   deal id, so consumers learn WHICH keys to compensate from the diff
   alone.

SCALE.md §r8 records the design conclusions.
"""

from __future__ import annotations

from conftest import SF_SMALL

from pyspark.sql import functions as F

from spark_deal_observer_spark.functions.epoch import trunc_ntz
from spark_deal_observer_spark.sources.tables import load_table

REVERTED = "event_type = 'error'"  # the engine's reverted derivation (plans/deals.py:61)


def _rollup(events):
    """Hourly (event_type, bucket_ts) partials: event count and value sum."""
    return events.groupBy(
        "event_type", trunc_ntz("hour", "ts").alias("bucket_ts")
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))


def test_rollup_compensation_is_algebraic(spark):
    """merge(rollup(all), negate(rollup(reverted))) == rollup(retained),
    through the sink's own union+sum merge shape — counts and sums are
    group elements, so retraction needs no history rescan."""
    ev = load_table(spark, SF_SMALL, "events")
    full = _rollup(ev)
    retained = _rollup(ev.where(f"NOT ({REVERTED})"))
    neg = _rollup(ev.where(REVERTED)).select(
        "event_type",
        "bucket_ts",
        (-F.col("n_events")).alias("n_events"),
        (-F.col("sum_value")).alias("sum_value"),
    )
    merged = (
        full.unionByName(neg)
        .groupBy("event_type", "bucket_ts")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("sum_value").alias("sum_value"),
        )
        .where(F.col("n_events") > 0)  # fully-retracted buckets drop out
    )
    m = {(r.event_type, r.bucket_ts): (r.n_events, r.sum_value) for r in merged.collect()}
    want = {
        (r.event_type, r.bucket_ts): (r.n_events, r.sum_value)
        for r in retained.collect()
    }
    assert set(m) == set(want)
    for k in want:
        assert m[k][0] == want[k][0], k
        # float sums: merge order differs from recompute order, so compare
        # to the engine's own 6-dp rounding discipline
        assert abs((m[k][1] or 0.0) - (want[k][1] or 0.0)) < 1e-6, k


def test_cluster_compensation_requires_recompute(spark):
    """A reverted BRIDGE doc splits its component: subtracting the doc
    from the clustered output keeps the halves merged (wrong); only
    recomputing the affected component separates them."""
    from spark_deal_observer_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    full = {
        r.doc_id: r.cluster for r in connected_components(edges).collect()
    }
    assert full[1] == full[3]  # bridged through doc 2

    # naive retraction: drop doc 2's rows from the OUTPUT — 1 and 3 stay
    # merged even though no surviving edge connects them
    naive = {n: c for n, c in full.items() if n != 2}
    assert naive[1] == naive[3]

    # honest compensation: recompute over surviving edges — 1 and 3 become
    # singletons (no surviving duplicate relation at all: they leave the
    # cluster table entirely), while the untouched component is unchanged
    retained_edges = edges.where((F.col("doc_a") != 2) & (F.col("doc_b") != 2))
    recomputed = {
        r.doc_id: r.cluster for r in connected_components(retained_edges).collect()
    }
    assert 1 not in recomputed and 3 not in recomputed
    assert recomputed[10] == recomputed[11]


def test_cdc_diff_classifies_retractions(spark):
    """The snapshot-diff shape (full-outer join, IS DISTINCT FROM) labels
    every reverted key `removed` when the retained state replaces the
    flag-only state — the audit feed consumers need nothing new."""
    from spark_deal_observer_spark.plans.deals import deals_df

    deals = deals_df(spark, SF_SMALL).select("id", "reverted", "miner_id")
    old = deals.select("id", "miner_id").withColumn("o_present", F.lit(1))
    new = deals.where(~F.col("reverted")).select("id", "miner_id").withColumn(
        "n_present", F.lit(1)
    )
    diff = (
        old.join(new, ["id", "miner_id"], "full_outer")
        .select(
            "id",
            F.when(F.col("n_present").isNull(), "removed")
            .when(F.col("o_present").isNull(), "added")
            .otherwise("kept")
            .alias("op"),
        )
    )
    removed = {r.id for r in diff.where("op = 'removed'").collect()}
    want = {r.id for r in deals.where("reverted").collect()}
    assert removed == want
    assert diff.where("op = 'added'").count() == 0
