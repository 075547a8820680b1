"""Round-5 regression tests for the r4 advisor findings:
global_prefix_sum under NULL range partitions / non-bigint value types,
label propagation's early exit, and a plan-shape pin for the
quality_gate pushdown barrier (the ~20×-per-row HOF re-evaluation must
not silently return under a Spark upgrade)."""

from __future__ import annotations

from conftest import SF_SMALL
from pyspark.sql import functions as F

from spark_deal_observer_spark.sources.tables import load_table


def test_prefix_sum_null_partition_and_double_type(spark):
    """A range partition whose values are ALL NULL must not crash the
    driver-side offset loop (sum collects as None), and the result must
    match the naive global window exactly — including the window's NULL
    rule (prefix of only-NULLs is NULL, not 0) across partition borders
    and DOUBLE value types. Empty input must carry the sum-widened column
    type, not a hardcoded bigint."""
    from pyspark.sql.window import Window

    from spark_deal_observer_spark.operators.prefix import global_prefix_sum

    # keys 0..99; v is NULL for k < 30 (covers whole leading range
    # partitions at n_parts=5) and for one interior stripe
    rows = [
        (i, None if (i < 30 or 60 <= i < 65) else float((i * 37) % 101) / 7)
        for i in range(100)
    ]
    df = spark.createDataFrame(rows, "k long, v double").repartition(7)
    got = {
        r["k"]: r["cum"]
        for r in global_prefix_sum(
            df, [F.col("k")], "v", "cum", n_parts=5
        ).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert set(got) == set(want)
    for k in want:
        if want[k] is None:
            assert got[k] is None, k
        else:
            assert got[k] is not None and abs(got[k] - want[k]) < 1e-9, k

    empty = global_prefix_sum(df.limit(0), [F.col("k")], "v", "cum")
    assert empty.count() == 0
    assert dict(empty.dtypes)["cum"] == "double"


def test_lpa_early_exit_lands_on_a_fixed_point(spark):
    """With a generous round budget the loop must stop early (stable
    labels) and the returned table must be a TRUE fixed point: one more
    hand-applied vote round changes nothing — the exactness argument for
    early-exit vs the fixed-iteration oracle, executed."""
    from spark_deal_observer_spark.operators import graph, models
    from spark_deal_observer_spark.operators.graph import (
        LAST_ROUNDS,
        _graph_structure,
        _lpa_round,
        label_propagation,
    )

    models.clear()
    orders = load_table(spark, SF_SMALL, "orders")
    lineitem = load_table(spark, SF_SMALL, "lineitem")
    labels = label_propagation(orders, lineitem, n_iter=12)
    rounds = LAST_ROUNDS["label_propagation"]
    assert rounds < 12, "LPA did not converge within the budget"

    wedges, _nodes = _graph_structure(orders, lineitem)
    again = _lpa_round(
        wedges, labels.select("node", F.col("community").alias("label"))
    )
    before = {r["node"]: r["community"] for r in labels.collect()}
    after = {r["node"]: r["label"] for r in again.collect()}
    assert after == before

    # published artifact: a second call re-reads the same snapshot
    assert label_propagation(orders, lineitem, n_iter=12) is labels
    assert graph.pagerank(orders, lineitem) is graph.pagerank(orders, lineitem)
    models.clear()


def test_quality_gate_plan_evaluates_tokenize_once(spark):
    """Expression census over the OPTIMIZED plan: the tokenize HOF
    (`split(text, ' ')`) must survive as exactly ONE projection — the
    barrier pattern (corpus.py quality_gate) relies on
    monotonically_increasing_id blocking PushDownPredicate, which a Spark
    upgrade could silently re-inline, regressing to ~25 evaluations per
    row with no functional test failing. This pin turns that silent
    regression into a hard failure."""
    from spark_deal_observer_spark.operators.corpus import quality_gate

    docs = load_table(spark, SF_SMALL, "documents")
    plan = (
        quality_gate(docs)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    n_tokenize = plan.count("split(")
    assert n_tokenize == 1, f"tokenize HOF appears {n_tokenize}× in:\n{plan}"
