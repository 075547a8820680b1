"""Exact set-similarity incremental dedup (operators/dedup.py
setsim_incremental): the prefix-filtered exact probe of a new batch
against the stored corpus, checked against the banded-LSH probe over the
same split."""

from __future__ import annotations

from conftest import SF_ORACLE

from spark_deal_observer_spark.operators import dedup as dd
from spark_deal_observer_spark.sources.tables import load_table


def test_exact_incremental_supersets_lsh_incremental(spark):
    """Every LSH-probe duplicate verdict must be found by the exact
    probe over the same split (the exact tier is the LSH tier's ground
    truth); jaccard agrees where the match_doc agrees."""
    docs = load_table(spark, SF_ORACLE, "documents")
    lsh = {
        r.batch_doc
        for r in dd.incremental_dedup(docs).collect()
        if r.is_dup
    }
    exact = {r.batch_doc for r in dd.setsim_incremental(docs).collect()}
    assert lsh <= exact
