"""Per-batch raw moments of the cross-modal projection map.

The batch map (multimodal/crossmodal.py::crossmodal_projection) trains
W = D⁻¹·Xᵀ·Y_c over all paired docs. The key identity: W is a pure
function of five ABELIAN raw moments —

    S_ij = Σ_d xi_di·yi_dj   T_i = Σ_d xi_di   D_i = Σ_d xi_di²
    sy_j = Σ_d yi_dj          n   = |paired docs|

because centering distributes:  num_ij = Σ_d xi_di·(n·yi_dj − sy_j)
= n·S_ij − T_i·sy_j  and  den_i = D_i.  Every moment is an exact
scaled-int sum (DECIMAL(38,0)), so moments summed over any split of the
corpus give not approximately but BIT-IDENTICALLY the batch map
(tests/test_crossmodal.py::test_moment_derived_w_equals_direct pins the
global and local maps; test_moments_query_equals_batch_fold pins the
sums).

Scale posture: per batch the plan is one batch-sized embedding pass, one
batch-sized media decode and a dim²-row partial-moment aggregate (map-side
combined — the shuffle carries ≤ |kinds|·dim² rows regardless of batch
size). multimodal/crossmodal.py publishes the per-cell moments of the
whole corpus once and derives every map from them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..multimodal.crossmodal import XMODAL_TRAIN_MOD, _media_rows, _text_rows

_DEC = "decimal(38,0)"


def batch_moments(docs: DataFrame) -> DataFrame:
    """(kind, i, j, v): the five raw-moment families for ONE batch of
    documents, exact scaled-int sums. Only PAIRED training docs (media
    exists and doc_id % TRAIN_MOD == 0) contribute — the same population
    the batch trainer uses."""
    x = _text_rows(docs).where(F.col("doc_id") % XMODAL_TRAIN_MOD == 0)
    y = _media_rows(docs).where(F.col("doc_id") % XMODAL_TRAIN_MOD == 0)
    paired = y.select("doc_id").distinct()
    # zero components contribute exactly 0 to every x-moment (S, T, D are
    # integer sums), and the 256-dim hashed BOW is ~91% zeros at sf0.1 —
    # dropping them cuts the S join's 256×64-per-doc fanout ~12× with
    # bit-identical values (the oracle keeps the dense sums; n is counted
    # from the y side and unaffected).
    xp = x.where(F.col("xi") != 0).join(F.broadcast(paired), "doc_id")

    s = (
        xp.join(y, "doc_id")
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("xi").cast(_DEC) * F.col("yi").cast(_DEC)).alias("v")
        )
        .select(F.lit("S").alias("kind"), "i", "j", "v")
    )
    t = xp.groupBy("i").agg(F.sum(F.col("xi").cast(_DEC)).alias("v")).select(
        F.lit("T").alias("kind"), "i", F.lit(-1).alias("j"), "v"
    )
    d = (
        xp.groupBy("i")
        .agg(F.sum(F.col("xi").cast(_DEC) * F.col("xi").cast(_DEC)).alias("v"))
        .select(F.lit("D").alias("kind"), "i", F.lit(-1).alias("j"), "v")
    )
    sy = y.groupBy("j").agg(F.sum(F.col("yi").cast(_DEC)).alias("v")).select(
        F.lit("sy").alias("kind"), F.lit(-1).alias("i"), "j", "v"
    )
    n = paired.agg(F.count("*").cast(_DEC).alias("v")).select(
        F.lit("n").alias("kind"), F.lit(-1).alias("i"), F.lit(-1).alias("j"), "v"
    )
    return s.unionByName(t).unionByName(d).unionByName(sy).unionByName(n)


def batch_local_moments(docs: DataFrame) -> DataFrame:
    """(kind, cell, i, j, v): the per-cell moment families of the
    LENGTH-ROUTED local maps (crossmodal.crossmodal_local_projection).
    Fixed-cut routing is a pure per-doc function, so S/T/D simply gain a
    `cell` group key and stay exact abelian sums; the y-side moments
    (sy, n) are GLOBAL (the local maps center y globally) and ride with
    cell = −1. Split ≡ whole bit-identity therefore carries over
    unchanged."""
    from ..multimodal.crossmodal import _doc_cells

    x = _text_rows(docs).where(F.col("doc_id") % XMODAL_TRAIN_MOD == 0)
    y = _media_rows(docs).where(F.col("doc_id") % XMODAL_TRAIN_MOD == 0)
    paired = y.select("doc_id").distinct()
    cells = _doc_cells(docs)
    xp = (
        x.where(F.col("xi") != 0)
        .join(F.broadcast(paired), "doc_id")
        .join(cells, "doc_id")
    )
    s = (
        xp.join(y, "doc_id")
        .groupBy("cell", "i", "j")
        .agg(F.sum(F.col("xi").cast(_DEC) * F.col("yi").cast(_DEC)).alias("v"))
        .select(F.lit("S").alias("kind"), "cell", "i", "j", "v")
    )
    t = (
        xp.groupBy("cell", "i")
        .agg(F.sum(F.col("xi").cast(_DEC)).alias("v"))
        .select(F.lit("T").alias("kind"), "cell", "i", F.lit(-1).alias("j"), "v")
    )
    d = (
        xp.groupBy("cell", "i")
        .agg(F.sum(F.col("xi").cast(_DEC) * F.col("xi").cast(_DEC)).alias("v"))
        .select(F.lit("D").alias("kind"), "cell", "i", F.lit(-1).alias("j"), "v")
    )
    sy = y.groupBy("j").agg(F.sum(F.col("yi").cast(_DEC)).alias("v")).select(
        F.lit("sy").alias("kind"),
        F.lit(-1).alias("cell"),
        F.lit(-1).alias("i"),
        "j",
        "v",
    )
    n = paired.agg(F.count("*").cast(_DEC).alias("v")).select(
        F.lit("n").alias("kind"),
        F.lit(-1).alias("cell"),
        F.lit(-1).alias("i"),
        F.lit(-1).alias("j"),
        "v",
    )
    return s.unionByName(t).unionByName(d).unionByName(sy).unionByName(n)
