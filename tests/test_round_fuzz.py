"""Direct property fuzz of the cross-engine rounding/overflow bug class.

r5 found a date_trunc shift, r6 an exact-decimal-tie, r7 a near-LONG
product overflow — one per round, each via the 964 s sf0.1 gate. This
harness generates the adversarial inputs for the WHOLE class (exact 6-dp
ties on dyadic denominators, ±1-ulp near-ties, magnitude ladders into the
1e15 range, products straddling 2^63) and checks Spark↔DuckDB parity in
seconds. It has teeth: it reproduces both the naive-ROUND bug AND the
legacy DECIMAL(w,12) template's ≥1e6 tie loss (which motivated this
round's repo-wide migration to the shortest-repr template,
functions/rounding.py), and an inventory gate keeps the dead templates
from creeping back in.
"""

from __future__ import annotations

import re
from pathlib import Path

import duckdb
import pytest

import roundfuzz as rf

SRC = Path(__file__).resolve().parent.parent / "spark_deal_observer_spark"


# ---------------------------------------------------------------------------
# 1. ratio6 tie class
# ---------------------------------------------------------------------------


def test_generator_produces_exact_ties():
    cases = rf.tie_ratio_cases()
    assert len(cases) >= 100
    assert (333, 640) in cases  # the r6 instance, 0.5203125
    assert all(rf.is_6dp_tie(n, d) for n, d in cases)


def test_naive_oracle_is_detected(spark):
    """Teeth check #1: the naive oracle (ROUND on the raw double) must
    mismatch Spark on generated ties — otherwise the generator can't
    catch the bug class it exists for."""
    bad = rf.ratio6_mismatches(spark, rf.tie_ratio_cases(), template="naive")
    assert bad, "tie generator failed to trip the naive ROUND oracle"


def test_legacy_template_loses_ties_past_1e6(spark):
    """Teeth check #2 — the r8 finding that retired the r6 template: the
    double→DECIMAL(w,12) cast scales through inexact arithmetic at ≥1e6
    magnitudes and flips ties (1000000.0078125 → …007812 vs Spark's
    …007813). If this ever starts PASSING, DuckDB changed its cast and
    the template choice deserves a re-audit."""
    cases = [(n + d * 10**6, d) for n, d in rf.tie_ratio_cases(40)]
    bad = rf.ratio6_mismatches(spark, cases, template="legacy", width=28)
    assert bad, "legacy DECIMAL(28,12) template now survives 1e6 ties?"


def test_shortest_template_parity_on_ties(spark):
    cases = rf.tie_ratio_cases() + rf.near_tie_cases()
    cases += [(-n, d) for n, d in cases[:120]]
    bad = rf.ratio6_mismatches(spark, cases, template="shortest")
    assert not bad, f"shortest-repr template diverged: {bad[:5]}"


def test_shortest_template_magnitude_ladder(spark):
    """Ties shifted up decade by decade into the 1e15 range — the sweep
    the legacy template fails at 1e6. 6-dp ties stop being
    double-representable around 1e10; past that both engines round the
    same nearest double identically, which this pins too."""
    cases = rf.magnitude_ladder(rf.tie_ratio_cases(), decades=16)
    assert len(cases) > 400
    bad = rf.ratio6_mismatches(spark, cases, template="shortest")
    assert not bad, f"shortest-repr template ladder diverged: {bad[:5]}"


def test_shortest_template_overflow_is_loud():
    """Past DECIMAL(38,17)'s 1e21 integer capacity the template must
    RAISE, never silently return a wrong value. (No engine value reaches
    1e21: doubles that big still parse until 1e21, and every inventoried
    site is bounded far below.)"""
    from spark_deal_observer_spark.functions.rounding import round6_sql

    con = duckdb.connect()
    with pytest.raises(duckdb.Error):
        con.execute(f"SELECT {round6_sql('1e22')}").fetchall()


# ---------------------------------------------------------------------------
# 2. near-LONG product class
# ---------------------------------------------------------------------------


def test_factor_cast_product_matches_hugeint(spark):
    s, d = rf.product_sums(spark, rf.long_product_cases())
    assert s == d
    assert abs(s) > 2**63  # the sum genuinely leaves LONG range


def test_naive_long_product_fails_loudly_or_differs(spark):
    """The unfixed form (raw LONG multiply) must not silently agree —
    under ANSI it raises ARITHMETIC_OVERFLOW; with ANSI off it wraps and
    mismatches. Either way the class is detectable."""
    from pyspark.sql import functions as F

    cases = rf.long_product_cases()
    rows = [(i, a, b) for i, (a, b) in enumerate(cases)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    try:
        got = df.agg(F.sum(F.col("a") * F.col("b")).alias("s")).collect()[0].s
    except Exception:
        return  # ANSI overflow — loud, good
    _, want = rf.product_sums(spark, cases)
    assert got != want, "raw LONG multiply silently matched HUGEINT?!"


def test_moment_sigma_template_at_3e9(spark):
    """ADVICE r7: CUSUM sigma moments past ~3e9 events/bucket. The fixed
    factor-cast form must match DuckDB HUGEINT exactly where raw LONG
    sx*sx would overflow."""
    groups = {
        "huge": [3_100_000_000, 3_100_000_007, 3_099_999_991, 3_100_000_023],
        "mixed": [1, 3_100_000_000, 2_000_000_000, 5],
        "small": [3, 5, 8, 13, 21],
    }
    s, d = rf.moment_sigma6(spark, groups)
    assert s == d, (s, d)


# ---------------------------------------------------------------------------
# 3. kernel-side rounding (Arrow/pandas path)
# ---------------------------------------------------------------------------


def test_kernel_round6_ratio_matches_spark(spark):
    """media._round6_ratio (exact-integer HALF_UP away from zero) must
    equal Spark's F.round on the same ratios — dyadic ties and both
    signs."""
    from pyspark.sql import functions as F

    from spark_deal_observer_spark.multimodal.media import _round6_ratio

    cases = rf.tie_ratio_cases(120) + rf.near_tie_cases()
    cases += [(-n, d) for n, d in cases[:80]]
    rows = [(i, n, d) for i, (n, d) in enumerate(cases)]
    df = spark.createDataFrame(rows, "id long, num long, den long").select(
        "id", F.round(F.col("num").cast("double") / F.col("den"), 6).alias("r")
    )
    got = {r.id: r.r for r in df.collect()}
    for i, (n, d) in enumerate(cases):
        assert _round6_ratio(n, d) == got[i], (n, d, _round6_ratio(n, d), got[i])


# ---------------------------------------------------------------------------
# 4. inventory gate: one blessed template, documented domains
# ---------------------------------------------------------------------------

# Retired templates must not creep back in: any new DECIMAL(w,12) ROUND
# template outside the harness fails here (use functions/rounding.py).
def test_no_legacy_decimal_templates_in_source():
    pat = re.compile(r"DECIMAL\(\d+,12\)")
    offenders = []
    for p in SRC.rglob("*.py"):
        if p.name == "rounding.py":  # history doc
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if pat.search(line):
                offenders.append(f"{p.relative_to(SRC)}:{i}")
    assert not offenders, (
        "legacy DECIMAL(w,12) round template found — use "
        f"functions.rounding.round6_sql instead: {offenders}"
    )


# The canonical template literal lives in exactly one place.
def test_shortest_template_single_definition():
    hits = []
    for p in SRC.rglob("*.py"):
        if "DECIMAL(38,17)" in p.read_text():
            hits.append(p.name)
    assert hits == ["rounding.py"], hits


# (file, template-uses) -> documented |value| bound and why. The shortest
# template is magnitude-exact below its loud 1e21 overflow, so the bound
# only documents the site's physics; the gate exists so NEW sites state
# one (and so a count change forces re-review).
ROUND6_INVENTORY = {
    "operators/intervals.py": (2, "seasonal trend/residual + CUSUM mu/sigma ~ hourly event counts; < 1e12 at any plausible scale"),
    "operators/corpus.py": (2, "log-log OLS slope/intercept in ln space; |x| < 1e3"),
    "operators/classifier.py": (1, "mean token length capped at 10 by least()"),
    "operators/layout.py": (1, "selectivity/overlap fractions in [0,1]"),
    "operators/graph.py": (1, "jaccard in [0,1]"),
    "multimodal/media.py": (2, "palette-index/pixel-delta means bounded by 8-bit range"),
    "multimodal/crossmodal.py": (2, "whitened regression coefficient (global + per-length-cell local map twin); |w6| < 1e3 empirically, < 1e6 structurally"),
    "plans/registry.py": (5, "event-value quantiles (< 1e4) + readability ratios (|flesch| < 1e6 for degenerate docs) + novelty fractions"),
}


def test_round6_usage_inventoried():
    # counts actual template USES: round6_sql(...) calls plus
    # `ROUND6_SHORTEST as rnd` import-aliases / `rnd = ROUND6_SHORTEST`
    # bindings (each feeds exactly one .format-style oracle builder)
    pat = re.compile(r"round6_sql\(|= ROUND6_SHORTEST\b|ROUND6_SHORTEST as ")
    found: dict[str, int] = {}
    for p in SRC.rglob("*.py"):
        if p.name == "rounding.py":
            continue
        n = 0
        for line in p.read_text().splitlines():
            if line.lstrip().startswith("#"):
                continue
            n += len(pat.findall(line))
        if n:
            found[str(p.relative_to(SRC))] = n
    expected = {k: v[0] for k, v in ROUND6_INVENTORY.items()}
    assert found == expected, (
        "round6 template sites changed — update ROUND6_INVENTORY with a "
        f"domain note. found={found} inventoried={expected}"
    )


# ---------------------------------------------------------------------------
# 5. transcendental parity (negative result, pinned)
# ---------------------------------------------------------------------------


def test_transcendental_round6_parity(spark):
    """ln/exp/pow are NOT guaranteed correctly-rounded in either engine
    (Java Math.log vs libm), yet 26 oracles lean on bit-identical
    ROUND(ln(x)·1e6) scaled ints. An r8 probe over 20k integers (the
    token-freq/rank domain), decade-spaced magnitudes to 1e14, and 1.4k
    rationals found ZERO mismatches — this test pins that negative
    result on a trimmed domain so a JDK/libm upgrade that breaks the
    agreement localizes here instead of as a value-gate hash diff."""
    import duckdb
    from pyspark.sql import functions as F

    vals = list(range(1, 5001)) + [10**k + d for k in range(5, 15) for d in (-1, 0, 7)]
    rats = [(p, q) for q in (3, 7, 64, 640, 999983) for p in range(1, 120)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "id long, v long")
    s = {
        r.id: (r.l, r.e, r.p)
        for r in df.select(
            "id",
            F.round(F.log(F.col("v").cast("double")) * 1e6).cast("long").alias("l"),
            F.round(F.exp(1.0 / F.col("v")) * 1e6).cast("long").alias("e"),
            F.round(F.pow(F.col("v").cast("double"), F.lit(0.5)) * 1e6)
            .cast("long")
            .alias("p"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [(i, v) for i, v in enumerate(vals)])
    d = {
        i: (l, e, p)
        for i, l, e, p in con.execute(
            "SELECT id, CAST(ROUND(ln(CAST(v AS DOUBLE))*1e6) AS BIGINT),"
            " CAST(ROUND(exp(1.0/v)*1e6) AS BIGINT),"
            " CAST(ROUND(pow(CAST(v AS DOUBLE), 0.5)*1e6) AS BIGINT) FROM t"
        ).fetchall()
    }
    bad = [(vals[i], s[i], d[i]) for i in s if s[i] != d[i]]
    assert not bad, f"transcendental drift: {bad[:5]}"

    df2 = spark.createDataFrame(
        [(i, p, q) for i, (p, q) in enumerate(rats)], "id long, p long, q long"
    )
    s2 = {
        r.id: r.l
        for r in df2.select(
            "id",
            F.round(F.log(F.col("p").cast("double") / F.col("q")) * 1e6)
            .cast("long")
            .alias("l"),
        ).collect()
    }
    con.execute("CREATE TABLE r (id BIGINT, p BIGINT, q BIGINT)")
    con.executemany(
        "INSERT INTO r VALUES (?, ?, ?)", [(i, p, q) for i, (p, q) in enumerate(rats)]
    )
    d2 = {
        i: l
        for i, l in con.execute(
            "SELECT id, CAST(ROUND(ln(CAST(p AS DOUBLE)/q)*1e6) AS BIGINT) FROM r"
        ).fetchall()
    }
    bad2 = [(rats[i], s2[i], d2[i]) for i in s2 if s2[i] != d2[i]]
    assert not bad2, f"rational ln drift: {bad2[:5]}"
