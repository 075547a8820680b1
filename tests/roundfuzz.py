"""Property-fuzz harness for the cross-engine rounding/overflow bug class.

Every round of the sf0.1 value gate has caught exactly one bug of the same
family (r5 date_trunc NTZ shift aside): a 6-dp ROUND tie or an integer
product that behaves identically at sf0.01 and diverges (or overflows) at
×10 magnitudes. The family has three members:

1. **ratio6 / tie class** — Spark ``F.round(double, 6)`` goes through
   ``BigDecimal.valueOf`` (the double's SHORTEST decimal repr → sees an
   exact 6-dp half-tie → HALF_UP); DuckDB ``ROUND(double, 6)`` rounds the
   raw binary value (1 ulp below the tie → down). The repo-wide oracle fix
   is the decimal template ``CAST(ROUND(CAST(x AS DECIMAL(w,12)), 6) AS
   DOUBLE)`` — exact on ties, identical away from them, but it OVERFLOWS
   (loudly, a DuckDB ConversionException) once |x| ≥ 10^(w-12). The r6
   seasonal bug was exactly a too-narrow w.

2. **near-LONG product class** — Spark multiplies LONG factors in LONG and
   (ANSI) raises ARITHMETIC_OVERFLOW past ~3.04e9 × 3.04e9, while the
   DuckDB oracle silently promotes to HUGEINT. The repo-wide fix casts
   EACH FACTOR to decimal(38,0) before the multiply (crossmodal r7, CUSUM
   sigma moments r8).

3. **kernel-side rounding** — Arrow/pandas kernels must not use Python
   ``round()`` (banker's); ``media._round6_ratio`` does exact-integer
   HALF_UP away from zero.

This module generates the adversarial inputs (exact 6-dp ties over dyadic
denominators, ±1-ulp near-ties, magnitude ladders up to each declared
decimal width, products straddling 2^63) and runs both engines over ONE
batched frame per template, so the whole class is checked in seconds
instead of one 964 s gate run per round. tests/test_round_fuzz.py asserts
parity; tests/test_round_fuzz.py::test_naive_oracle_is_detected proves the
generator actually trips the naive (unfixed) template, so the harness is
known to have teeth.
"""

from __future__ import annotations

from fractions import Fraction

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Case generators (pure, deterministic)
# ---------------------------------------------------------------------------


def is_6dp_tie(num: int, den: int) -> bool:
    """True iff num/den is an EXACT half at the 7th decimal digit —
    i.e. num/den * 10^6 = k + 1/2 exactly (the case where the two
    engines' double ROUND can legally disagree)."""
    f = Fraction(num, den) * 10**6
    return f.denominator == 2


def tie_ratio_cases(max_cases: int = 400) -> list[tuple[int, int]]:
    """(num, den) pairs whose ratio is an exact 6-dp tie, over dyadic-ish
    denominators 2^a · 5^b · c. Includes the r6 instance 333/640
    (= 0.5203125)."""
    cases: list[tuple[int, int]] = []
    dens: list[int] = []
    for a in range(1, 13):
        for b in range(0, 4):
            for c in (1, 3, 7):
                d = (2**a) * (5**b) * c
                if d <= 20_000_000:
                    dens.append(d)
    dens = sorted(set(dens))
    import math

    for den in dens:
        # scan for the first tie numerator; once found, ties recur with
        # period t = den / gcd(10^6, den) (adding t shifts the scaled
        # value by an exact integer), so emit several per denominator —
        # this is what reaches 333/640 and friends.
        first = None
        for num in range(1, min(den * 4, 4000)):
            if is_6dp_tie(num, den):
                first = num
                break
        if first is None:
            continue
        t = den // math.gcd(10**6, den)
        for k in (0, 1, 2, 83, 166):
            cases.append((first + k * t, den))
            if len(cases) >= max_cases:
                return cases
    return cases


def near_tie_cases() -> list[tuple[int, int]]:
    """Ratios ±1/10^7 around ties — parity must hold AWAY from ties too
    (the decimal template must not perturb non-tie values)."""
    out = []
    for num, den in tie_ratio_cases(60):
        out.append((num * 10**7 + den, den * 10**7))
        out.append((num * 10**7 - den, den * 10**7))
    return out


def magnitude_ladder(
    base_cases: list[tuple[int, int]], decades: int
) -> list[tuple[int, int]]:
    """Shift each tie case up by +10^k for k < decades — the integer
    offset preserves the exact 6-dp tie while sweeping the value's
    magnitude. This is the sweep that would have caught the r6 seasonal
    DECIMAL(18,12) overflow (and r8's ≥1e6 legacy-template tie loss) in
    milliseconds instead of a 964 s gate run."""
    out = []
    for k in range(0, decades):
        for num, den in base_cases[:40]:
            shifted = num + den * 10**k
            if shifted < 2**63 - 1:  # keep the BIGINT carrier in range
                out.append((shifted, den))
    return out


def overflow_cases(width: int) -> list[tuple[int, int]]:
    """Values AT/OVER the DECIMAL(width,12) cap — the template must fail
    LOUDLY (ConversionException), never silently mismatch."""
    cap = 10 ** (width - 12)
    return [(cap * 3, 1), (cap * 11, 10)]


def long_product_cases() -> list[tuple[int, int]]:
    """Factor pairs whose product straddles 2^63 ≈ 9.22e18: below it LONG
    math is fine on both engines; above it only the decimal-factor /
    HUGEINT forms agree. sqrt(2^63) ≈ 3_037_000_499."""
    r = 3_037_000_499
    out = []
    for da in (-1_000_000, -1, 0, 1, 1_000_000):
        for db in (-999_983, 0, 7, 1_000_003):
            out.append((r + da, r + db))
    # asymmetric pairs: one huge, one moderate (the CUSUM sx·sx shape has
    # symmetric factors; crossmodal's xcn·wi is asymmetric)
    out += [(10**14, 10**5), (10**12 + 7, 10**7 + 9), (7 * 10**15, 1300)]
    # and signed
    out += [(-r - 5, r + 11), (r + 3, -r - 17)]
    return out


# ---------------------------------------------------------------------------
# Engine runners — ONE frame, ONE collect, ONE DuckDB query per template
# ---------------------------------------------------------------------------

# The LEGACY r6 template, kept here ONLY so the harness can document why
# it was replaced: the double→DECIMAL(w,12) cast scales through inexact
# arithmetic past ~1e6 magnitude and lands on the wrong side of the tie.
RATIO_ORACLE_LEGACY = (
    "CAST(ROUND(CAST(CAST(num AS DOUBLE) / den AS DECIMAL({w},12)), 6) AS DOUBLE)"
)
RATIO_ORACLE_NAIVE = "ROUND(CAST(num AS DOUBLE) / den, 6)"
# The canonical template (functions/rounding.py): round the double's own
# shortest repr — Spark's exact semantics at any magnitude < 1e21.
from spark_deal_observer_spark.functions.rounding import round6_sql as _round6_sql  # noqa: E402

RATIO_ORACLE_SHORTEST = _round6_sql("CAST(num AS DOUBLE) / den")


def _cases_df(spark: SparkSession, cases: list[tuple[int, int]]) -> DataFrame:
    rows = [(i, n, d) for i, (n, d) in enumerate(cases)]
    return spark.createDataFrame(rows, "id long, num long, den long")


def _duck_ratio(cases: list[tuple[int, int]], oracle_expr: str) -> dict[int, float]:
    con = duckdb.connect()
    con.execute("CREATE TABLE cases (id BIGINT, num BIGINT, den BIGINT)")
    con.executemany(
        "INSERT INTO cases VALUES (?, ?, ?)",
        [(i, n, d) for i, (n, d) in enumerate(cases)],
    )
    rows = con.execute(f"SELECT id, {oracle_expr} AS r FROM cases").fetchall()
    con.close()
    return {i: r for i, r in rows}


def spark_ratio6(spark: SparkSession, cases: list[tuple[int, int]]) -> dict[int, float]:
    """The engine-side template verbatim: F.round(double-division, 6)."""
    df = _cases_df(spark, cases).select(
        "id", F.round(F.col("num").cast("double") / F.col("den"), 6).alias("r")
    )
    return {r.id: r.r for r in df.collect()}


def duck_ratio6_legacy(cases: list[tuple[int, int]], width: int) -> dict[int, float]:
    return _duck_ratio(cases, RATIO_ORACLE_LEGACY.format(w=width))


def duck_ratio6_naive(cases: list[tuple[int, int]]) -> dict[int, float]:
    return _duck_ratio(cases, RATIO_ORACLE_NAIVE)


def duck_ratio6_shortest(cases: list[tuple[int, int]]) -> dict[int, float]:
    return _duck_ratio(cases, RATIO_ORACLE_SHORTEST)


def ratio6_mismatches(
    spark: SparkSession,
    cases: list[tuple[int, int]],
    template: str = "shortest",
    width: int = 28,
) -> list[tuple[int, int, float, float]]:
    """(num, den, spark, oracle) rows where the two engines disagree."""
    s = spark_ratio6(spark, cases)
    if template == "naive":
        d = duck_ratio6_naive(cases)
    elif template == "legacy":
        d = duck_ratio6_legacy(cases, width)
    else:
        d = duck_ratio6_shortest(cases)
    return [
        (cases[i][0], cases[i][1], s[i], d[i]) for i in sorted(s) if s[i] != d[i]
    ]


def product_sums(
    spark: SparkSession, cases: list[tuple[int, int]]
) -> tuple[int, int]:
    """Σ a·b via the repo's factor-cast decimal(38,0) Spark pattern vs the
    oracle's HUGEINT promotion — exact integers on both sides."""
    rows = [(i, a, b) for i, (a, b) in enumerate(cases)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    srow = df.agg(
        F.sum(
            F.col("a").cast("decimal(38,0)") * F.col("b").cast("decimal(38,0)")
        ).alias("s")
    ).collect()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    drow = con.execute("SELECT SUM(CAST(a AS HUGEINT) * b) FROM t").fetchone()
    con.close()
    return int(srow.s), int(drow[0])


def moment_sigma6(
    spark: SparkSession, groups: dict[str, list[int]]
) -> tuple[dict[str, float], dict[str, float]]:
    """The CUSUM sigma-moment template (round6(sqrt(n·sxx − sx²)/n)) on
    near-LONG per-bucket counts: Spark's factor-cast decimal form vs
    DuckDB HUGEINT — the exact shape ADVICE r7 flagged at ~3e9 events."""
    rows = [(g, x) for g, xs in groups.items() for x in xs]
    df = spark.createDataFrame(rows, "g string, x long")
    m = df.groupBy("g").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(
            F.col("x").cast("decimal(38,0)") * F.col("x").cast("decimal(38,0)")
        ).alias("sxx"),
    )
    out = m.select(
        "g",
        F.round(
            F.sqrt(
                (
                    F.col("n").cast("decimal(38,0)") * F.col("sxx")
                    - F.col("sx").cast("decimal(38,0)")
                    * F.col("sx").cast("decimal(38,0)")
                ).cast("double")
            )
            / F.col("n"),
            6,
        ).alias("sig6"),
    )
    s = {r.g: r.sig6 for r in out.collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, x BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    d_rows = con.execute(
        """
        SELECT g, ROUND(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / n, 6)
        FROM (SELECT g, COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS sx,
                     SUM(CAST(x AS HUGEINT) * x) AS sxx
              FROM t GROUP BY g)
        """
    ).fetchall()
    con.close()
    return s, {g: v for g, v in d_rows}
