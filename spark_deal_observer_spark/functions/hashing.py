"""Portable deterministic hashing — identical results in Spark SQL and DuckDB.

The near-dup operator family (MinHash, SimHash, fingerprints) needs token
hashes that the DuckDB oracle can reproduce bit-for-bit. Neither engine's
native `hash()` matches the other, but both expose `md5()` over UTF-8 bytes
with identical lowercase-hex output — so every hash here is a fixed-width
md5 hex prefix parsed to a BIGINT with each engine's native hex parse
(Spark `conv(_, 16, 10)`, DuckDB's `0x`-literal cast), which produce the
same integer.

Where the dialects genuinely diverge (array lambdas, bit shifts), the
builders take a `dialect` argument and emit structurally identical
expressions, so Spark plans stay whole-stage-codegen'd JVM expressions —
no Python UDF anywhere in the dedup hot path.
"""

from __future__ import annotations

import random

# Fixed MinHash permutation parameters (seeded, stable across runs).
_MINHASH_PRIME = 2_147_483_647  # 2^31 - 1
_rng = random.Random(42)
MINHASH_PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, _MINHASH_PRIME) | 1, _rng.randrange(0, _MINHASH_PRIME))
    for _ in range(8)  # matches operators.dedup.N_MINHASH (4 bands × 2 rows)
]


def hash32_sql(x: str, dialect: str = "spark") -> str:
    """Portable 32-bit hash of a string expression (BIGINT in [0, 2^32)).

    Both engines parse the md5 hex prefix natively — Spark via conv(_,16,10),
    DuckDB via the 0x-literal cast — and produce the identical integer. The
    native parse replaces an 8-term instr/substr polynomial (hex_poly) that
    dominated MinHash signature cost."""
    if dialect == "spark":
        return f"CAST(conv(substr(md5({x}), 1, 8), 16, 10) AS BIGINT)"
    return f"CAST(concat('0x', substr(md5({x}), 1, 8)) AS BIGINT)"


def shingles_sql(dialect: str, text: str, k: int = 5) -> str:
    """Distinct character k-shingles of `text` as an array expression."""
    n = f"greatest(length({text}) - {k - 1}, 1)"
    if dialect == "spark":
        return f"array_distinct(transform(sequence(1, {n}), i -> substring({text}, i, {k})))"
    return f"list_distinct(list_transform(generate_series(1, {n}), i -> substr({text}, i, {k})))"


def tokens_sql(dialect: str, text: str) -> str:
    """Non-empty whitespace-separated tokens of `text` as an array expression."""
    if dialect == "spark":
        return f"filter(split({text}, ' '), t -> length(t) > 0)"
    return f"list_filter(string_split({text}, ' '), t -> length(t) > 0)"


def hashed_shingles_sql(dialect: str, text: str, k: int = 5) -> str:
    """Shingle set mapped to 31-bit hashes — the md5 pass runs ONCE per
    shingle here; every MinHash permutation is then pure arithmetic over the
    pre-hashed array (`minhash_from_hashed_sql`). Computing md5 inside each
    permutation instead multiplies the dominant cost by the signature width."""
    sh = shingles_sql(dialect, text, k)
    tf = "transform" if dialect == "spark" else "list_transform"
    return f"{tf}({sh}, s -> {hash32_sql('s', dialect)} % {_MINHASH_PRIME})"


def hashed_token_ngrams_sql(dialect: str, toks: str, n: int = 3) -> str:
    """Distinct hashed token n-grams over a PRE-PROJECTED token-array column
    `toks` (pass a plain column reference — inlining the tokenizer here would
    re-split the text once per lambda evaluation). Token n-grams are the
    decontamination-grade unit: char shingles collide on function words,
    while 3+-token grams are rare enough to separate genuine overlap from
    background English. Docs shorter than `n` tokens contribute their
    clamped tail gram (both engines' slice clamps identically)."""
    grams = token_ngrams_sql(dialect, toks, n)
    if dialect == "spark":
        return f"array_distinct(transform({grams}, g -> {hash32_sql('g', 'spark')} % {_MINHASH_PRIME}))"
    return f"list_distinct(list_transform({grams}, g -> {hash32_sql('g', 'duckdb')} % {_MINHASH_PRIME}))"


def token_ngrams_sql(dialect: str, toks: str, n: int = 3) -> str:
    """RAW (unhashed, undeduplicated) token n-grams of a pre-projected token
    array, joined with single spaces — the shared gram builder under the
    hashed/distinct decontamination variant above and the heavy-hitter
    miner (operators/ranking.py), which needs every occurrence, readable."""
    if dialect == "spark":
        return (
            f"transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
            f"i -> array_join(slice({toks}, i, {n}), ' '))"
        )
    return (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 1)), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))"
    )


def minhash_from_hashed_sql(dialect: str, hashed: str, perm: int) -> str:
    """One MinHash value over a pre-hashed shingle array (see
    hashed_shingles_sql): min of (a*h + b) mod p — no md5 in sight."""
    a, b = MINHASH_PERMS[perm]
    inner = f"({a} * h + {b}) % {_MINHASH_PRIME}"
    if dialect == "spark":
        return f"array_min(transform({hashed}, h -> {inner}))"
    return f"list_min(list_transform({hashed}, h -> {inner}))"


def simhash_sql(dialect: str, hashed_tokens: str, n_tokens: str, bits: int = 32) -> str:
    """SimHash over a pre-hashed token array (each element a 32-bit BIGINT).

    Bit b of the result is set iff more than half the tokens have bit b set.
    `hashed_tokens`/`n_tokens` are expression strings so the (expensive) md5
    pass runs once, not once per bit.
    """
    if dialect == "spark":
        size_f, filter_f = "size", "filter"

        def bit(b: int) -> str:
            return f"(shiftright(h, {b}) & 1) = 1"

    else:
        size_f, filter_f = "len", "list_filter"

        def bit(b: int) -> str:
            return f"((h >> {b}) & 1) = 1"

    terms = [
        f"(CASE WHEN 2 * {size_f}({filter_f}({hashed_tokens}, h -> {bit(b)})) > {n_tokens} "
        f"THEN {2 ** b} ELSE 0 END)"
        for b in range(bits)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def hashed_tokens_sql(dialect: str, tokens: str) -> str:
    """Map a token array to its 32-bit hashes (one md5 pass per token)."""
    if dialect == "spark":
        return f"transform({tokens}, t -> {hash32_sql('t', dialect)})"
    return f"list_transform({tokens}, t -> {hash32_sql('t', dialect)})"


def normalize_text_sql(dialect: str, text: str) -> str:
    """Canonical form for fingerprinting: lowercase, non-alnum stripped to
    single spaces, trimmed. DuckDB's regexp_replace replaces only the first
    match unless given the 'g' flag; Spark always replaces globally."""
    g = ", 'g'" if dialect == "duckdb" else ""
    return (
        f"trim(regexp_replace(regexp_replace(lower({text}), '[^a-z0-9 ]', ' '{g}), ' +', ' '{g}))"
    )
