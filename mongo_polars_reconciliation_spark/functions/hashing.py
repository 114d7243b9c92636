"""Cross-engine polynomial string hash — ONE definition for every site.

``h = fold(chars, 0, (h, c) -> (h*31 + (ord(c) mod p)) mod p)``: pure
integer arithmetic, bit-identical in Spark SQL and DuckDB, which is what
lets shingle ids, sampling buckets and sketch hashes be oracle-verified.
Both builders MUST stay in lockstep — that is the point of this module
(three hand-inlined copies drifted apart is the failure mode it removes).

The fold seeds 0 and ``f(0, c1) = c1``, so DuckDB's first-element-seeded
``list_reduce`` produces the same sequence. The bigint accumulator keeps
``h*31`` exact for p up to 2^31-1.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

POLY_P31 = 2147483647  # Mersenne prime 2^31-1 — the default modulus

# Second prime modulus, used as the h2 base of double-hashed sketch families
# (CMS rows, Bloom positions). The per-step reduction makes the mod-p and
# mod-p2 folds genuinely different functions of the token, so an h1
# collision does not propagate to h2 — unlike the two rejected h2 designs:
# hash of the REVERSED token (degenerates to h1 == h2 for palindromes,
# which includes every 1-char token) and hash of a salt-PREFIXED token
# (h(salt+x) − h(x) depends only on len(x), so same-length tokens colliding
# in h1 collide in h2 — and whitespace tokens are heavily same-length).
POLY_P31B = 2147483629  # largest prime below 2^31-1


def poly_hash_spark(expr: str, p: int = POLY_P31) -> str:
    """Spark SQL fragment: polynomial hash of the (string) SQL expression
    ``expr`` — usable inside a higher-order function's lambda. Empty
    strings hash to 0 (sequence(1,0) would count DOWN)."""
    s = f"CAST({expr} AS STRING)"
    return (
        f"CASE WHEN length({s}) = 0 THEN cast(0 as bigint) ELSE "
        f"aggregate(sequence(1, length({s})), cast(0 as bigint), "
        f"(h, i) -> pmod(h * 31 + pmod(ascii(substring({s}, i, 1)), {p}), {p})) END"
    )


def poly_hash_col(expr: str, p: int = POLY_P31) -> Column:
    """Spark column: :func:`poly_hash_spark` of ``expr``."""
    return F.expr(poly_hash_spark(expr, p))


def poly_hash_sql(expr: str, p: int = POLY_P31) -> str:
    """DuckDB SQL fragment computing the identical hash of ``expr``."""
    s = f"CAST({expr} AS VARCHAR)"
    return (
        f"CASE WHEN length({s}) = 0 THEN 0 ELSE "
        f"list_reduce(list_transform(generate_series(1, length({s})), "
        f"i -> ord(substr({s}, i, 1)) % {p}), "
        f"(h, c) -> (CAST(h AS BIGINT)*31 + c) % {p}) END"
    )


MIX_A = 2654435761  # Knuth multiplicative constant (2^32 / golden ratio)


def poly_hash_mixed_col(expr: str, p: int = POLY_P31) -> Column:
    """Polynomial hash with one multiplicative scramble round:
    ``pmod(poly_hash(x) * MIX_A, p)``. Use this — not the raw hash —
    whenever the value feeds ``% denom`` sampling or an order statistic
    (KMV): short same-length keys (small numeric ids) occupy narrow value
    bands under the plain fold, so raw ``hash % 10000`` is badly biased
    (measured 0.69 realized rate for a 0.25 target on 3-digit ids); the
    scramble spreads the bands across [0, p). Exact BIGINT in both
    engines: h < 2^31 so h·MIX_A < 2^63."""
    return F.pmod(poly_hash_col(expr, p) * F.lit(MIX_A), F.lit(p))


def poly_hash_pair(col: str) -> tuple[Column, Column]:
    """The ``(h1, h2)`` base-hash pair of the double-hashed sketch families
    (CMS rows, Bloom positions): the mixed hash of ``col`` under
    ``POLY_P31`` and under ``POLY_P31B``."""
    return poly_hash_mixed_col(col, POLY_P31), poly_hash_mixed_col(col, POLY_P31B)


def poly_hash_mixed_sql(expr: str, p: int = POLY_P31) -> str:
    """DuckDB SQL fragment computing the identical mixed hash."""
    return f"(({poly_hash_sql(expr, p)}) * {MIX_A}) % {p}"
