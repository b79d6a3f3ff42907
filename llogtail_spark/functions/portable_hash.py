"""Engine-portable hashing: the same arithmetic in Spark (Catalyst
HOF expressions) and ANSI-ish SQL (DuckDB list functions), so hash-
derived operators (minhash LSH, simhash) can be verified value-exactly
by an independent engine — the technique `rolling_fingerprint`
(functions/text.py) proved, promoted to a reusable primitive.

The base hash is a polynomial character fold:

    h = fold(chars, 0, (h, c) -> (h * 131 + ascii(c)) mod 1_000_000_007)

and seeded family members are affine transforms h_i = (a_i*h + b_i)
mod p, with p prime so every non-zero multiplier is invertible. All
intermediates stay < 2^40, far from int64 overflow in either engine
(and ANSI-safe in Spark 4).

Production pipelines should keep the engine-native xxhash64 variants
(~2-4x faster, full 64-bit); the portable family exists for
cross-engine verification and costs nothing when unused.
"""

from __future__ import annotations

from pyspark.sql import functions as F

MOD = 1_000_000_007  # prime, < 2^30
MULT = 131
BAND_MULT = 8191


def seed_mults(i: int) -> tuple[int, int]:
    """(a_i, b_i) for the i-th affine family member — literal
    constants, identical in the SQL twin."""
    return 2 * i + 3, 7919 * i + 104729


def char_fold_hash(col) -> "F.Column":
    """Polynomial char-fold hash as a pure Catalyst expression —
    whole-stage-codegen'd, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("long"),
        lambda h, ch: (h * MULT + F.ascii(ch)) % MOD,
    )


def seeded_hash(h_col, i: int) -> "F.Column":
    a, b = seed_mults(i)
    h = F.col(h_col) if isinstance(h_col, str) else h_col
    return (h * a + b) % MOD


def order_mults(i: int) -> tuple[int, int]:
    """(a_i, b_i) for ORDERING hashes. seed_mults' small multipliers
    (3, 5, ...) are fine for `% 100` threshold bucketing but never
    wrap MOD for short-key char-folds (MULT=131 keeps them small), so
    'hash order' would degenerate to key order. The Knuth-style large
    multiplier wraps for every h >= 1; h < MOD (~1e9) times a
    (~2.65e9) stays < 2^63 — exact in BIGINT on both engines."""
    return 2654435761 + 2 * i, 7919 * i + 104729


def order_hash(h_col, i: int) -> "F.Column":
    a, b = order_mults(i)
    h = F.col(h_col) if isinstance(h_col, str) else h_col
    return (h * a + b) % MOD


# ---- SQL twins (DuckDB dialect) — used by oracle_sql() generators ----

def char_fold_hash_sql(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split_regex({expr}, ''), "
        f"c -> CAST(ascii(c) AS BIGINT))), "
        f"(h, c) -> (h * {MULT} + c) % {MOD})"
    )


def seeded_hash_sql(expr: str, i: int) -> str:
    a, b = seed_mults(i)
    return f"(({expr}) * {a} + {b}) % {MOD}"


def order_hash_sql(expr: str, i: int) -> str:
    a, b = order_mults(i)
    return f"(({expr}) * {a} + {b}) % {MOD}"


def fold_values_sql(exprs: list[str]) -> str:
    out = "CAST(0 AS BIGINT)"
    for e in exprs:
        out = f"(({out}) * {BAND_MULT} + ({e})) % {MOD}"
    return out
