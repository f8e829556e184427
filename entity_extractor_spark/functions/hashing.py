"""Deterministic cross-engine hashing primitives.

The dedup/fingerprint/LSH operators need a token -> int64 hash that Spark
(JVM) and the DuckDB test oracle compute bit-identically. ``md5`` is the
one cryptographic hash both engines expose with identical semantics, so

    h(t) = int64(first 15 hex digits of md5(t))      -- 60 bits, positive

is the shared primitive: Spark ``conv(substr(md5(t),1,15),16,10)`` ==
DuckDB ``CAST('0x' || substr(md5(t),1,15) AS BIGINT)`` (parity verified in
tests/test_dedup.py). All downstream arithmetic (minhash permutations,
simhash bit sums) stays in exact int64 range on both engines.

At 100 TB scale md5-per-token is still cheap relative to the shuffle the
dedup join performs, and it is computed inside whole-stage codegen — no
Python. (xxhash64 would be faster but has no DuckDB twin; swapping the
hash is a one-line change here.)

Reference basis: the reference dedups exactly via SQLite UNIQUE
(`software_mentions_pipeline/load_inputs.py:38`) and has no near-dup
machinery; MinHash/SimHash are the standard scale-path additions for a
training-data pipeline (Broder 1997; Charikar 2002).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^31 - 1 (Mersenne prime): keeps a*h + b inside int64 on both engines.
MINHASH_PRIME = 2_147_483_647
MINHASH_K = 8  # signature length
LSH_BANDS = 4  # 4 bands x 2 rows
LSH_ROWS = 2

SIMHASH_BITS = 32

_GOLDEN = 0x9E3779B1  # Fibonacci-hashing multiplier, used only to derive fixed odd constants


def _param(i: int, salt: int) -> int:
    """Fixed pseudo-random constant in [1, MINHASH_PRIME): formula-derived
    (no RNG at import time) so the SQL generator reproduces it exactly."""
    return ((2 * i + 1) * _GOLDEN + salt * 0x85EBCA6B) % MINHASH_PRIME or 1


MINHASH_AS = [_param(i, 1) for i in range(MINHASH_K)]
MINHASH_BS = [_param(i, 2) for i in range(MINHASH_K)]


def token_hash(col: Column) -> Column:
    """60-bit positive int64 hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def token_hash_sql(expr: str) -> str:
    """DuckDB twin of :func:`token_hash`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def reduced_hash(col: Column) -> Column:
    """Hash reduced mod MINHASH_PRIME (fits minhash permutation range)."""
    return token_hash(col) % F.lit(MINHASH_PRIME)


def reduced_hash_sql(expr: str) -> str:
    return f"({token_hash_sql(expr)} % {MINHASH_PRIME})"


def minhash_perm_sql(i: int, expr: str) -> str:
    return f"(({MINHASH_AS[i]} * {expr} + {MINHASH_BS[i]}) % {MINHASH_PRIME})"


def simhash_bit_weight_sql(expr: str, bit: int) -> str:
    return f"(((({expr}) >> {bit}) & 1) * 2 - 1)"


def hyperplanes(n_planes: int, dim: int, offset: int = 0) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane bank for sign-LSH over embeddings.

    Pure integer formula (same list is embedded as literals into the Spark
    plan and the oracle SQL), so both engines bucket identically.
    ``offset`` selects an independent bank (planes offset..offset+n-1) —
    used by multi-table OR-amplified LSH, where table t draws planes
    ``offset = t * n_planes``.
    """
    planes = []
    for p in range(offset, offset + n_planes):
        row = []
        for j in range(dim):
            v = ((p * dim + j + 1) * _GOLDEN) & 0xFFFFFFFF
            v ^= v >> 15
            row.append(1.0 if (v >> 3) & 1 else -1.0)
        planes.append(row)
    return planes
