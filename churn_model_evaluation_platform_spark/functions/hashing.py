"""Deterministic, engine-portable hashing for dedup/fingerprint operators.

Design constraint: every hash must be computable IDENTICALLY in Spark SQL
and in the DuckDB oracle. Engine-native hashes (Spark ``xxhash64``, DuckDB
``hash()``) differ, so we derive integer hashes from ``md5`` (bit-identical
everywhere) by parsing a hex prefix:

    Spark : CAST(conv(substr(md5(s), 1, K), 16, 10) AS BIGINT)
    DuckDB: CAST('0x' || substr(md5(s), 1, K) AS BIGINT)

K=7 hex chars → < 2^28, so MinHash's ``(a*h + b) % P`` with a,b < 2^31 and
P = 2^31-1 never overflows int64 (DuckDB raises on overflow; Spark would
silently wrap — both avoided).
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_31 = 2_147_483_647  # 2^31 - 1
HEX_CHARS = 7  # 28-bit base hashes


def md5_hash_int(col: Column, chars: int = HEX_CHARS) -> Column:
    """Portable integer hash of a string column (< 16^chars)."""
    return F.conv(F.substring(F.md5(col), 1, chars), 16, 10).cast("bigint")


def md5_hash_int_sql(expr: str, chars: int = HEX_CHARS) -> str:
    """DuckDB twin of ``md5_hash_int``."""
    return f"CAST('0x' || substr(md5({expr}), 1, {chars}) AS BIGINT)"


def minhash_perms(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k seeded universal-hash permutations (a, b) with a,b in [1, P)."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_31), rng.randrange(1, MERSENNE_31))
        for _ in range(k)
    ]


def perm_expr(h: Column, a: int, b: int) -> Column:
    """(a*h + b) mod P — overflow-safe for h < 2^28."""
    return (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_31)

