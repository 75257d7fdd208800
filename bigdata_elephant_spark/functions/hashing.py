"""Parity-safe deterministic hashing.

Building block for MinHash / SimHash / fingerprinting that must be
reproducible across engines (the DuckDB oracle recomputes the same
values): ``h32(s) = int(md5(s)[0:8], 16)`` — the first 32 bits of the
MD5 digest as an unsigned value in a signed 64-bit column.

Spark:  ``conv(substr(md5(s), 1, 8), 16, 10)  :: long``
DuckDB: ``('0x' || substr(md5(s), 1, 8)) :: bigint``

:func:`h32` is a Column builder with SQL-text twins: :func:`h32_sql`
for Spark SQL (``selectExpr`` / ``F.expr``, one parse instead of a
py4j call per node when an operator builds many of them) and
:func:`h32_sql_duckdb` for the DuckDB oracles. The MinHash-only
hashes exist as text alone: :func:`h32_fast_sql` (Spark) and
:func:`perm_hash_sql`, whose syntax both engines share.

MinHash permutations are universal hashes
``h_i(x) = (a_i * x + b_i) mod P`` with ``P = 1_000_000_007`` and
``a_i, b_i`` drawn from a fixed seeded PRNG. Inputs are reduced mod P
first so every product stays < 1e18 (no 64-bit overflow) in both
engines.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_P = 1_000_000_007


def h32(col: Column | str) -> Column:
    """First 32 bits of md5 as a non-negative long (engine-portable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def h32_sql(expr: str) -> str:
    """Spark SQL text computing :func:`h32`."""
    return f"CAST(conv(substring(md5({expr}), 1, 8), 16, 10) AS BIGINT)"


def h32_fast_sql(expr: str) -> str:
    """Production hash as Spark SQL text: xxhash64 folded to 32 bits —
    one codegen'd intrinsic vs md5's digest+hex+parse chain (~5x
    cheaper per row). Same distribution properties for MinHash/SimHash
    purposes but NOT cross-engine replayable (xxhash64 seed/impl is
    Spark's own), so the oracle-checked registry paths keep
    :func:`h32`; use this when wiring the operators into a real
    pipeline."""
    return f"CAST(pmod(xxhash64({expr}), {2**32}) AS BIGINT)"


def h32_sql_duckdb(expr: str) -> str:
    """DuckDB SQL text computing the same value as :func:`h32`."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def minhash_coeffs(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n universal-hash permutations."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(n)
    ]


def perm_hash_sql(expr: str, a: int, b: int) -> str:
    """``(a * (x mod P) + b) mod P`` as SQL text, overflow-free in
    int64. Spark SQL and DuckDB read it alike."""
    return f"(({a} * (({expr}) % {MERSENNE_P}) + {b}) % {MERSENNE_P})"
