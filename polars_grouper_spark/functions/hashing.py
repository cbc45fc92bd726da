"""Engine-portable 64-bit hashing.

Dedup/similarity operators need hash functions that can be reproduced
bit-for-bit by the DuckDB correctness oracle (and by any other engine).
Spark's ``hash``/``xxhash64`` and DuckDB's ``hash`` are different
algorithms, so we derive hashes from ``md5`` — identical everywhere — by
taking the first 15 hex digits (60 bits, always a non-negative long).

Spark side:   ``conv(substr(md5(x), 1, 15), 16, 10) :: long``
DuckDB side:  ``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``

md5 is slower than xxhash64 but still JVM-side, vectorized, and far
from the bottleneck next to the shuffles these operators do; it is the
only hash, so every operator stays replayable by the oracle and by the
driver-side mirror :func:`portable_hash64_py`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_HEX_DIGITS = 15  # 60 bits -> non-negative long, matches the SQL template
HASH_SPACE = 1 << 60


def portable_hash64_py(s: str) -> int:
    """Driver-side Python mirror of :func:`portable_hash64` — bit-identical, so guarded local solves of iterative graph
    operators reproduce the distributed path's hash priorities exactly."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:HASH_HEX_DIGITS], 16)


def portable_hash64(col: Column | str) -> Column:
    """60-bit non-negative hash of a string column, reproducible in SQL."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, HASH_HEX_DIGITS), 16, 10).cast("long")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB SQL fragment equivalent to :func:`portable_hash64`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, {HASH_HEX_DIGITS})) AS BIGINT)"


def hash_pair64(col: Column | str) -> tuple[Column, Column]:
    """Two independent-ish hashes from ONE md5: (60-bit h1, 56-bit h2).

    Used by MinHash's linear-combination scheme  H_i = (h1 + i*h2) % 2^60
    — one md5 per shingle instead of one per (shingle, permutation).
    Overflow bound: h1 + i*h2 < 2^60 + i*2^56 must stay below 2^63-1,
    which holds for i <= 112 — callers cap permutations at 64 for a
    comfortable margin (verified: i=127 actually overflows under ANSI).
    """
    c = F.col(col) if isinstance(col, str) else col
    hx = F.md5(c)
    h1 = F.conv(F.substring(hx, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(hx, 17, 14), 16, 10).cast("long")
    return h1, h2


def hash_pair64_sql(expr: str) -> tuple[str, str]:
    """DuckDB SQL fragments equivalent to :func:`hash_pair64`."""
    return (
        f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)",
        f"CAST(('0x' || substr(md5({expr}), 17, 14)) AS BIGINT)",
    )


def salted(salt, col: Column | str) -> Column:
    """Concatenate a salt (literal or Column) with a string column — the
    per-permutation seed trick for MinHash: H_i(s) = hash(i || '|' || s)."""
    c = F.col(col) if isinstance(col, str) else col
    s = salt if isinstance(salt, Column) else F.lit(str(salt))
    return F.concat(s.cast("string"), F.lit("|"), c)
