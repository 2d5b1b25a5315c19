"""Deterministic 60-bit hash shared by Spark and the DuckDB oracle,
with an injectable fast path for production/bench runs.

Default (``md5`` mode): ``hash64(s) = int(md5(s)[:15], 16)`` — md5 is
available and identical in both engines, and 15 hex digits (60 bits)
always fit a signed BIGINT, so minhash/simhash signatures are
bit-identical across engines.  This is the mode the DuckDB oracle
template ``HASH64_SQL`` mirrors, and the mode correctness runs use.

Fast (``xxhash64`` mode): Spark's native xxhash64 masked to the same
non-negative 60-bit range.  ~whole-stage-codegen'd long arithmetic
instead of md5 + hex-string parsing — the dedup/similarity operators
only need *a* stable 64-bit hash, so ``bench.py`` flips this on (the
oracle comparison is not run there).  Toggle via ``use_fast_hash()``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

__all__ = ["hash64", "HASH64_SQL", "use_fast_hash", "fast_hash_enabled"]

# DuckDB-side template: format with the input SQL expression.  Only
# valid for the default md5 mode — oracle runs must not enable the
# fast path.
HASH64_SQL = "CAST(('0x' || substring(md5({x}), 1, 15)) AS BIGINT)"

_MASK60 = (1 << 60) - 1

_fast = False


def use_fast_hash(enabled: bool = True) -> None:
    """Switch ``hash64`` to Spark-native xxhash64 (no DuckDB twin)."""
    global _fast
    _fast = enabled


def fast_hash_enabled() -> bool:
    return _fast


def hash64(col: Column | str) -> Column:
    """60-bit non-negative deterministic hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    if _fast:
        return F.xxhash64(c).bitwiseAND(F.lit(_MASK60))
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")
