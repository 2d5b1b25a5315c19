"""Z-order (Morton) clustering: multi-column file skipping.

The keyed layer's range pruning (``keyed/table.py``) serves ONE sort
dimension — the rowkey, exactly what HBase gave the reference
(``TableInputFormatWrap.java:55-65`` prunes regions by rowkey range
only).  Data clustered by a Z-curve over two columns gives *both*
columns narrow per-file min/max envelopes, so parquet row-group and
file skipping works for predicates on either (or both) — the standard
lakehouse answer to "my scans filter on two dimensions".

Everything here is Catalyst expressions (bit-twiddling inside
whole-stage codegen) plus one 1-row min/max aggregate broadcast back;
the only data-scale movement is the final range repartition by
z-value — the same single shuffle a plain sorted write costs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

__all__ = ["morton2", "zvalue", "write_zordered"]

# Magic-number bit spreading (interleave-ready): after these steps the
# 16 low bits of x occupy the even bit positions of a 32-bit lane.
_SPREAD = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread_bits(c: Column) -> Column:
    # long lane throughout: the interleaved result needs 32 unsigned
    # bits, which a signed int column would wrap negative
    out = c.cast("long").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD:
        out = (out.bitwiseOR(F.shiftleft(out, shift))).bitwiseAND(F.lit(mask))
    return out


def morton2(a: Column, b: Column) -> Column:
    """Interleave the low 16 bits of two non-negative ints into a
    32-bit Morton code (``a`` gets the even bits)."""
    return _spread_bits(a).bitwiseOR(F.shiftleft(_spread_bits(b), 1))


def zvalue(df: DataFrame, cols: list[str], bits: int = 16) -> DataFrame:
    """Attach a ``_z`` column: the Morton code over ``cols`` (exactly 2
    numeric columns), each min/max-normalized to ``bits`` bits.

    Normalization bounds come from ONE 1-row aggregate broadcast back
    onto the data — no window, no global sort."""
    if len(cols) != 2:
        raise ValueError("zvalue interleaves exactly 2 columns")
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    a, b = cols
    bounds = df.agg(
        F.min(a).cast("double").alias("_za_min"),
        F.max(a).cast("double").alias("_za_max"),
        F.min(b).cast("double").alias("_zb_min"),
        F.max(b).cast("double").alias("_zb_max"),
    )
    top = (1 << bits) - 1

    def _rank(c: str, lo: str, hi: str) -> Column:
        span = F.col(hi) - F.col(lo)
        frac = F.when(span > 0, (F.col(c).cast("double") - F.col(lo)) / span).otherwise(
            F.lit(0.0)
        )
        return F.floor(frac * top).cast("int")

    return (
        df.join(F.broadcast(bounds))
        .withColumn(
            "_z",
            morton2(_rank(a, "_za_min", "_za_max"), _rank(b, "_zb_min", "_zb_max")),
        )
        .drop("_za_min", "_za_max", "_zb_min", "_zb_max")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet clustered on the Z-curve over ``cols``:
    range-partition by z-value into ``n_files`` contiguous z-runs, sort
    within each, drop the helper column.  Each output file then holds
    a compact Z-region — narrow min/max envelopes on BOTH columns, so a
    selective predicate on either skips most files at scan time.

    The range partitioner's sampling job re-executes the child plan, so
    the input is computed twice; for a narrow scan+project child that is
    cheaper than a separate boundary aggregate (OPTIMIZATION_r14)."""
    (
        zvalue(df, cols, bits)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
