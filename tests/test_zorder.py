"""Z-order clustering: per-file envelopes must shrink on BOTH columns."""
from __future__ import annotations

import glob
import pyspark.sql.functions as F
import pyarrow.parquet as pq

from cascading_hbase_spark.operators.zorder import morton2, write_zordered


def _avg_range(path_glob: str, col: str) -> float:
    widths = []
    for f in glob.glob(path_glob):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[col]
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        widths.append(hi - lo)
    assert widths
    return sum(widths) / len(widths)


def test_zorder_narrows_both_envelopes(spark, tmp_path):
    n = 200_000
    df = spark.range(n).select(
        (F.col("id") % 1000).alias("x"),
        ((F.col("id") * 2654435761) % 1000).alias("y"),
        F.col("id").alias("payload"),
    )
    naive = str(tmp_path / "naive")
    zord = str(tmp_path / "zord")
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(naive)
    write_zordered(df, zord, ["x", "y"], n_files=16)

    nx, ny = _avg_range(naive + "/*.parquet", "x"), _avg_range(naive + "/*.parquet", "y")
    zx, zy = _avg_range(zord + "/*.parquet", "x"), _avg_range(zord + "/*.parquet", "y")
    # naive: x narrow, y spans everything.  z-order: BOTH well under the
    # full 0..999 span (16 files = 4x4 z-grid -> ~1/4 extent each).
    assert ny > 900, (nx, ny)
    assert zx < 0.5 * ny and zy < 0.5 * ny, (zx, zy, ny)


def test_zorder_empty_input_writes_empty_table(spark, tmp_path):
    df = spark.createDataFrame([], "x int, y int")
    out = str(tmp_path / "empty")
    write_zordered(df, out, ["x", "y"], n_files=4)
    back = spark.read.parquet(out)
    assert back.columns == ["x", "y"]
    assert back.count() == 0


def test_morton2_bit_interleave(spark):
    rows = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)], "a int, b int"
    ).select(morton2(F.col("a"), F.col("b")).alias("z")).collect()

    def py_morton(a, b):
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    expect = [py_morton(a, b) for a, b in [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535)]]
    assert [r.z for r in rows] == expect
