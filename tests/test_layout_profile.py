"""Z-order layout (operators/layout) — bit-interleave vs a pure-Python
twin, bucket arithmetic, and the parquet-footer proof that
z-clustering tightens min-max statistics on BOTH dimensions."""

from __future__ import annotations

import random

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from frogocr_spark.operators.layout import (zorder_buckets, zorder_write,
                                            zvalue, zvalue_sql)


# ------------------------------------------------------------ zvalue

def _py_z(x: int, y: int, bits: int) -> int:
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_zvalue_matches_python_twin(spark):
    rng = random.Random(5)
    rows = [(rng.randrange(1 << 16), rng.randrange(1 << 16))
            for _ in range(300)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = df.select("x", "y",
                    zvalue(F.col("x"), F.col("y"), 16).alias("z")).collect()
    for r in got:
        assert r["z"] == _py_z(r["x"], r["y"], 16)


def test_zvalue_sql_twin_agrees(spark):
    import duckdb
    rng = random.Random(6)
    rows = [(rng.randrange(1 << 12), rng.randrange(1 << 12))
            for _ in range(100)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {(r["x"], r["y"]): r["z"] for r in
           df.select("x", "y", zvalue(F.col("x"), F.col("y"), 12)
                     .alias("z")).collect()}
    con = duckdb.connect()
    con.register("t", df.toPandas())
    sql = f"SELECT x, y, {zvalue_sql('x', 'y', 12)} AS z FROM t"
    for x, y, z in con.execute(sql).fetchall():
        assert got[(x, y)] == z


def test_zvalue_validates_bits(spark):
    with pytest.raises(ValueError):
        zvalue(F.lit(1), F.lit(1), 0)
    with pytest.raises(ValueError):
        zvalue(F.lit(1), F.lit(1), 32)


def test_zvalue_locality(spark):
    # the defining property: nearby (x, y) points share z prefixes —
    # quadrant (x<2^15, y<2^15) is exactly the z range [0, 2^30)
    df = spark.createDataFrame(
        [(100, 200), (30000, 30000), (40000, 10), (10, 40000)],
        ["x", "y"])
    rows = {(r["x"], r["y"]): r["z"] for r in
            df.select("x", "y", zvalue(F.col("x"), F.col("y"), 16)
                      .alias("z")).collect()}
    assert rows[(100, 200)] < 1 << 30
    assert rows[(30000, 30000)] < 1 << 30
    assert rows[(40000, 10)] >= 1 << 30       # x bit 15 set -> bit 30
    assert rows[(10, 40000)] >= 1 << 31       # y bit 15 set -> bit 31


# ---------------------------------------------------------- buckets

def test_zorder_buckets_range_and_monotone(spark):
    rng = random.Random(9)
    rows = [(i, rng.randrange(1 << 10), rng.randrange(1 << 10))
            for i in range(500)]
    df = spark.createDataFrame(rows, ["id", "x", "y"])
    got = zorder_buckets(df, "x", "y", n_buckets=8, bits=10).collect()
    assert {r["zbucket"] for r in got} <= set(range(8))
    assert 0 in {r["zbucket"] for r in got}
    assert 7 in {r["zbucket"] for r in got}
    # bucket is monotone in zval
    by_z = sorted(got, key=lambda r: r["zval"])
    bks = [r["zbucket"] for r in by_z]
    assert bks == sorted(bks)


def test_zorder_buckets_validates(spark):
    df = spark.createDataFrame([(1, 1)], ["x", "y"])
    with pytest.raises(ValueError):
        zorder_buckets(df, "x", "y", n_buckets=0)
    with pytest.raises(ValueError):
        zorder_buckets(df, "x", "y", n_buckets=4096, bits=31)


# -------------------------------------------- footer-statistics proof

def _file_ranges(path: str, col: str) -> list[int]:
    """Per-file (max - min) spread of ``col`` from parquet footers."""
    import glob
    spans = []
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(
                next(i for i in range(md.num_columns)
                     if md.row_group(rg).column(i).path_in_schema == col)
            ).statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        spans.append(hi - lo)
    return spans


def test_zorder_write_tightens_footer_stats_on_both_dims(spark, tmp_path):
    # uniform grid: any single-column sort leaves the OTHER column's
    # per-file range at full width; z-order narrows both
    rng = random.Random(17)
    rows = [(rng.randrange(1 << 10), rng.randrange(1 << 10))
            for _ in range(20000)]
    df = spark.createDataFrame(rows, ["x", "y"])
    base = str(tmp_path / "plain")
    zpath = str(tmp_path / "zord")
    df.repartition(16).write.mode("overwrite").parquet(base)
    zorder_write(df, zpath, "x", "y", n_files=16, bits=10)
    full = 1 << 10
    # 16 z-ranges fix the top 4 interleaved bits (y9 x9 y8 x8) -> ideal
    # per-file spread is full/4 on each dim; sampled range boundaries
    # straddle quadrants, so allow slack — but BOTH dims must shrink
    # well below the random layout's full-width spread
    for col in ("x", "y"):
        ranges = _file_ranges(zpath, col)
        plain_avg = sum(_file_ranges(base, col)) / 16
        z_avg = sum(ranges) / len(ranges)
        assert plain_avg > 0.9 * full          # random layout: no pruning
        assert z_avg < 0.6 * full              # z-order: both dims narrow
    # and the data survives the rewrite byte-for-byte
    back = spark.read.parquet(zpath)
    assert sorted(map(tuple, back.collect())) == sorted(rows)
