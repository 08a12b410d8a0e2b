"""Window/join/scalar operators vs hand-computed expectations."""

import pytest
from pyspark.sql import functions as F

from frogocr_spark.functions import text as ftext
from frogocr_spark.operators import joins, windows


# ---------- windows ----------

def test_priority_limit(spark):
    df = spark.createDataFrame(
        [(i, i % 5) for i in range(20)], "id long, priority int")
    got = windows.priority_limit(df, "priority", 4, tiebreak="id").collect()
    assert [(r.id, r.priority) for r in got] == [(4, 4), (9, 4), (14, 4), (19, 4)]


def test_positional_ids(spark):
    df = spark.createDataFrame(
        [("a", 3), ("a", 1), ("b", 2), ("a", 2)], "grp string, pos int")
    got = windows.positional_ids(df, ["grp"], ["pos"])
    m = {(r.grp, r.pos): r.pos_id for r in got.collect()}
    assert m == {("a", 1): 1, ("a", 2): 2, ("a", 3): 3, ("b", 2): 1}


def test_mode_per_group(spark):
    df = spark.createDataFrame(
        [("u1", 0), ("u1", 180), ("u1", 180), ("u2", 0), ("u2", 90)],
        "u string, angle int")
    got = {r.u: r.mode_value for r in
           windows.mode_per_group(df, ["u"], "angle").collect()}
    assert got == {"u1": 180, "u2": 0}  # u2 tie → smallest value


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("g", i, float(i % 7)) for i in range(21)], "g string, id long, v double")
    got = windows.top_k_per_group(df, ["g"], "v", 3, tiebreak="id").collect()
    assert sorted((r.v, r.id) for r in got) == [(6.0, 6), (6.0, 13), (6.0, 20)]


def test_reading_order_rank(spark):
    df = spark.createDataFrame(
        [("p", 100, 400, "B"), ("p", 103, 60, "A"), ("p", 200, 60, "C")],
        "pg string, y int, x int, t string")
    got = windows.reading_order_rank(df, ["pg"], "y", "x")
    order = [r.t for r in sorted(got.collect(), key=lambda r: r.read_rank)]
    assert order == ["A", "B", "C"]


# ---------- joins ----------

def test_interval_overlap_join(spark):
    left = spark.createDataFrame(
        [("d", 1, 0, 10), ("d", 2, 100, 110)], "k string, lid int, ls int, le int")
    right = spark.createDataFrame(
        [("d", 7, 1, 10), ("d", 8, 50, 60)], "k string, rid int, rs int, re int")
    got = joins.interval_overlap_join(left, right, ["k"],
                                      "ls", "le", "rs", "re").collect()
    assert [(r.lid, r.rid) for r in got] == [(1, 7)]  # 9/10 = .9 > .75
    # bucketed decomposition returns identical pairs
    got_b = joins.interval_overlap_join(left, right, ["k"], "ls", "le",
                                        "rs", "re", bucket_width=16).collect()
    assert [(r.lid, r.rid) for r in got_b] == [(1, 7)]


def test_interval_join_exact_threshold_excluded(spark):
    # overlap 3 of 4 both sides = exactly .75 → excluded (strict >)
    left = spark.createDataFrame([("k", 0, 4)], "k string, ls int, le int")
    right = spark.createDataFrame([("k", 1, 5)], "k string, rs int, re int")
    assert joins.interval_overlap_join(left, right, ["k"],
                                       "ls", "le", "rs", "re").count() == 0


def test_as_of_join_backward(spark):
    left = spark.createDataFrame(
        [("u", 10, "e1"), ("u", 20, "e2"), ("u", 5, "e0")],
        "k string, t int, name string")
    right = spark.createDataFrame(
        [("u", 8, "c1"), ("u", 10, "c2"), ("u", 15, "c3")],
        "k string, rt int, click string")
    got = {r.name: r.click for r in joins.as_of_join(
        left, right, ["k"], "t", "rt", ["click"]).collect()}
    # e0@5: none before → None; e1@10: c2 (<= semantics); e2@20: c3
    assert got == {"e0": None, "e1": "c2", "e2": "c3"}


def test_nearest_neighbor_join(spark):
    left = spark.createDataFrame(
        [("k", 1, 10.0), ("k", 2, 99.0)], "k string, lid int, v double")
    right = spark.createDataFrame(
        [("k", 12.0, "a"), ("k", 50.0, "b"), ("k", 98.0, "c")],
        "k string, rv double, tag string")
    got = {r.lid: r.tag for r in joins.nearest_neighbor_join(
        left, right, ["k"], ["lid"], "v", "rv", ["tag"]).collect()}
    assert got == {1: "a", 2: "c"}
    # max_distance rejection (J9 min-distance gate)
    got2 = {r.lid: r.tag for r in joins.nearest_neighbor_join(
        left, right, ["k"], ["lid"], "v", "rv", ["tag"],
        max_distance=1.5).collect()}
    assert got2 == {2: "c"}


# ---------- scalar functions ----------

def test_xml_escape_order(spark):
    df = spark.createDataFrame([('a&"<>b',)], "s string")
    got = df.select(ftext.xml_attribute_escape(F.col("s")).alias("e")).first().e
    assert got == "a&amp;&quot;&lt;&gt;b"  # & escaped first, not double-escaped


def test_settings_csv_map_and_default(spark):
    df = spark.createDataFrame([("TextDetector=paddle,Dpi=300",)], "s string")
    m = ftext.settings_csv_to_map(F.col("s"))
    row = df.select(
        ftext.setting_with_default(m, "Dpi", "72").alias("dpi"),
        ftext.setting_with_default(m, "MinWordConfidence", "0.0").alias("mwc"),
    ).first()
    assert row.dpi == "300" and row.mwc == "0.0"


def test_merge_tokens(spark):
    df = spark.createDataFrame([("  a  b\t c ",)], "s string")
    assert df.select(ftext.merge_tokens(F.col("s")).alias("o")).first().o == "a b c"
