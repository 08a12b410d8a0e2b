"""Funnel / cohort / histogram / exact moment stats
(operators/analytics) — differential-tested against pure-Python twins and hand-computed
values."""

from __future__ import annotations

import datetime as dt
import math
import random
import statistics

import pytest

from frogocr_spark.operators.analytics import (cohort_retention,
                                               funnel_counts,
                                               histogram_fixed,
                                               moment_stats_exact)


# ------------------------------------------------------------- funnel

def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u, t, 0.0,
          "") for i, (u, t, s) in enumerate(rows)],
        ["event_id", "ts", "user_id", "event_type", "value", "props"])


def test_funnel_strict_ordering(spark):
    rows = [
        # user 1 completes all four in order
        (1, "signup", 0), (1, "view", 10), (1, "click", 20),
        (1, "purchase", 30),
        # user 2: view BEFORE signup doesn't count; no view after
        (2, "view", 0), (2, "signup", 5), (2, "click", 10),
        # user 3: signup only
        (3, "signup", 0),
        # user 4: same-timestamp view is NOT strictly after signup
        (4, "signup", 0), (4, "view", 0),
        # user 5: never signed up
        (5, "view", 1), (5, "click", 2), (5, "purchase", 3),
    ]
    got = {r["step_name"]: r["n_users"]
           for r in funnel_counts(_ev(spark, rows),
                                  ["signup", "view", "click",
                                   "purchase"]).collect()}
    assert got == {"signup": 4, "view": 1, "click": 1, "purchase": 1}


def test_funnel_first_qualifying_event_is_min(spark):
    # two views after signup: funnel records the earlier one, so the
    # click between them still counts (click > first view)
    rows = [(1, "signup", 0), (1, "view", 10), (1, "click", 15),
            (1, "view", 20)]
    got = {r["step_name"]: r["n_users"]
           for r in funnel_counts(_ev(spark, rows),
                                  ["signup", "view", "click"]).collect()}
    assert got == {"signup": 1, "view": 1, "click": 1}


def test_funnel_validates_steps(spark):
    with pytest.raises(ValueError):
        funnel_counts(_ev(spark, []), [])
    with pytest.raises(ValueError):
        funnel_counts(_ev(spark, []), ["view", "view"])


# ------------------------------------------------------- cohort

def test_cohort_retention_hand_computed(spark):
    day = 86400
    rows = [
        (1, "view", 0),            # cohort week 2817 (2024-01-01 epoch wk)
        (1, "view", 8 * day),      # offset 1
        (2, "view", 1 * day),      # same cohort week, offset 0 only
        (3, "view", 7 * day),      # next week cohort
        (3, "view", 21 * day),     # offset 2
    ]
    got = {(r["cohort_week"], r["week_offset"]): r["n_users"]
           for r in cohort_retention(_ev(spark, rows)).collect()}
    base = dt.datetime(2024, 1, 1).timestamp() * 1_000_000
    w0 = int(base // (7 * day * 1_000_000))
    assert got == {(w0, 0): 2, (w0, 1): 1, (w0 + 1, 0): 1, (w0 + 1, 2): 1}


# ------------------------------------------------------- histogram

def test_histogram_fixed_buckets_and_clamp(spark):
    df = spark.createDataFrame(
        [("a", -5.0), ("a", 0.0), ("a", 49.9), ("a", 50.0), ("a", 777.0)],
        ["event_type", "value"])
    got = {(r["event_type"], r["bucket"]): (r["n"], r["v_min"], r["v_max"])
           for r in histogram_fixed(df, "value", "event_type",
                                    width=50.0, n_buckets=10).collect()}
    assert got == {("a", 0): (3, -5.0, 49.9),   # negatives clamp to 0
                   ("a", 1): (1, 50.0, 50.0),
                   ("a", 9): (1, 777.0, 777.0)}  # overflow clamps to 9


def test_histogram_validates_shape(spark):
    df = spark.createDataFrame([("a", 1.0)], ["event_type", "value"])
    with pytest.raises(ValueError):
        histogram_fixed(df, "value", "event_type", width=0, n_buckets=10)


# ------------------------------------------------ exact moment stats

def test_moment_stats_exact_vs_statistics_module(spark):
    import pyspark.sql.functions as F
    rng = random.Random(3)
    rows = [("g", rng.randrange(1, 50), rng.randrange(100, 10000))
            for _ in range(400)]
    df = spark.createDataFrame(rows, ["grp", "x", "y"])
    r = moment_stats_exact(df, F.col("x"), F.col("y"), "grp").collect()[0]
    xs = [x for _, x, _ in rows]
    ys = [y for _, _, y in rows]
    assert r["n"] == 400
    assert r["mean_x"] == pytest.approx(statistics.fmean(xs), abs=1e-6)
    assert r["var_x"] == pytest.approx(statistics.pvariance(xs), abs=1e-4)
    assert r["var_y"] == pytest.approx(statistics.pvariance(ys), abs=1e-2)
    num = statistics.covariance(xs, ys) * (len(xs) - 1) / len(xs)
    corr = num / (math.sqrt(statistics.pvariance(xs))
                  * math.sqrt(statistics.pvariance(ys)))
    assert r["corr_xy"] == pytest.approx(corr, abs=1e-6)


def test_moment_stats_groups_are_independent(spark):
    import pyspark.sql.functions as F
    df = spark.createDataFrame(
        [("a", 1, 2), ("a", 3, 6), ("b", 10, 1), ("b", 10, 1)],
        ["grp", "x", "y"])
    rows = {r["grp"]: r for r in
            moment_stats_exact(df, F.col("x"), F.col("y"), "grp").collect()}
    assert rows["a"]["mean_x"] == 2.0 and rows["a"]["var_x"] == 1.0
    assert rows["a"]["corr_xy"] == 1.0          # perfectly correlated
    assert rows["b"]["var_x"] == 0.0            # degenerate group
    assert rows["b"]["corr_xy"] is None         # corr undefined, not 0/0
