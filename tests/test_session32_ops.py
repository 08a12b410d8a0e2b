"""Integer power iteration, truncating division, isotonic calibration,
conformal intervals and the cluster-size profile."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_power_iteration_hand_case(spark):
    # diagonal Gram: two copies of e1, one e2 -> G = diag(2s, s) with
    # s = 4096^2; each round halves the second component's ratio, so
    # after 4 rounds v = (1e6, 62500); Rayleigh recomputed here with
    # explicit integer arithmetic (trunc division, as documented)
    from frogocr_spark.operators.similarity import power_iteration_int
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    rows = (power_iteration_int(df, use_dims=2, iters=4)
            .orderBy("i").collect())
    assert [r.component_e6 for r in rows] == [1000000, 62500]
    s = 4096 * 4096
    num = (10**6 * (2 * s * 10**6) + 62500 * (s * 62500)) * 10**6
    den = 10**12 + 62500 * 62500
    assert rows[0].rayleigh_e6 == num // den  # positive: trunc == floor
    assert rows[0].rayleigh_e6 == rows[1].rayleigh_e6


def test_power_iteration_guards(spark):
    from frogocr_spark.operators.similarity import power_iteration_int
    df = spark.createDataFrame([(1, [0.0, 0.0])],
                               "vec_id long, embedding array<float>")
    with pytest.raises(ValueError):
        power_iteration_int(df, use_dims=2, iters=0)
    with pytest.raises(ValueError, match="zero"):
        power_iteration_int(df, use_dims=2, iters=2)


def test_tdiv_matches_duckdb_trunc_semantics():
    import duckdb

    from frogocr_spark.operators.similarity import _tdiv
    con = duckdb.connect()
    for a in (-7, -1, 0, 1, 7, -1000001, 999999):
        got = con.execute(f"SELECT CAST({a} AS HUGEINT) // 2").fetchone()[0]
        assert _tdiv(a, 2) == int(got)


def test_isotonic_pools_violating_bins(spark):
    # n_bins=2: scores 0-4 -> bin 0 (all positive), 5-9 -> bin 1 (none)
    # -- a decreasing pair, so PAVA pools both bins to 2/4 = 0.5
    from frogocr_spark.operators.ml import isotonic_calibration
    rows = [(0, 1), (4, 1), (5, 0), (9, 0)]
    df = spark.createDataFrame(rows, "s long, y long")
    got = {r.bin: (r.n, r.pos_rate_e6, r.fit_e6)
           for r in isotonic_calibration(
               df, F.col("s"), F.col("y") == 1, n_bins=2).collect()}
    assert got == {0: (2, 1000000, 500000), 1: (2, 0, 500000)}


def test_isotonic_keeps_monotone_input(spark):
    from frogocr_spark.operators.ml import isotonic_calibration
    rows = [(0, 0), (4, 0), (5, 1), (9, 1)]
    df = spark.createDataFrame(rows, "s long, y long")
    got = {r.bin: r.fit_e6
           for r in isotonic_calibration(
               df, F.col("s"), F.col("y") == 1, n_bins=2).collect()}
    assert got == {0: 0, 1: 1000000}


def test_isotonic_fit_is_nondecreasing(spark):
    # mixed rates across 5 bins: whatever the pools, the output must be
    # non-decreasing in bin (the defining isotonic property)
    from frogocr_spark.operators.ml import isotonic_calibration
    rows = [(s, 1 if (s * 7) % 3 == 0 else 0) for s in range(50)]
    df = spark.createDataFrame(rows, "s long, y long")
    fits = [r.fit_e6 for r in isotonic_calibration(
        df, F.col("s"), F.col("y") == 1, n_bins=5)
        .orderBy("bin").collect()]
    assert len(fits) == 5
    assert fits == sorted(fits)


def test_conformal_hand_case(spark):
    # python twin of the definition over ids 1..40, one group; the md5
    # half-split is replicated here with hashlib
    import hashlib

    from frogocr_spark.operators.ml import conformal_threshold
    rows = [(i, "g", i * 3 % 17) for i in range(1, 41)]
    df = spark.createDataFrame(rows, "event_id long, g string, s long")
    r = conformal_threshold(
        df, "g", F.col("s"), "event_id").collect()[0]
    calib = sorted(
        (s, str(i)) for i, _, s in rows
        if hashlib.md5(str(i).encode()).hexdigest()[0] < "8")
    hold = [s for i, _, s in rows
            if hashlib.md5(str(i).encode()).hexdigest()[0] >= "8"]
    n_cal = len(calib)
    k = ((n_cal + 1) * 9 + 9) // 10
    thr = calib[k - 1][0] if k <= n_cal else None
    assert (r.n_cal, r.k, r.thr) == (n_cal, k, thr)
    assert r.n_eval == len(hold)
    assert r.coverage_e6 == sum(
        1 for s in hold if s <= thr) * 10**6 // len(hold)


def test_conformal_too_few_calibration_points(spark):
    # 2 calibration points at alpha=0.1 -> k = ceil(3*0.9) = 3 > 2:
    # no finite bound -> NULL thr and NULL coverage
    import hashlib

    from frogocr_spark.operators.ml import conformal_threshold
    calib_ids = [i for i in range(1, 100)
                 if hashlib.md5(str(i).encode()).hexdigest()[0] < "8"][:2]
    hold_ids = [i for i in range(1, 100)
                if hashlib.md5(str(i).encode()).hexdigest()[0] >= "8"][:3]
    rows = [(i, "g", 5) for i in calib_ids + hold_ids]
    df = spark.createDataFrame(rows, "event_id long, g string, s long")
    r = conformal_threshold(df, "g", F.col("s"), "event_id").collect()[0]
    assert (r.n_cal, r.k) == (2, 3)
    assert r.thr is None and r.coverage_e6 is None


def test_conformal_and_isotonic_guards(spark):
    from frogocr_spark.operators.ml import (conformal_threshold,
                                            isotonic_calibration)
    df = spark.createDataFrame([(1, "g", 5)],
                               "event_id long, g string, s long")
    with pytest.raises(ValueError):
        conformal_threshold(df, "g", F.col("s"), "event_id",
                            alpha_num=0)
    with pytest.raises(ValueError):
        conformal_threshold(df, "g", F.col("s"), "event_id",
                            calib_hex="G")
    with pytest.raises(ValueError):
        isotonic_calibration(df, F.col("s"), F.col("s") > 0, n_bins=0)
    with pytest.raises(ValueError, match="key_scale"):
        isotonic_calibration(df, F.col("s"), F.col("s") > 0,
                             key_scale=500)
    from frogocr_spark.operators.similarity import power_iteration_top2
    edf = spark.createDataFrame([(1, [1.0, 0.0])],
                                "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="deflate_div"):
        power_iteration_top2(edf, use_dims=2, deflate_div=0)


def test_cluster_size_profile_hand_case(spark):
    from frogocr_spark.operators.dedup import cluster_size_profile
    df = spark.createDataFrame(
        [("d1", "c1"), ("d2", "c1"), ("d3", "c1"), ("d4", "c2")],
        "doc_id string, cluster_id string")
    got = {r.bucket: (r.n_clusters, r.n_docs, r.max_size,
                      r.giant_frac_e6)
           for r in cluster_size_profile(df).collect()}
    # sizes {3, 1} -> buckets floor(log2): 1 and 0; giant 3/4
    assert got == {1: (1, 3, 3, 750000), 0: (1, 1, 3, 750000)}


def test_power_iteration_top2_separable_axes(spark):
    # axis-aligned corpus: G = diag(2s, s) -> first component on axis
    # 0, second on axis 1; eigen-energies 2/3 and 1/3 of the trace
    from frogocr_spark.operators.similarity import power_iteration_top2
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    rows = (power_iteration_top2(df, use_dims=2, iters=4)
            .orderBy("i").collect())
    s = 4096 * 4096
    assert [r.c1_e6 for r in rows] == [1000000, 62500]
    # the deflated dominant direction is axis 1 (up to sign); at
    # iters=4 on an eigen-gap of 2, v1 carries a ~1/16 residual and
    # the deflation inherits it — tolerances sized to that, the
    # engine-exactness itself is pinned by the oracle hash match
    assert abs(rows[1].c2_e6) == 1000000
    assert abs(rows[0].c2_e6) <= 160000
    assert abs(rows[0].lambda2_e6 - s * 10**6) <= s * 10**6 // 25
    assert abs(rows[0].energy1_e6 - 666666) <= 10000
    assert abs(rows[0].energy2_e6 - 333333) <= 10000


def test_power_iteration_top2_rank1_exact_zero_deflate(spark):
    # identical vectors: H = s1^2*G - s2*v1v1' vanishes EXACTLY, so the
    # second component is the zero vector with lambda2 = energy2 = 0
    from frogocr_spark.operators.similarity import power_iteration_top2
    df = spark.createDataFrame(
        [(i, [1.0, 1.0]) for i in range(1, 4)],
        "vec_id long, embedding array<float>")
    rows = (power_iteration_top2(df, use_dims=2, iters=4)
            .orderBy("i").collect())
    assert [r.c1_e6 for r in rows] == [1000000, 1000000]
    assert [r.c2_e6 for r in rows] == [0, 0]
    assert rows[0].lambda2_e6 == 0 and rows[0].energy2_e6 == 0
    assert rows[0].energy1_e6 >= 999999  # lambda1 = trace (rank 1)


def _pava_twin(bins):
    # textbook sequential pool-adjacent-violators on (count, positives)
    # ordered bins; exact rational pool means via Fraction
    from fractions import Fraction
    pools = []  # [sum_p, sum_c, bins_in_pool]
    for c, p in bins:
        pools.append([p, c, 1])
        while (len(pools) >= 2
               and Fraction(pools[-2][0], pools[-2][1])
               > Fraction(pools[-1][0], pools[-1][1])):
            p2, c2, k2 = pools.pop()
            p1, c1, k1 = pools.pop()
            pools.append([p1 + p2, c1 + c2, k1 + k2])
    res = []
    for p, c, k in pools:
        res.extend([Fraction(p, c)] * k)
    return res


@pytest.mark.parametrize("seed", range(6))
def test_isotonic_random_vs_pava_twin(spark, seed):
    # the minimax-over-integer-keys form must equal floor(1e6 * the
    # textbook sequential PAVA pool means) on random labeled sets
    import random

    from frogocr_spark.operators.ml import isotonic_calibration
    rng = random.Random(1000 + seed)
    rows = [(s, rng.randint(0, 1))
            for s in range(rng.randint(10, 60)) for _ in range(
                rng.randint(1, 3))]
    df = spark.createDataFrame(rows, "s long, y long")
    n_bins = rng.randint(1, 6)
    got = sorted(
        (r.bin, r.n, r.fit_e6)
        for r in isotonic_calibration(df, F.col("s"), F.col("y") == 1,
                                      n_bins=n_bins).collect())
    # rebuild the binning exactly, then run textbook PAVA
    smin = min(s for s, _ in rows)
    smax = max(s for s, _ in rows)
    from collections import defaultdict
    agg = defaultdict(lambda: [0, 0])
    for s, y in rows:
        b = ((s - smin) * n_bins) // (smax - smin + 1) if smax > smin else 0
        agg[b][0] += 1
        agg[b][1] += y
    ordered = sorted(agg.items())
    fits = _pava_twin([(c, p) for _, (c, p) in ordered])
    exp = sorted((b, c, int(f * 10**6))
                 for (b, (c, p)), f in zip(ordered, fits))
    assert got == exp
