"""Session 34 operators: bounded edit-distance similarity join
(SNM blocking + thresholded Levenshtein) and greedy compaction
planning (Iceberg binpack analog)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from frogocr_spark.operators.dedup import edit_distance_pairs
from frogocr_spark.operators.layout import compaction_plan


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_edit_distance_hand_case(spark):
    # kitten/sitten/sittin: classic chain — adjacent pairs distance 1,
    # the end-to-end pair distance 2; the unrelated row never matches.
    rows = [(1, "kitten kitten kitten"), (2, "sitten kitten kitten"),
            (3, "sittin kitten kitten"), (4, "zzzz completely other")]
    got = {(r.id_a, r.id_b): r.dist
           for r in edit_distance_pairs(
               _docs(spark, rows), max_dist=3, key_len=12,
               window=3).collect()}
    assert got[(1, 2)] == 1
    assert got[(2, 3)] == 1
    assert got[(1, 3)] == 2
    assert all(4 not in pair for pair in got)


def test_edit_distance_threshold_excludes(spark):
    # distance 4 > max_dist 3 → pair filtered even though blocked
    # together (thresholded levenshtein returns -1 past the bound)
    rows = [(1, "aaaa bbbb cccc"), (2, "aaaa bbbb ccddee")]
    got = edit_distance_pairs(_docs(spark, rows), max_dist=3).collect()
    assert got == []


def test_edit_distance_blocking_recall_is_window_bound(spark):
    # identical texts that sort >window positions apart in the prefix
    # order are NOT candidates — blocking recall is the SNM window's,
    # by design (documented); here w=1 and the twin pair sorts 2 apart
    rows = [(1, "aaa same text"), (2, "aab filler one"),
            (3, "aaa same text")]
    got = edit_distance_pairs(_docs(spark, rows), max_dist=2,
                              window=1).collect()
    # prefix order: (1, 3 share key "aaa same tex"; 2 sorts after) →
    # ranks 1,2,3 = ids 1,3,2 — so (1,3) IS adjacent and found
    assert {(r.id_a, r.id_b, r.dist) for r in got} == {(1, 3, 0)}


def test_edit_distance_guard(spark):
    with pytest.raises(ValueError):
        edit_distance_pairs(_docs(spark, [(1, "x")]), max_dist=-1)


def _manifest(spark, rows):
    return spark.createDataFrame(
        rows, "source string, doc_id long, n_chars long")


def _pack_twin(sizes, target):
    """Sequential textbook greedy: close the bin once it reaches
    target (boundary file INCLUDED), accumulator resets to zero."""
    bins, b, acc = [], 1, 0
    for s in sizes:
        bins.append(b)
        acc += s
        if acc >= target:
            b, acc = b + 1, 0
    return bins


def test_compaction_plan_hand_case(spark):
    # target 10: [4,5,1 →bin1 closes at 10] [9,2 →bin2 closes at 11]
    # [3 → open bin3]
    rows = [("s", i, sz) for i, sz in enumerate([4, 5, 1, 9, 2, 3])]
    got = {r.bin_id: (r.n_files, r.bin_bytes, r.first_id, r.last_id)
           for r in compaction_plan(_manifest(spark, rows),
                                    target=10).collect()}
    assert got == {1: (3, 10, 0, 2), 2: (2, 11, 3, 4), 3: (1, 3, 5, 5)}


def test_compaction_plan_groups_independent(spark):
    # each source packs its own manifest; same sizes → same plan
    rows = ([("a", i, 6) for i in range(4)]
            + [("b", i, 6) for i in range(4)])
    got = compaction_plan(_manifest(spark, rows), target=12).collect()
    per = {}
    for r in got:
        per.setdefault(r.source, []).append((r.bin_id, r.n_files))
    assert per["a"] == per["b"] == [(1, 2), (2, 2)]


def test_compaction_plan_property_vs_sequential_twin(spark):
    rng = random.Random(34)
    rows = []
    expect = {}
    for g in ("g1", "g2", "g3"):
        sizes = [rng.randrange(1, 900) for _ in range(40)]
        rows += [(g, i, s) for i, s in enumerate(sizes)]
        bins = _pack_twin(sizes, 2000)
        agg = {}
        for i, (b, s) in enumerate(zip(bins, sizes)):
            n, tot, lo, hi = agg.get(b, (0, 0, i, i))
            agg[b] = (n + 1, tot + s, min(lo, i), max(hi, i))
        expect[g] = agg
    got = compaction_plan(_manifest(spark, rows), target=2000).collect()
    seen = {}
    for r in got:
        seen.setdefault(r.source, {})[r.bin_id] = (
            r.n_files, r.bin_bytes, r.first_id, r.last_id)
    assert seen == expect


def test_compaction_plan_guard(spark):
    with pytest.raises(ValueError):
        compaction_plan(_manifest(spark, [("s", 1, 5)]), target=0)


# ---- cv_stump ----

def _md5_fold(i, k):
    import hashlib
    return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % k


def _stump_twin(rows):
    """Brute-force 1R: max train accuracy over every (rule, threshold),
    ties broken (n_correct DESC, rule ASC, threshold ASC)."""
    best = None
    for t in sorted({v for v, _ in rows}):
        for rule in ("gt", "le"):
            if rule == "le":
                correct = sum(1 for v, y in rows
                              if (v <= t) == (y == 1))
            else:
                correct = sum(1 for v, y in rows
                              if (v > t) == (y == 1))
            key = (-correct, rule, t)
            if best is None or key < best:
                best = key
    return -best[0], best[1], best[2]


def test_cv_stump_property_vs_twin(spark):
    from frogocr_spark.operators.ml import cv_stump
    rng = random.Random(51)
    data = [(i, rng.randrange(0, 12),
             1 if rng.random() < 0.3 + 0.04 * (i % 7) else 0)
            for i in range(160)]
    df = spark.createDataFrame(data, "event_id long, v long, y long")
    got = {r.fold: r for r in cv_stump(
        df, F.col("v"), F.col("y") == 1, id_col="event_id",
        k=4).collect()}
    for f in range(4):
        train = [(v, y) for i, v, y in data if _md5_fold(i, 4) != f]
        test = [(v, y) for i, v, y in data if _md5_fold(i, 4) == f]
        n_corr, rule, thr = _stump_twin(train)
        r = got[f]
        assert (r.rule, r.threshold, r.train_correct, r.train_total) \
            == (rule, thr, n_corr, len(train))
        tc = sum(1 for v, y in test
                 if ((v <= thr) if rule == "le" else (v > thr))
                 == (y == 1))
        assert (r.test_correct, r.test_total) == (tc, len(test))


def test_cv_stump_guard(spark):
    from frogocr_spark.operators.ml import cv_stump
    df = spark.createDataFrame([(1, 1, 1)], "event_id long, v long, y long")
    with pytest.raises(ValueError):
        cv_stump(df, F.col("v"), F.col("y") == 1, k=1)


# ---- sample_quantile_audit ----

def test_sample_quantile_audit_vs_twin(spark):
    from frogocr_spark.operators.analytics import sample_quantile_audit

    def nearest_rank(vals, p):
        vals = sorted(vals)
        return vals[max((len(vals) * p + 99) // 100, 1) - 1]

    rng = random.Random(12)
    data = [(f"g{i % 3}", i, rng.randrange(0, 500)) for i in range(300)]
    df = spark.createDataFrame(data, "grp string, id long, v long")
    got = {r.grp: r for r in sample_quantile_audit(
        df, "grp", F.col("v"), "id", rate_mod=4,
        ps=(50, 90)).collect()}
    for g in ("g0", "g1", "g2"):
        full = [v for gg, i, v in data if gg == g]
        samp = [v for gg, i, v in data
                if gg == g and _md5_fold(i, 4) == 0]
        r = got[g]
        assert (r.n_full, r.n_samp) == (len(full), len(samp))
        assert r.p50_full == nearest_rank(full, 50)
        assert r.p50_samp == nearest_rank(samp, 50)
        assert r.p50_err == abs(r.p50_full - r.p50_samp)
        assert r.p90_err == abs(nearest_rank(full, 90)
                                - nearest_rank(samp, 90))


def test_sample_quantile_audit_empty_sample_group_is_null(spark):
    from frogocr_spark.operators.analytics import sample_quantile_audit
    # ids chosen so NO row of group "only" lands in the 1-in-4 sample
    ids = [i for i in range(200) if _md5_fold(i, 4) != 0][:5]
    df = spark.createDataFrame([("only", i, 7) for i in ids],
                               "grp string, id long, v long")
    r = sample_quantile_audit(df, "grp", F.col("v"), "id",
                              rate_mod=4, ps=(50,)).collect()[0]
    assert r.n_full == 5 and r.n_samp is None
    assert r.p50_full == 7 and r.p50_samp is None and r.p50_err is None


def test_sample_quantile_audit_guard(spark):
    from frogocr_spark.operators.analytics import sample_quantile_audit
    df = spark.createDataFrame([("g", 1, 1)], "grp string, id long, v long")
    with pytest.raises(ValueError):
        sample_quantile_audit(df, "grp", F.col("v"), "id", rate_mod=1)


# ---- ivm_group_counts ----

def test_ivm_hand_case(spark):
    from frogocr_spark.operators.analytics import ivm_group_counts
    base = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "g string, v long")
    # a: one delete (-10) and one insert (+7) -> n=2, sum=30-10+7=27
    # b: deleted entirely -> leaves the view
    # c: born from an insert-only delta -> n=1, sum=3
    delta = spark.createDataFrame(
        [("D", "a", 10), ("I", "a", 7), ("D", "b", 5), ("I", "c", 3)],
        "op string, g string, v long")
    got = {r.g: (r.n_view, r.sum_view)
           for r in ivm_group_counts(base, delta, "g",
                                     F.col("v")).collect()}
    assert got == {"a": (2, 27), "c": (1, 3)}


def test_ivm_matches_recompute_property(spark):
    from frogocr_spark.operators.analytics import ivm_group_counts
    rng = random.Random(8)
    base_rows = [(f"g{rng.randrange(4)}", i, rng.randrange(100))
                 for i in range(200)]
    # deletes reference live base rows; inserts are new values
    del_rows = [("D", g, v) for g, i, v in base_rows if i % 7 == 0]
    ins_rows = [("I", f"g{rng.randrange(5)}", rng.randrange(100))
                for _ in range(30)]
    base = spark.createDataFrame([(g, v) for g, _, v in base_rows],
                                 "g string, v long")
    delta = spark.createDataFrame(del_rows + ins_rows,
                                  "op string, g string, v long")
    got = {r.g: (r.n_view, r.sum_view)
           for r in ivm_group_counts(base, delta, "g",
                                     F.col("v")).collect()}
    # recompute twin
    from collections import defaultdict
    agg = defaultdict(lambda: [0, 0])
    for g, i, v in base_rows:
        if i % 7 != 0:
            agg[g][0] += 1
            agg[g][1] += v
    for _, g, v in ins_rows:
        agg[g][0] += 1
        agg[g][1] += v
    expect = {g: (n, s) for g, (n, s) in agg.items() if n != 0}
    assert got == expect


def test_ivm_unknown_op_raises(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from frogocr_spark.operators.analytics import ivm_group_counts
    base = spark.createDataFrame([("a", 1)], "g string, v long")
    delta = spark.createDataFrame([("U", "a", 1)],
                                  "op string, g string, v long")
    with pytest.raises((Py4JJavaError, SparkRuntimeException)):
        ivm_group_counts(base, delta, "g", F.col("v")).collect()


# ---- fleiss_kappa ----

def test_fleiss_kappa_vs_fraction_twin(spark):
    from fractions import Fraction

    from frogocr_spark.operators.analytics import fleiss_kappa
    rng = random.Random(3)
    rows = [(rng.random() < 0.6, rng.random() < 0.5, rng.random() < 0.4)
            for _ in range(120)]
    df = spark.createDataFrame(rows, "r1 boolean, r2 boolean, r3 boolean")
    got = fleiss_kappa(df, [F.col("r1"), F.col("r2"),
                            F.col("r3")]).collect()[0]
    # textbook Fraction twin
    n, r = len(rows), 3
    ks = [sum(v) for v in rows]
    a = sum(k * k + (r - k) * (r - k) for k in ks)
    kk = sum(ks)
    d = r * n - kk
    pbar = Fraction(a - n * r, n * r * (r - 1))
    pe = Fraction(kk * kk + d * d, r * r * n * n)
    kappa = (pbar - pe) / (1 - pe)

    def trunc_e6(fr):
        v = fr * 10 ** 6
        q = abs(v.numerator) // v.denominator
        return q if v >= 0 else -q

    assert got.n_docs == n and got.n_raters == r
    assert got.pbar_e6 == trunc_e6(pbar)
    assert got.pe_e6 == trunc_e6(pe)
    assert got.kappa_e6 == trunc_e6(kappa)


def test_fleiss_kappa_unanimous_degenerate(spark):
    from frogocr_spark.operators.analytics import fleiss_kappa
    df = spark.createDataFrame([(True, True)] * 5, "r1 boolean, r2 boolean")
    got = fleiss_kappa(df, [F.col("r1"), F.col("r2")]).collect()[0]
    assert got.kappa_e6 == 1_000_000  # den = 0 convention


def test_fleiss_kappa_guards(spark):
    from frogocr_spark.operators.analytics import fleiss_kappa
    df = spark.createDataFrame([(True,)], "r1 boolean")
    with pytest.raises(ValueError):
        fleiss_kappa(df, [F.col("r1")])
    empty = spark.createDataFrame([], "r1 boolean, r2 boolean")
    with pytest.raises(ValueError):
        fleiss_kappa(empty, [F.col("r1"), F.col("r2")])


def test_edit_distance_random_differential(spark):
    """Random-corpus differential: the blocked+thresholded plan must
    equal the exhaustive twin (same SNM blocking replayed in python +
    full Levenshtein) — pairs, and distances, exactly."""

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    rng = random.Random(99)
    vocab = ["alpha", "beta", "gamma", "delta", "epsil", "zeta"]
    rows = []
    for i in range(60):
        words = [rng.choice(vocab) for _ in range(6)]
        rows.append((i, " ".join(words)))
        if rng.random() < 0.5:  # planted near-dup: one char flipped
            t = list(" ".join(words))
            t[rng.randrange(len(t))] = "x"
            rows.append((1000 + i, "".join(t)))
    df = _docs(spark, rows)
    got = {(r.id_a, r.id_b): r.dist
           for r in edit_distance_pairs(df, max_dist=4, key_len=12,
                                        window=3).collect()}
    # twin: replay the SNM order (prefix12 of trimmed text, then id),
    # candidate = rank distance <= 3, verify with full DP
    order = sorted(rows, key=lambda x: (x[1].strip()[:12], x[0]))
    expect = {}
    for i in range(len(order)):
        for j in range(i + 1, min(i + 4, len(order))):
            (ia, ta), (ib, tb) = order[i], order[j]
            if abs(len(ta) - len(tb)) <= 4:
                d = lev(ta, tb)
                if d <= 4:
                    expect[(ia, ib)] = d
    assert got == expect and len(expect) > 10
