"""Session-10 operators: prefix-max machinery, 2D skyline, sweep-line
concurrency, equi-depth histograms, association rules and JL projection — each checked against hand-computed values
and/or a pure-Python brute-force twin (the contract queries carry the
DuckDB hash checks; these pin the semantics on adversarial edges)."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest
from pyspark.sql import functions as F

from frogocr_spark.operators.analytics import (assoc_rules,
                                               max_concurrency,
                                               skyline2d)
from frogocr_spark.operators.ranking import (equidepth_histogram,
                                             global_cummax)


# ----------------------------------------------------------------- cummax
def test_global_cummax_hand_case(spark):
    rows = [(1, 5), (2, 3), (3, 9), (4, 2), (5, 9)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r.k: r.m for r in
           global_cummax(df, ["k"], "v", "m", num_partitions=3).collect()}
    # exclusive: first row NULL, then running max of strictly earlier
    assert got == {1: None, 2: 5, 3: 5, 4: 9, 5: 9}


def test_global_cummax_crosses_partitions(spark):
    n = 200
    rows = [(i, (i * 37) % 101) for i in range(n)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(7)
    got = {r.k: r.m for r in
           global_cummax(df, ["k"], "v", "m", num_partitions=5).collect()}
    run = None
    for i in range(n):
        assert got[i] == run, i
        run = rows[i][1] if run is None else max(run, rows[i][1])


# ---------------------------------------------------------------- skyline
def _brute_skyline(pts):
    out = []
    for p in pts:
        dominated = any(
            q[0] <= p[0] and q[1] >= p[1]
            and (q[0] < p[0] or q[1] > p[1]) for q in pts)
        if not dominated:
            out.append(p)
    return sorted(out)


def test_skyline_hand_case_with_ties(spark):
    # (price, size): duplicates at (10, 5) both survive (neither
    # dominates the other — both strict tests fail); (10, 3) is
    # dominated by the same-price larger-size point; (20, 4) is
    # dominated by the cheaper-and-bigger (10, 5)
    pts = [(1, 10, 5), (2, 10, 5), (3, 10, 3), (4, 20, 4),
           (5, 5, 2), (6, 30, 9)]
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = sorted((r.id, r.x, r.y)
                 for r in skyline2d(df, "x", "y").collect())
    assert got == [(1, 10, 5), (2, 10, 5), (5, 5, 2), (6, 30, 9)]


def test_skyline_differential_vs_brute_force(spark):
    import random
    rng = random.Random(7)
    pts = [(i, rng.randrange(20), rng.randrange(20))
           for i in range(300)]
    df = spark.createDataFrame(pts, "id long, x long, y long") \
        .repartition(9)
    got = sorted((r.x, r.y) for r in skyline2d(df, "x", "y").collect())
    want = sorted(x_y for x_y in
                  [(p[1], p[2]) for p in pts
                   if (p[1], p[2]) in
                   set(_brute_skyline([(q[1], q[2]) for q in pts]))])
    assert got == want


# ------------------------------------------------------------ concurrency
def _ts(us):
    return dt.datetime(2024, 1, 1) + dt.timedelta(microseconds=us)


def test_max_concurrency_half_open_boundary(spark):
    # interval B starts exactly when A ends: half-open [s, e) — never
    # concurrent; C overlaps both endpoints' interiors
    d = 1_000_000  # 1 s duration
    rows = [("k", _ts(0), 1), ("k", _ts(d), 2),       # A, B abut
            ("k", _ts(d // 2), 3)]                     # C overlaps both
    df = spark.createDataFrame(rows, "k string, ts timestamp, event_id long")
    got = max_concurrency(df, "k", duration_us=d).collect()
    assert [(r.k, r.max_concurrent) for r in got] == [("k", 2)]


def test_max_concurrency_differential_vs_quadratic(spark):
    import random
    rng = random.Random(11)
    dur = 50
    rows = [(f"k{i % 3}", _ts(rng.randrange(400)), i)
            for i in range(120)]
    df = spark.createDataFrame(rows,
                               "k string, ts timestamp, event_id long")
    got = {r.k: r.max_concurrent for r in
           max_concurrency(df, "k", duration_us=dur,
                           num_partitions=7).collect()}
    base = dt.datetime(2024, 1, 1)
    want = {}
    for k in {r[0] for r in rows}:
        ss = [int((r[1] - base).total_seconds() * 1e6)
              for r in rows if r[0] == k]
        want[k] = max(sum(1 for t in ss if t <= s < t + dur) for s in ss)
    assert got == want


# ---------------------------------------------------------------- equidepth
def test_equidepth_bucket_populations_differ_by_at_most_one(spark):
    rows = [(i, (i * 13) % 97) for i in range(103)]  # n % B != 0
    df = spark.createDataFrame(rows, "event_id long, v long")
    out = equidepth_histogram(df, "v", "event_id", n_buckets=8).collect()
    sizes = sorted(r.n_rows for r in out)
    assert len(out) == 8 and sum(sizes) == 103
    assert sizes[-1] - sizes[0] <= 1
    # bucket boundaries are non-overlapping and ordered
    bs = sorted((r.bucket, r.lo, r.hi) for r in out)
    for (b1, lo1, hi1), (b2, lo2, hi2) in zip(bs, bs[1:]):
        assert lo1 <= hi1 and hi1 <= lo2


def test_equidepth_validates_and_handles_empty(spark):
    df = spark.createDataFrame([], "event_id long, v long")
    assert equidepth_histogram(df, "v", "event_id", 4).count() == 0
    with pytest.raises(ValueError):
        equidepth_histogram(df, "v", "event_id", 0)


# ----------------------------------------------------------------- itemsets
def test_assoc_rules_hand_case(spark):
    rows = [(1, 10), (1, 20), (1, 30),
            (2, 10), (2, 20),
            (3, 10), (3, 20), (3, 20),   # duplicate item collapses
            (4, 99)]                     # singleton basket: no pairs
    df = spark.createDataFrame(rows, "bk long, it long")
    got = {(r.a, r.b): (r.n_ab, r.n_a, r.n_b, r.n_baskets)
           for r in assoc_rules(df, "bk", "it", top_n=10).collect()}
    assert got == {(10, 20): (3, 3, 3, 4),
                   (10, 30): (1, 3, 1, 4),
                   (20, 30): (1, 3, 1, 4)}


def test_assoc_rules_mega_basket_cap_drops_pairs_not_counts(spark):
    rows = [(1, i) for i in range(10)] + [(2, 1), (2, 2)]
    df = spark.createDataFrame(rows, "bk long, it long")
    got = {(r.a, r.b): (r.n_ab, r.n_a, r.n_baskets)
           for r in assoc_rules(df, "bk", "it", top_n=100,
                                max_basket=5).collect()}
    # basket 1 (10 items > cap) contributes NO pairs, but its items
    # still count in n_a and it still counts in n_baskets
    assert got == {(1, 2): (1, 2, 2)}


# ----------------------------------------------------------------- JL proj
def test_jl_project_matches_pure_python_twin(spark):
    from frogocr_spark.operators.similarity import (jl_project,
                                                    jl_sign_matrix)
    import random
    rng = random.Random(3)
    dim, k = 16, 4
    vecs = [(i, [round(rng.uniform(-1, 1), 6) for _ in range(dim)])
            for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {r.vec_id: list(r.proj)
           for r in jl_project(df, dim=dim, k=k).collect()}
    signs = jl_sign_matrix(dim, k)
    import struct
    for vid, v in vecs:
        # reproduce the exact float32 -> double -> *10000 -> half-up
        q = []
        for x in v:
            f32 = struct.unpack("f", struct.pack("f", x))[0]
            d = f32 * 10000
            import decimal
            q.append(int(decimal.Decimal(d).quantize(
                0, rounding=decimal.ROUND_HALF_UP)))
        want = [sum(s * qi for s, qi in zip(signs[j], q))
                for j in range(k)]
        assert got[vid] == want, vid


def test_jl_sign_matrix_deterministic_and_md5_derived(spark):
    from frogocr_spark.operators.similarity import jl_sign_matrix
    m1, m2 = jl_sign_matrix(8, 3), jl_sign_matrix(8, 3)
    assert m1 == m2
    nib = int(hashlib.md5(b"rp_2_7").hexdigest()[0], 16)
    assert m1[2][7] == (1 if nib % 2 == 0 else -1)


# ------------------------------------------------------------- quantiles
def test_quantile_summary_hand_case(spark):
    from frogocr_spark.operators.analytics import quantile_summary
    rows = [("g", i, v) for i, v in enumerate([10, 20, 30, 40, 50,
                                               60, 70, 80, 90, 100])]
    df = spark.createDataFrame(rows, "g string, event_id long, v long")
    out = quantile_summary(df, "g", F.col("v"), "event_id",
                           ps=(25, 50, 75, 95)).collect()[0]
    # nearest rank: ceil(10*p/100) -> ranks 3, 5, 8, 10
    assert (out.n, out.p25, out.p50, out.p75, out.p95) == \
        (10, 30, 50, 80, 100)
    with pytest.raises(ValueError):
        quantile_summary(df, "g", F.col("v"), "event_id", ps=(0,))


def test_mad_stats_hand_case(spark):
    from frogocr_spark.operators.analytics import mad_stats
    # values 1..7 plus outlier 100: median(rank ceil(8/2)=4) = 4
    # devs |v-4|: [3,2,1,0,1,2,3,96] sorted [0,1,1,2,2,3,3,96],
    # rank 4 -> MAD = 2
    rows = [("g", i, v) for i, v in
            enumerate([1, 2, 3, 4, 5, 6, 7, 100])]
    df = spark.createDataFrame(rows, "g string, event_id long, v long")
    out = mad_stats(df, "g", F.col("v"), "event_id").collect()[0]
    assert (out.n, out.median, out.mad) == (8, 4, 2)


# -------------------------------------------------------------- debounce
def test_debounce_stateful_vs_lag_divergence(spark):
    from frogocr_spark.operators.analytics import debounce
    # e1@0 kept; e2@0.5s dropped; e3@1.1s: gap to KEPT e1 = 1.1s >= 1s
    # -> kept under TRUE debounce, while lag-to-previous-RAW (0.6s)
    # would drop it — pins the stateful semantics
    rows = [("u", _ts(0), 1), ("u", _ts(500_000), 2),
            ("u", _ts(1_100_000), 3)]
    df = spark.createDataFrame(rows, "u string, ts timestamp, event_id long")
    out = debounce(df, ["u"], quiet_us=1_000_000).collect()[0]
    assert (out.n_events, out.n_kept, list(out.kept_ids)) == (3, 2, [1, 3])


def test_debounce_burst_collapses_to_first(spark):
    from frogocr_spark.operators.analytics import debounce
    rows = [("u", _ts(i * 200_000), i) for i in range(5)] \
        + [("u", _ts(5_000_000), 99)]
    df = spark.createDataFrame(rows, "u string, ts timestamp, event_id long")
    out = debounce(df, ["u"], quiet_us=1_000_000).collect()[0]
    assert (out.n_kept, list(out.kept_ids)) == (2, [0, 99])


# ------------------------------------------------------------- coverage
def test_interval_coverage_overlap_abut_disjoint(spark):
    from frogocr_spark.operators.analytics import interval_coverage
    d = 1_000_000
    rows = [("u", _ts(0), 1),          # [0, 1s)
            ("u", _ts(500_000), 2),    # overlaps -> +0.5s
            ("u", _ts(1_500_000), 3),  # abuts [1.5, 2.5) -> +1s
            ("u", _ts(10_000_000), 4), # disjoint -> +1s
            ("u", _ts(10_200_000), 5)] # nested-ish -> +0.2s
    df = spark.createDataFrame(rows, "u string, ts timestamp, event_id long")
    out = interval_coverage(df, "u", duration_us=d).collect()[0]
    assert (out.n_intervals, out.covered_us, out.span_us) == \
        (5, 3_700_000, 11_200_000)


def test_interval_coverage_contained_interval_adds_nothing(spark):
    from frogocr_spark.operators.analytics import interval_coverage
    rows = [("u", _ts(0), 1), ("u", _ts(100), 2)]
    df = spark.createDataFrame(rows, "u string, ts timestamp, event_id long")
    out = interval_coverage(df, "u", duration_us=1_000_000).collect()[0]
    assert out.covered_us == 1_000_100


# ---------------------------------------------------------- postings delta
def test_postings_delta_gaps_and_df_band(spark):
    from frogocr_spark.operators.textstats import postings_delta
    docs = [(10, "alpha beta"), (13, "alpha gamma"), (20, "alpha beta"),
            (99, "solo")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.term: (r.df, r.first_doc, list(r.gaps))
           for r in postings_delta(df, min_len=4, min_df=2,
                                   max_df=2).collect()}
    # alpha has df=3 > max_df (hot-term cut); solo/gamma df=1 < min_df
    assert got == {"beta": (2, 10, [10])}
    got2 = {r.term for r in postings_delta(df, min_len=4, min_df=2,
                                           max_df=64).collect()}
    assert got2 == {"alpha", "beta"}


# ------------------------------------------------------------------- KS
def test_ks_identical_samples_zero_and_disjoint_one(spark):
    from frogocr_spark.operators.analytics import ks_statistic
    a = spark.createDataFrame([(v,) for v in (1, 2, 3, 4)], "v long")
    out = ks_statistic(a, a, F.col("v")).collect()[0]
    assert (out.n1, out.n2, out.ks_num, out.ks) == (4, 4, 0, 0.0)
    b = spark.createDataFrame([(v,) for v in (10, 11)], "v long")
    out = ks_statistic(a, b, F.col("v")).collect()[0]
    # A entirely below B: at v=4, F_A=1 and F_B=0 -> KS = 1
    assert (out.ks_num, out.ks) == (4 * 2, 1.0)


def test_ks_hand_case(spark):
    from frogocr_spark.operators.analytics import ks_statistic
    # A = {1,2}, B = {2,3}: at v=1 |1*2-0*2|=2; v=2 |2*2-1*2|=2;
    # v=3 |2*2-2*2|=0 -> ks_num=2, ks=2/4=0.5
    a = spark.createDataFrame([(1,), (2,)], "v long")
    b = spark.createDataFrame([(2,), (3,)], "v long")
    out = ks_statistic(a, b, F.col("v")).collect()[0]
    assert (out.ks_num, out.ks) == (2, 0.5)


# ----------------------------------------------------------------- CUSUM
def test_cusum_constant_series_zero_excursions(spark):
    from frogocr_spark.operators.analytics import cusum_excursions
    rows = [("k", _ts(i), i, 7) for i in range(10)]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, event_id long, x long")
    out = cusum_excursions(df, "k", F.col("x")).collect()[0]
    assert (out.n, out.sum_v, out.max_excursion, out.min_excursion) == \
        (10, 70, 0, 0)


def test_cusum_hand_case_and_multi_key_reset(spark):
    from frogocr_spark.operators.analytics import cusum_excursions
    # key a: x = [0, 10]: n=2, sx=10; d = [2*0-10, 2*10-10] = [-10, 10]
    # walk: -10, 0 -> max 0, min -10
    # key b: x = [5]: d = [0] -> 0, 0 (and a's walk must not leak in)
    rows = [("a", _ts(0), 1, 0), ("a", _ts(1), 2, 10),
            ("b", _ts(2), 3, 5)]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, event_id long, x long")
    got = {r.k: (r.max_excursion, r.min_excursion)
           for r in cusum_excursions(df, "k", F.col("x"),
                                     num_partitions=3).collect()}
    assert got == {"a": (0, -10), "b": (0, 0)}


# ---------------------------------------------------------------- islands
def test_id_islands_hand_case(spark):
    from frogocr_spark.operators.ranking import id_islands
    keys = [1, 2, 3, 7, 8, 10, 10]      # duplicate collapses
    df = spark.createDataFrame([(k,) for k in keys], "k long") \
        .repartition(4)
    got = sorted((r.lo, r.hi, r.n_keys)
                 for r in id_islands(df, "k").collect())
    assert got == [(1, 3, 3), (7, 8, 2), (10, 10, 1)]


# -------------------------------------------------------------------- RLE
def test_rle_encode_hand_case(spark):
    from frogocr_spark.operators.analytics import rle_encode
    seq = ["A", "A", "A", "B", "A", "A"]
    rows = [("u", _ts(i), i, s) for i, s in enumerate(seq)]
    df = spark.createDataFrame(
        rows, "u string, ts timestamp, event_id long, s string")
    out = rle_encode(df, "u", "s").collect()[0]
    assert (out.n_events, out.n_runs, out.rle) == (6, 3, "A:3 B:1 A:2")


def test_rle_single_run_and_alternating(spark):
    from frogocr_spark.operators.analytics import rle_encode
    rows = ([("u1", _ts(i), i, "X") for i in range(4)]
            + [("u2", _ts(i), 100 + i, "AB"[i % 2]) for i in range(4)])
    df = spark.createDataFrame(
        rows, "u string, ts timestamp, event_id long, s string")
    got = {r.u: (r.n_runs, r.rle)
           for r in rle_encode(df, "u", "s").collect()}
    assert got == {"u1": (1, "X:4"), "u2": (4, "A:1 B:1 A:1 B:1")}


# -------------------------------------------------------------------- RRF
def test_l2sq_topk_exact_hand_case(spark):
    from frogocr_spark.operators.similarity import l2sq_topk
    vecs = [(0, [0.0, 0.0]), (1, [0.0001, 0.0]), (2, [0.0003, 0.0004]),
            (3, [1.0, 0.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {(r.query_id, r.rank): (r.neighbor_id, r.d2)
           for r in l2sq_topk(df, df.where("vec_id = 0"), k=3).collect()}
    # quantized ints: v1 = (1,0) -> d2=1; v2 = (3,4) -> 25; v3 -> 1e8
    assert got == {(0, 1): (1, 1), (0, 2): (2, 25),
                   (0, 3): (3, 100_000_000)}


def test_rrf_fuse_hand_case_inner_semantics(spark):
    from frogocr_spark.operators.similarity import rrf_fuse
    ra = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, neighbor_id long, rank int")
    rb = spark.createDataFrame(
        [(0, 11, 1), (0, 10, 2), (0, 99, 3)],
        "query_id long, neighbor_id long, rank int")
    out = {r.neighbor_id: (r.rank, r.rrf_num, r.rrf_den)
           for r in rrf_fuse(ra, rb, k_const=60, top_k=5).collect()}
    # 12 and 99 appear in only one ranker -> dropped (inner semantics)
    # 10: (61+62)/(61*62)=123/3782 ; 11: (62+61)/(62*61) -> identical
    # fraction -> tie broken by neighbor id: 10 first
    assert out == {10: (1, 123, 3782), 11: (2, 123, 3782)}


# ------------------------------------------------------- guard hardening
def test_ks_empty_side_raises(spark):
    from frogocr_spark.operators.analytics import ks_statistic
    a = spark.createDataFrame([(1,)], "v long")
    e = spark.createDataFrame([], "v long")
    with pytest.raises(ValueError, match="non-empty"):
        ks_statistic(a, e, F.col("v"))


def test_duration_and_quiet_validation(spark):
    from frogocr_spark.operators.analytics import (debounce,
                                                   max_concurrency)
    df = spark.createDataFrame([("k", _ts(0), 1)],
                               "k string, ts timestamp, event_id long")
    with pytest.raises(ValueError):
        max_concurrency(df, "k", duration_us=0)
    with pytest.raises(ValueError):
        debounce(df, ["k"], quiet_us=0)


# ----------------------------------------------------------------- stump
def test_decision_stump_perfect_split(spark):
    from frogocr_spark.operators.analytics import decision_stump
    rows = [(v, v <= 10) for v in (1, 5, 10, 20, 30)]
    df = spark.createDataFrame(rows, "v long, y boolean")
    out = decision_stump(df, F.col("v"), F.col("y")).collect()[0]
    assert (out.rule, out.threshold, out.n_correct, out.n_total) == \
        ("le", 10, 5, 5)


def test_decision_stump_inverted_and_majority(spark):
    from frogocr_spark.operators.analytics import decision_stump
    # positives ABOVE the threshold -> 'gt' rule wins
    rows = [(v, v > 10) for v in (1, 5, 10, 20, 30)]
    df = spark.createDataFrame(rows, "v long, y boolean")
    out = decision_stump(df, F.col("v"), F.col("y")).collect()[0]
    assert (out.rule, out.threshold, out.n_correct) == ("gt", 10, 5)
    # label independent of feature -> never worse than majority
    rows = [(v, v % 2 == 0) for v in range(20)]
    df = spark.createDataFrame(rows, "v long, y boolean")
    out = decision_stump(df, F.col("v"), F.col("y")).collect()[0]
    assert out.n_correct >= out.n_majority
    with pytest.raises(ValueError, match="empty"):
        decision_stump(spark.createDataFrame([], "v long, y boolean"),
                       F.col("v"), F.col("y"))


# ------------------------------------------------------------------ BM25
def test_bm25_matches_pure_python_twin(spark):
    from frogocr_spark.operators.textstats import bm25_scores
    import math
    corpus = [(1, "spark join join fast"), (2, "spark table scan"),
              (3, "join merge merge join sort"), (4, "window stream"),
              (5, "the quick fox")]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    queries = {"q1": ["spark", "join"], "q2": ["merge"]}
    got = {(r.query_id, r.doc_id): (r.score, r.rank)
           for r in bm25_scores(df, queries, top_k=3).collect()}

    docs = {i: t.split() for i, t in corpus}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    k1, b = 1.2, 0.75

    def contrib(t, d):
        tf = docs[d].count(t)
        if tf == 0:
            return 0.0
        dfc = sum(1 for dd in docs.values() if t in dd)
        idf = math.log((n - dfc + 0.5) / (dfc + 0.5) + 1.0)
        return idf * (tf * (k1 + 1.0)) / (
            tf + k1 * ((1.0 - b) + b * (len(docs[d]) / avgdl)))

    for qid, terms in queries.items():
        scores = {d: sum(contrib(t, d) for t in terms)
                  for d in docs if any(t in docs[d] for t in terms)}
        want = sorted(scores, key=lambda d: (-round(scores[d], 6), d))[:3]
        for rk, d in enumerate(want, 1):
            assert got[(qid, d)][1] == rk, (qid, d)
            assert abs(got[(qid, d)][0] - scores[d]) < 1e-6


def test_bm25_validates(spark):
    from frogocr_spark.operators.textstats import bm25_scores
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bm25_scores(df, {})
    with pytest.raises(ValueError):
        bm25_scores(df, {"q": []})


# ------------------------------------------------------------- dwell time
def test_dwell_time_hand_case(spark):
    from frogocr_spark.operators.analytics import dwell_time
    # user u: A for [0, 10), B for [10, 30), open A capped at max=40
    rows = [("u", _ts(0), 1, "A"), ("u", _ts(10), 2, "B"),
            ("u", _ts(30), 3, "A"), ("u", _ts(40), 4, "A")]
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id long, "
              "event_type string")
    got = {r.attr: (r.n_versions, r.n_open, r.dwell_us)
           for r in dwell_time(df, "user_id", "event_type").collect()}
    assert got == {"A": (2, 1, 20), "B": (1, 0, 20)}
    with pytest.raises(ValueError):
        dwell_time(spark.createDataFrame(
            [], "user_id string, ts timestamp, event_id long, "
                "event_type string"), "user_id", "event_type")


# --------------------------------------------------------------- disorder
def test_disorder_stats_hand_case(spark):
    from frogocr_spark.operators.analytics import disorder_stats
    # arrival order 1..4; event times 100, 50, 120, 119:
    # e2 late by 50, e4 late by 1; in-order stream -> 0 late
    rows = [("u", _ts(100), 1), ("u", _ts(50), 2),
            ("u", _ts(120), 3), ("u", _ts(119), 4),
            ("v", _ts(1), 5), ("v", _ts(2), 6)]
    df = spark.createDataFrame(rows,
                               "u string, ts timestamp, event_id long")
    got = {r.u: (r.n_events, r.n_late, r.max_lateness_us)
           for r in disorder_stats(df, "u").collect()}
    assert got == {"u": (4, 2, 50), "v": (2, 0, 0)}


# --------------------------------------------------------------- sparse
def test_sparse_dot_matches_dense_on_kept_components(spark):
    from frogocr_spark.operators.similarity import (sparse_dot_topk,
                                                    sparsify)
    vecs = [(0, [0.5, 0.0, -0.4]), (1, [0.5, 0.9, 0.0]),
            (2, [-0.5, 0.0, 0.4]), (3, [0.0, 0.01, 0.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    sp = sparsify(df, min_abs=2000)       # keeps |x| >= 0.2
    out = {(r.query_id, r.doc_id): (r.sdot, r.rank)
           for r in sparse_dot_topk(sp, sp.where("_id = 0"),
                                    top_k=3).collect()}
    # q0 = (5000, -, -4000): dot v1 = 5000*5000 = 25e6;
    # v2 = -5000*5000 + (-4000*4000) = -41e6; v3: no shared idx -> absent
    assert out == {(0, 1): (25_000_000, 1), (0, 2): (-41_000_000, 2)}


# --------------------------------------------------------------------- RFM
def test_rfm_segments_hand_case(spark):
    from frogocr_spark.operators.analytics import rfm_segments
    # 3 users, clearly separated on every dimension:
    # u1: recent, frequent, big; u3: stale, rare, small
    rows = ([("u1", _ts(100), 1, 300), ("u1", _ts(90), 2, 300),
             ("u1", _ts(80), 3, 300)]
            + [("u2", _ts(50), 4, 20), ("u2", _ts(40), 5, 20)]
            + [("u3", _ts(10), 6, 1)])
    df = spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id long, v long")
    got = {r.segment: r.n_users
           for r in rfm_segments(df, "user_id", F.col("v")).collect()}
    # ascending metric buckets: u1 has SMALLEST recency gap (score 1),
    # biggest f and m (score 3) -> '1-3-3'; u3 the reverse -> '3-1-1'
    assert got == {"1-3-3": 1, "2-2-2": 1, "3-1-1": 1}
    with pytest.raises(ValueError):
        rfm_segments(df, "user_id", F.col("v"), n_buckets=1)


def test_iqr_outliers_hand_case(spark):
    from frogocr_spark.operators.analytics import iqr_outliers
    # 1..8 plus spikes -100 and 200; n=10: p25 = rank 3, p75 = rank 8
    vals = [1, 2, 3, 4, 5, 6, 7, 8, -100, 200]
    rows = [("g", i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, event_id long, v long")
    out = iqr_outliers(df, "g", F.col("v")).collect()[0]
    # sorted: -100,1..8,200 -> p25 = 2, p75 = 7, IQR = 5
    # fences: 2*v < 4-15=-11 -> v < -5.5 (only -100); 2*v > 14+15=29
    # -> v > 14.5 (only 200)
    assert (out.p25, out.p75, out.n_low, out.n_high) == (2, 7, 1, 1)
