"""Session 31 operators: the near-dup, split and MinHash pieces of the
split-leakage and estimator-calibration audits, IR metrics and the
Gram matrix — hand-constructed corpora with known pair sets."""

from __future__ import annotations

import hashlib


def _split_of(doc_id: int) -> str:
    p = hashlib.md5(str(doc_id).encode()).hexdigest()[:2]
    return "train" if p < "e6" else ("val" if p < "f3" else "test")


def _pick_id(split: str, start: int = 0) -> int:
    i = start
    while _split_of(i) != split:
        i += 1
    return i


def test_split_leak_near_hand_case(spark):
    # identical texts => simhash hamming 0 pairs; disjoint vocabularies
    # between the groups keep the fingerprints far apart (no spurious
    # pairs).  One pair crosses train/test, one sits inside train.
    from frogocr_spark.operators.dedup import simhash_near_pairs
    from frogocr_spark.operators.textstats import hash_split
    a = _pick_id("train")
    b = _pick_id("test")
    c = _pick_id("train", a + 1)
    d = _pick_id("train", c + 1)
    e = _pick_id("train", d + 1)
    t1 = "alpha beta gamma delta epsilon zeta eta theta"
    t2 = "one two three four five six seven eight"
    t3 = "red green blue cyan magenta yellow black white"
    rows = [(a, t1), (b, t1), (c, t2), (d, t2), (e, t3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in
             simhash_near_pairs(df, "doc_id", "text",
                                max_hamming=3).collect()}
    assert pairs == {(min(a, b), max(a, b)), (min(c, d), max(c, d))}
    splits = {r.doc_id: r.split for r in hash_split(df).collect()}
    assert splits == {i: _split_of(i) for i in (a, b, c, d, e)}
    combos = sorted(tuple(sorted((splits[x], splits[y])))
                    for x, y in pairs)
    assert combos == [("test", "train"), ("train", "train")]


def test_minhash_err_identical_pair_zero_error(spark):
    # two identical docs: every minhash component matches (est = 1.0)
    # and the true word-set Jaccard is 1.0 — calibration error exactly
    # 0; the third doc's vocabulary is disjoint so it never becomes a
    # candidate (no band bucket can collide through shared min tokens).
    from frogocr_spark.operators.dedup import minhash_lsh_pairs
    texts = {2: "alpha beta gamma delta epsilon zeta eta theta",
             3: "alpha beta gamma delta epsilon zeta eta theta",
             4: "one two three four five six seven eight"}
    df = spark.createDataFrame(sorted(texts.items()),
                               "doc_id long, text string")
    got = minhash_lsh_pairs(df, "doc_id", "text", num_hashes=32, bands=4,
                            threshold=0.5, hash_fn="md5").collect()
    assert [(r.id_a, r.id_b) for r in got] == [(2, 3)]
    wa, wb = (set(texts[i].split()) for i in (2, 3))
    true_jaccard = len(wa & wb) / len(wa | wb)
    assert got[0].est_jaccard == true_jaccard == 1.0


def test_gram_matrix_python_twin(spark):
    # textbook numpy X'X on the same floor(v*4096) grid must match the
    # distributed matrix-partial-aggregation fold bit for bit,
    # including under repartitioning (order independence of + on int64)
    import numpy as np

    from frogocr_spark.operators.similarity import gram_matrix_int
    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 8).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>").repartition(7)
    got = {(r.i, r.j): r.gram
           for r in gram_matrix_int(df, use_dims=5).collect()}
    q = np.floor(vecs.astype("float64")[:, :5] * 4096).astype(np.int64)
    expect = q.T @ q
    assert len(got) == 15                    # 5*6/2 upper triangle
    for (i, j), v in got.items():
        assert i <= j
        assert v == expect[i][j]


def test_gram_matrix_guards(spark):
    import pytest as _pt

    from frogocr_spark.operators.similarity import gram_matrix_int
    df = spark.createDataFrame([(1, [0.1, 0.2])],
                               "vec_id long, embedding array<float>")
    with _pt.raises(ValueError):
        gram_matrix_int(df, use_dims=0)
    with _pt.raises(Exception):              # vector shorter than d
        gram_matrix_int(df, use_dims=5).collect()


def test_average_precision_hand_case(spark):
    # ranked (score DESC, id): 5(+) 4(-) 3(+) 2(-)
    # AP terms: k=1 cp=1 -> 1000000; k=3 cp=2 -> 666666 (truncated)
    # AP = (1000000 + 666666) // 2 = 833333
    from pyspark.sql import functions as F

    from frogocr_spark.operators.analytics import average_precision_exact
    rows = [(1, 5, 1), (2, 4, 0), (3, 3, 1), (4, 2, 0)]
    df = spark.createDataFrame(rows, "id long, s long, y int")
    r = average_precision_exact(df, F.col("s"), F.col("y") == 1,
                                "id").collect()[0]
    assert (r.n, r.n_pos) == (4, 2)
    assert r.ap_e6 == 833_333


def test_average_precision_ties_and_empty_pos(spark):
    from pyspark.sql import functions as F

    from frogocr_spark.operators.analytics import average_precision_exact
    # tie on score: order falls back to id ASC — positive id=1 ranks
    # first: terms k=1 cp=1 -> 1000000 ; AP = 1000000
    rows = [(1, 7, 1), (2, 7, 0)]
    df = spark.createDataFrame(rows, "id long, s long, y int")
    r = average_precision_exact(df, F.col("s"), F.col("y") == 1,
                                "id").collect()[0]
    assert r.ap_e6 == 1_000_000
    # flipped ids: positive now ranks second -> cp=1 k=2 -> 500000
    rows = [(2, 7, 1), (1, 7, 0)]
    df = spark.createDataFrame(rows, "id long, s long, y int")
    r = average_precision_exact(df, F.col("s"), F.col("y") == 1,
                                "id").collect()[0]
    assert r.ap_e6 == 500_000
    # no positives -> NULL
    rows = [(1, 5, 0), (2, 4, 0)]
    df = spark.createDataFrame(rows, "id long, s long, y int")
    r = average_precision_exact(df, F.col("s"), F.col("y") == 1,
                                "id").collect()[0]
    assert r.ap_e6 is None and r.n_pos == 0


def test_ndcg_discount_tables_recompute():
    # the hardcoded e6 discount constants are floor(1e6/log2(r+1));
    # recompute from libm (the dp_counts table discipline)
    import math

    from frogocr_spark.operators.textstats import (NDCG_DISC_E6,
                                                   NDCG_IDCG_CUM_E6)
    expect = tuple(int(10**6 / math.log2(r + 1)) for r in range(1, 11))
    assert NDCG_DISC_E6 == expect
    acc, cums = 0, []
    for x in expect:
        acc += x
        cums.append(acc)
    assert NDCG_IDCG_CUM_E6 == tuple(cums)


def test_ir_eval_hand_case(spark):
    # corpus: d1 contains both terms (relevant), d2 only one, d3 none.
    # BM25 ranks d1 first for the conjunctive query; MRR = 1.0; with
    # n_rel = 1, NDCG = dcg/idcg = disc[rank of d1]/disc[1]
    from frogocr_spark.operators.textstats import NDCG_DISC_E6, ir_eval
    rows = [(1, "apple banana cherry"),
            (2, "apple date elderberry"),
            (3, "fig grape melon")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.query_id: r for r in
           ir_eval(df, {"q1": ["apple", "banana"],
                        "q2": ["missingword"]}).collect()}
    r1 = got["q1"]
    assert r1.n_rel == 1
    assert r1.hits == 1
    assert r1.rr_e6 == 1_000_000            # d1 must outrank d2
    assert r1.dcg_e6 == NDCG_DISC_E6[0]
    assert r1.idcg_e6 == NDCG_DISC_E6[0]
    assert r1.ndcg_e6 == 1_000_000
    # q2 matches nothing: bm25 emits no rows for it, so it is absent
    # from the report (no run list to evaluate)
    assert "q2" not in got


def test_ir_eval_miss_case(spark):
    # the relevant doc is outranked at top_k=1: 'y' is made cheap
    # (df 9 of 10 docs -> idf ~0.147) while d2's tf=12 on 'x'
    # (idf ~1.48) scores 2.27 vs d1's 1.69 -- the only relevant doc
    # (d1, the sole one containing BOTH terms) misses the 1-row run
    # list, so MRR and NDCG@1 are exactly 0 with n_rel = 1
    from frogocr_spark.operators.textstats import ir_eval
    rows = [(1, "x y"), (2, "x x x x x x x x x x x x")]
    rows += [(i, "y") for i in range(3, 11)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.query_id: r for r in
           ir_eval(df, {"q": ["x", "y"]}, top_k=1).collect()}
    r = got["q"]
    assert r.n_rel == 1
    assert r.hits == 0
    assert r.rr_e6 == 0 and r.dcg_e6 == 0 and r.ndcg_e6 == 0


def test_ir_eval_topk_guard(spark):
    import pytest as _pt

    from frogocr_spark.operators.textstats import ir_eval
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pt.raises(ValueError):
        ir_eval(df, {"q": ["a"]}, top_k=11)
