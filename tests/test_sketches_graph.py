"""Inverted index / tf-idf / bigram LM (operators/textstats) and int8
quantization (operators/similarity) — differential-tested against
pure Python twins and hand-computed values."""

from __future__ import annotations

import random


# ----------------------------------------------- inverted index / tf-idf

def test_inverted_index_hand_case(spark):
    from frogocr_spark.operators.textstats import inverted_index
    docs = [(1, "x y"), (2, "x z"), (3, "x x y"), (4, "w")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["token"]: (r["df"], list(r["postings"]))
           for r in inverted_index(df, k_postings=2, min_df=2).collect()}
    # w (df=1) dropped; x df=3 but postings capped at the 2 smallest ids
    assert out == {"x": (3, [1, 2]), "y": (2, [1, 3])}


def test_inverted_index_matches_naive_window(spark):
    from frogocr_spark.operators.textstats import inverted_index
    rng = random.Random(3)
    docs = [(i, " ".join(rng.choice("a b c d e f g h".split())
                         for _ in range(20))) for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(9)
    got = {r["token"]: (r["df"], list(r["postings"]))
           for r in inverted_index(df, k_postings=5, min_df=1).collect()}
    # naive twin: full distinct + python
    naive = {}
    for i, t in docs:
        for tok in set(t.split()):
            naive.setdefault(tok, set()).add(i)
    want = {t: (len(ids), sorted(ids)[:5]) for t, ids in naive.items()}
    assert got == want


def test_tfidf_hand_case(spark):
    from frogocr_spark.operators.textstats import tfidf_top_terms
    # N=3 docs; "rare" only in doc 1 (df=1), "common" in all (df=3)
    docs = [(1, "rare common common"), (2, "common"), (3, "common mid"),
            ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r["doc_id"], r["rank"]): (r["term"], r["tf"], r["t_df"],
                                      r["score"])
           for r in tfidf_top_terms(df, k=2).collect()}
    # doc1: rare tf=1 df=1 -> 3.0 ; common tf=2 df=3 -> 2.0
    assert out[(1, 1)] == ("rare", 1, 1, 3.0)
    assert out[(1, 2)] == ("common", 2, 3, 2.0)
    # doc3: mid tf=1 df=1 -> 3.0 beats common 1.0
    assert out[(3, 1)] == ("mid", 1, 1, 3.0)


def test_bigram_lm_hand_case(spark):
    from frogocr_spark.operators.textstats import bigram_top_continuations
    docs = [(1, "a b a b a c"), (2, "a b")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r["head"], r["rank"]): (r["cont"], r["pair_n"], r["head_n"],
                                    r["p_cont"])
           for r in bigram_top_continuations(df, k=2).collect()}
    # head 'a': a->b 3x, a->c 1x, head_n = 4
    assert out[("a", 1)] == ("b", 3, 4, 0.75)
    assert out[("a", 2)] == ("c", 1, 4, 0.25)
    # head 'b': b->a 2x, head_n = 2
    assert out[("b", 1)] == ("a", 2, 2, 1.0)


# --------------------------------------------------- int8 quantization

def test_quantize_roundtrip_error_bound(spark):
    from frogocr_spark.operators.similarity import quantize_minmax_int8
    rng = random.Random(11)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(16)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = quantize_minmax_int8(df).collect()
    orig = {i: v for i, v in rows}
    for r in out:
        lo, hi, q = r["lo"], r["hi"], r["qvec"]
        assert all(-128 <= x <= 127 for x in q)
        step = (hi - lo) / 255.0
        for x, qi in zip(orig[r["vec_id"]], q):
            deq = lo + (qi + 128) * step
            # float32 storage of x adds <= 1e-7 relative wobble
            assert abs(deq - x) <= step / 2 + 1e-6


def test_quantize_constant_and_extremes(spark):
    from frogocr_spark.operators.similarity import quantize_minmax_int8
    rows = [(1, [3.5, 3.5, 3.5]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: list(r["qvec"]) for r in
           quantize_minmax_int8(df).collect()}
    assert out[1] == [0, 0, 0]          # constant vector
    assert out[2] == [-128, 127]        # min -> -128, max -> 127
