"""HLL sketch (operators/sketches), inverted index / tf-idf / bigram
LM (operators/textstats), and int8 quantization
(operators/similarity) — differential-tested against pure Python twins
and hand-computed values."""

from __future__ import annotations

import hashlib
import random

import pytest

from frogocr_spark.operators.sketches import (hll_constants, hll_estimate,
                                              hll_estimate_corrected,
                                              hll_registers,
                                              hll_relative_error)


# ---------------------------------------------------------------- HLL

def _py_registers(keys, p=8):
    """Pure-Python twin of hll_registers — same md5/15-hex/bit layout."""
    c = hll_constants(p)
    regs = {}
    for k in keys:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        bucket = h >> c["w"]
        rem = h & c["rem_mask"]
        rho = c["maxrho"] if rem == 0 else c["w"] + 1 - rem.bit_length()
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def _py_reg_sum_scaled(regs, p=8):
    c = hll_constants(p)
    return (sum(1 << (c["maxrho"] - r) for r in regs.values())
            + (c["m"] - len(regs)) * c["empty_term"])


def test_hll_registers_bit_for_bit(spark):
    """Spark registers == the pure-Python md5 twin, exactly."""
    keys = [f"user-{i}" for i in range(500)] * 3  # duplicates are free
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {r["bucket"]: r["reg"]
           for r in hll_registers(df, [], "k", p=8).collect()}
    assert got == _py_registers(keys)


def test_hll_estimate_matches_python_twin_and_bound(spark):
    n = 5000
    df = spark.createDataFrame([(i % n,) for i in range(2 * n)], "k long")
    row = hll_estimate(df, [], "k", p=8).collect()[0]
    # exact integer register sum == Python twin (keys hash as str(int))
    regs = _py_registers([i for i in range(n)])
    assert row["reg_sum_scaled"] == _py_reg_sum_scaled(regs)
    # accuracy: within 4 standard errors of the true cardinality
    err = abs(row["hll_est"] - n) / n
    assert err < 4 * hll_relative_error(8), (row["hll_est"], n)


def test_hll_merge_is_register_max(spark):
    """Union sketch == element-wise max of part sketches (the property
    that makes the partial aggregation correct)."""
    a = [f"a{i}" for i in range(300)]
    b = [f"b{i}" for i in range(300)] + a[:100]
    ra, rb = _py_registers(a), _py_registers(b)
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    df = spark.createDataFrame([(k,) for k in set(a) | set(b)], "k string")
    got = {r["bucket"]: r["reg"]
           for r in hll_registers(df, [], "k", p=8).collect()}
    assert got == merged


def test_hll_grouped_and_partitioning_invariant(spark):
    rows = [(f"g{i % 3}", f"k{i % 97}") for i in range(1000)]
    df = spark.createDataFrame(rows, "g string, k string")
    out1 = {r["g"]: (r["reg_sum_scaled"], r["hll_est"])
            for r in hll_estimate(df, ["g"], "k", p=8).collect()}
    out2 = {r["g"]: (r["reg_sum_scaled"], r["hll_est"])
            for r in hll_estimate(df.repartition(7), ["g"], "k",
                                  p=8).collect()}
    assert out1 == out2 and len(out1) == 3


def test_hll_corrected_small_range(spark):
    """Linear counting beats the raw estimator at tiny cardinality."""
    n = 40  # << m = 256: raw HLL is biased here, LC is near-exact
    df = spark.createDataFrame([(i,) for i in range(n)], "k long")
    row = hll_estimate_corrected(df, [], "k", p=8).collect()[0]
    assert abs(row["hll_est_corrected"] - n) <= abs(row["hll_est"] - n)
    assert abs(row["hll_est_corrected"] - n) / n < 0.1


def test_hll_p_validation():
    with pytest.raises(ValueError):
        hll_constants(5)
    with pytest.raises(ValueError):
        hll_constants(17)


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
