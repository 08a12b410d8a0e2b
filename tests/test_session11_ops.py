"""Sorted-neighborhood blocking and positional phrase search —
hand-computed cases and pure-Python twins (the contract queries carry
the DuckDB hash checks; these pin semantics on adversarial edges)."""

from __future__ import annotations

import pytest

from frogocr_spark.operators.dedup import snm_candidates
from frogocr_spark.operators.textstats import phrase_search


# ------------------------------------------------------------------- snm
def test_snm_candidates_hand_case(spark):
    # keys sort as: a(1), b(2), c(3), d(4) -> with window 2 the pairs
    # are exactly those with rank distance 1 or 2.
    rows = [(10, "a"), (20, "b"), (30, "c"), (40, "d")]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    got = {(r.id_a, r.id_b): r.gap
           for r in snm_candidates(df, "k", 2).collect()}
    assert got == {(10, 20): 1, (10, 30): 2, (20, 30): 1,
                   (20, 40): 2, (30, 40): 1}


def test_snm_candidates_ties_and_bands(spark):
    # equal keys break ties by doc_id; window 1 = adjacent ranks only,
    # including across the band boundary (rank 1|2, 2|3, ...).
    rows = [(i, "same") for i in (5, 1, 9, 3)]
    df = spark.createDataFrame(rows, "doc_id long, k string")
    got = {(r.id_a, r.id_b) for r in
           snm_candidates(df, "k", 1).collect()}
    assert got == {(1, 3), (3, 5), (5, 9)}


def test_snm_window_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, k string")
    with pytest.raises(ValueError):
        snm_candidates(df, "k", 0)


# ---------------------------------------------------------- phrase search
def test_phrase_search_adjacency_and_overlap(spark):
    rows = [(1, "a b a b a"),     # "a b" twice, "b a" twice
            (2, "a x b"),         # neither phrase
            (3, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.phrase, r.doc_id): r.n_matches
           for r in phrase_search(df, ["a b", "b a"]).collect()}
    assert got == {("a b", 1): 2, ("b a", 1): 2, ("a b", 3): 1}


def test_phrase_search_repeated_term_phrase(spark):
    rows = [(1, "x x x"), (2, "x y x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.phrase, r.doc_id): r.n_matches
           for r in phrase_search(df, ["x x"]).collect()}
    assert got == {("x x", 1): 2}


def test_phrase_search_empty_vocab_raises(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        phrase_search(df, [" "])
