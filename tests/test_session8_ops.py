"""Session-8 operators: SCD2 history, OHLC bars, LOCF gap fill.

Hand-computed small cases + structural checks; the DuckDB contract
twins (scd2_build / ohlc_bars / gap_fill) carry the at-scale value
verification.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from frogocr_spark.operators.analytics import (gap_fill_locf, ohlc_bars,
                                               scd2_history)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    """rows: (event_id, user_id, event_type, value, seconds_offset)."""
    return spark.createDataFrame(
        [(eid, T0 + dt.timedelta(seconds=s), uid, et, v)
         for (eid, uid, et, v, s) in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double")


# ---------------------------------------------------------------- scd2

def test_scd2_compresses_repeats_and_versions(spark):
    ev = _ev(spark, [
        (1, 7, "A", 0.0, 0),
        (2, 7, "A", 0.0, 10),     # repeat — no new version
        (3, 7, "B", 0.0, 20),     # change -> v2
        (4, 7, "A", 0.0, 30),     # change back -> v3 (A appears twice)
        (5, 8, "X", 0.0, 5),
    ])
    got = {(r.user_id, r.version): r
           for r in scd2_history(ev, "user_id", "event_type").collect()}
    us = lambda s: int((T0 + dt.timedelta(seconds=s)
                        - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    assert len(got) == 4
    v1, v2, v3 = got[(7, 1)], got[(7, 2)], got[(7, 3)]
    assert (v1.attr, v1.valid_from_us, v1.valid_to_us) == ("A", us(0), us(20))
    assert (v2.attr, v2.valid_from_us, v2.valid_to_us) == ("B", us(20), us(30))
    assert (v3.attr, v3.valid_from_us, v3.valid_to_us) == ("A", us(30), None)
    assert v3.is_current and not v1.is_current and not v2.is_current
    assert got[(8, 1)].is_current


def test_scd2_equal_ts_tiebreak_on_id(spark):
    # two changes at the SAME timestamp: event_id order decides the
    # version sequence deterministically
    ev = _ev(spark, [(2, 7, "B", 0.0, 0), (1, 7, "A", 0.0, 0)])
    got = sorted(scd2_history(ev, "user_id", "event_type").collect(),
                 key=lambda r: r.version)
    assert [r.attr for r in got] == ["A", "B"]
    assert got[0].valid_to_us == got[1].valid_from_us


# ---------------------------------------------------------------- ohlc

def test_ohlc_hand_computed(spark):
    ev = _ev(spark, [
        (1, 7, "m", 10.0, 0),
        (2, 7, "m", 99.0, 60),
        (3, 7, "m", 1.0, 120),
        (4, 7, "m", 50.0, 180),
        (5, 7, "m", 7.0, 3700),   # second hour
    ])
    got = {r.bucket: r for r in ohlc_bars(ev, "event_type").collect()}
    b0 = min(got)
    first, second = got[b0], got[b0 + 1]
    assert (first.open, first.high, first.low, first.close) == \
        (10.0, 99.0, 1.0, 50.0)
    assert first.n_events == 4 and first.vol_cents == 16000
    assert (second.open, second.close, second.n_events) == (7.0, 7.0, 1)


def test_ohlc_equal_ts_tiebreak_on_id(spark):
    # all events at the same instant: open = lowest event_id's value,
    # close = highest event_id's value
    ev = _ev(spark, [(3, 7, "m", 30.0, 0), (1, 7, "m", 10.0, 0),
                     (2, 7, "m", 20.0, 0)])
    row = ohlc_bars(ev, "event_type").collect()[0]
    assert (row.open, row.close) == (10.0, 30.0)


# ------------------------------------------------------------- gapfill

def test_gap_fill_locf_hand_computed(spark):
    # observations in hours 0, 1, 4 -> grid 0..4, hours 2-3 carry hour
    # 1's value
    ev = _ev(spark, [
        (1, 7, "m", 1.0, 0),
        (2, 7, "m", 2.5, 3600),
        (3, 7, "m", 9.0, 4 * 3600),
        (4, 7, "m", 3.0, 3600 + 60),   # same hour as #2: max cents wins
    ])
    rows = sorted(gap_fill_locf(ev, "user_id").collect(),
                  key=lambda r: r.bucket)
    assert len(rows) == 5
    assert [r.is_gap for r in rows] == [False, False, True, True, False]
    assert [r.filled_cents for r in rows] == [100, 300, 300, 300, 900]
    assert [r.v_cents for r in rows] == [100, 300, None, None, 900]


def test_gap_fill_no_gaps_and_single_obs(spark):
    ev = _ev(spark, [(1, 7, "m", 1.0, 0), (2, 8, "m", 5.0, 7200)])
    rows = gap_fill_locf(ev, "user_id").collect()
    # each user has exactly one observed bucket -> one grid row, no gap
    assert len(rows) == 2 and not any(r.is_gap for r in rows)


# ------------------------------------------------------------------ pq

def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_pq_fit_validates_and_shapes(spark):
    from frogocr_spark.operators.similarity import pq_fit
    v = _vecs(spark, [(i, [float(i), 0.0, 1.0, 2.0]) for i in range(6)])
    cents = pq_fit(v, m=2, ksub=4)
    assert len(cents) == 2 and len(cents[0]) == 4 and len(cents[0][0]) == 2
    with pytest.raises(ValueError, match="not divisible"):
        pq_fit(v, m=3, ksub=4)
    with pytest.raises(ValueError, match="ksub"):
        pq_fit(v, m=2, ksub=1)
    with pytest.raises(ValueError, match="rows < ksub"):
        pq_fit(v.limit(2), m=2, ksub=4)


def test_pq_codes_picks_nearest_centroid_per_subspace(spark):
    from frogocr_spark.operators.similarity import pq_codes
    # explicit codebooks: subspace 0 centroids at x=0 and x=10;
    # subspace 1 centroids at y=0 and y=100
    cents = [[[0.0, 0.0], [10.0, 10.0]], [[0.0, 0.0], [100.0, 100.0]]]
    v = _vecs(spark, [
        (1, [1.0, 1.0, 2.0, 2.0]),      # near c0 in both
        (2, [9.0, 9.0, 99.0, 99.0]),    # near c1 in both
        (3, [8.0, 8.0, 3.0, 3.0]),      # near c1 then c0
    ])
    got = {r.vec_id: (r.code_0, r.code_1)
           for r in pq_codes(v, cents).collect()}
    assert got == {1: (0, 0), 2: (1, 1), 3: (1, 0)}


def test_pq_codes_tie_breaks_to_smaller_code(spark):
    from frogocr_spark.operators.similarity import pq_codes
    cents = [[[0.0], [2.0]]]
    v = _vecs(spark, [(1, [1.0])])          # exactly between both
    assert pq_codes(v, cents).collect()[0].code_0 == 0


def test_pq_adc_hand_computed(spark):
    from frogocr_spark.operators.similarity import pq_adc_topk, pq_codes
    cents = [[[0.0], [10.0]], [[0.0], [10.0]]]
    v = _vecs(spark, [(1, [0.0, 0.0]), (2, [10.0, 0.0]),
                      (3, [10.0, 10.0])])
    codes = pq_codes(v, cents)
    q = spark.createDataFrame([(99, [0.0, 0.0])],
                              "query_id long, embedding array<float>")
    rows = sorted(pq_adc_topk(codes, cents, q, k=3).collect(),
                  key=lambda r: r.rank)
    # ADC dist = sum of query->centroid[code] per subspace, in 1e-4 units
    assert [(r.neighbor_id, r.adc_dist_i) for r in rows] == \
        [(1, 0), (2, 100000), (3, 200000)]
    with pytest.raises(ValueError, match="empty query"):
        pq_adc_topk(codes, cents, q.where("query_id < 0"), k=3)


def test_pq_adc_ranks_full_corpus_without_joining_it(spark):
    from frogocr_spark.operators.similarity import (pq_adc_topk, pq_codes,
                                                    pq_fit)
    v = _vecs(spark, [(i, [float((i * 7) % 13), float((i * 3) % 5),
                           float(i % 4), float((i * 11) % 9)])
                      for i in range(40)])
    cents = pq_fit(v, m=2, ksub=4)
    codes = pq_codes(v, cents)
    q = v.limit(2).select(F.col("vec_id").alias("query_id"), "embedding")
    out = pq_adc_topk(codes, cents, q, k=5)
    rows = out.collect()
    assert len(rows) == 10                     # 2 queries x top-5
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan                  # table lookups, not a join


# -------------------------------------------------------------- markov

def test_markov_transitions_hand_computed(spark):
    from frogocr_spark.operators.analytics import markov_transitions
    ev = _ev(spark, [
        (1, 7, "A", 0.0, 0), (2, 7, "B", 0.0, 10), (3, 7, "A", 0.0, 20),
        (4, 7, "B", 0.0, 30),          # user 7: A->B, B->A, A->B
        (5, 8, "A", 0.0, 0), (6, 8, "B", 0.0, 10),   # user 8: A->B
        (7, 9, "C", 0.0, 0),           # singleton: no transition
    ])
    got = {(r.from_state, r.to_state): (r.n, r.n_from)
           for r in markov_transitions(ev, "user_id",
                                       "event_type").collect()}
    assert got == {("A", "B"): (3, 3), ("B", "A"): (1, 1)}


def test_markov_equal_ts_tiebreak(spark):
    from frogocr_spark.operators.analytics import markov_transitions
    # same-instant events ordered by event_id: A(1) -> B(2)
    ev = _ev(spark, [(2, 7, "B", 0.0, 0), (1, 7, "A", 0.0, 0)])
    got = [(r.from_state, r.to_state)
           for r in markov_transitions(ev, "user_id",
                                       "event_type").collect()]
    assert got == [("A", "B")]


# ----------------------------------------------------------- winsorize

def test_winsorize_hand_computed(spark):
    from frogocr_spark.operators.analytics import winsorize_stats
    # 10 values 1..9 plus an outlier 1000 (cents).  Nearest-rank p5 of
    # n=10 -> rank ceil(0.5)=1 -> lo=1; p95 -> rank ceil(9.5)=10 ->
    # hi=1000: nothing clamps at (5,95).  At (10,90): lo=rank1=1,
    # hi=rank9=9 -> the outlier clamps to 9.
    vals = list(range(1, 10)) + [1000]
    ev = _ev(spark, [(i, 7, "m", v / 100.0, i)
                     for i, v in enumerate(vals)])
    r95 = winsorize_stats(ev, "event_type",
                          F.round(F.col("value") * 100, 0)).collect()[0]
    assert (r95.n, r95.lo_cents, r95.hi_cents) == (10, 1, 1000)
    assert r95.winsorized_sum_cents == sum(vals)
    assert (r95.n_lo, r95.n_hi) == (0, 0)
    r90 = winsorize_stats(ev, "event_type",
                          F.round(F.col("value") * 100, 0),
                          p_lo=10, p_hi=90).collect()[0]
    assert (r90.lo_cents, r90.hi_cents) == (1, 9)
    assert r90.winsorized_sum_cents == sum(range(1, 10)) + 9
    assert (r90.n_lo, r90.n_hi) == (0, 1)
    with pytest.raises(ValueError, match="p_lo < p_hi"):
        winsorize_stats(ev, "event_type", F.col("value"), p_lo=95, p_hi=5)


# ---------------------------------------------------------- range frame

def test_range_frame_includes_all_equal_ts_peers(spark):
    """RANGE frames include every equal-ORDER-KEY peer on both sides —
    the determinism property row frames lack under ties."""
    from pyspark.sql import Window
    df = spark.createDataFrame(
        [(1, 7, 1000, 10), (2, 7, 1000, 20), (3, 7, 5000, 30)],
        "event_id long, user_id long, us long, cents long")
    w = (Window.partitionBy("user_id").orderBy("us")
         .rangeBetween(-3000, 0))
    got = {r.event_id: (r.n, r.s) for r in df.select(
        "event_id", F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cents").over(w).alias("s")).collect()}
    # both us=1000 rows see BOTH peers; us=5000 sees only itself
    # (5000-3000 > 1000)
    assert got == {1: (2, 30), 2: (2, 30), 3: (1, 30)}
