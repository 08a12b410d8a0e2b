"""Winnowing fingerprints, the ML-prep module (feature hashing / NB
training), truncated EWMA, Benford audit, and session paths —
hand-computed cases and pure-Python twins (the contract queries carry
the DuckDB hash checks; these pin semantics on adversarial edges)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from frogocr_spark.operators.analytics import (benford_digits,
                                               ewma_trunc,
                                               session_paths)
from frogocr_spark.operators.ml import feature_hash, nb_train
from frogocr_spark.operators.textstats import winnowing_fingerprints


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _h48(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


# ------------------------------------------------------------- winnowing
def test_winnowing_matches_python_twin(spark):
    text = "a b c d e f g h i j k b c d e f"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {(r.fp_hash, r.pos) for r in
           winnowing_fingerprints(df, ngram=3, window=4).collect()}
    toks = text.split()
    grams = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
    comb = [(_h48(g) << 15) + i for i, g in enumerate(grams)]
    want = set()
    for s in range(len(comb) - 4 + 1):
        m = min(comb[s:s + 4])
        want.add((m >> 15, m & 0x7FFF))
    assert got == want


def test_winnowing_shared_substring_guarantee(spark):
    # two docs sharing a run of window+ngram-1 = 6 tokens must share
    # at least one fingerprint hash (the MOSS guarantee).
    shared = "q w e r t y"
    df = spark.createDataFrame(
        [(1, "a b c " + shared + " z z2"),
         (2, shared + " m n o p")],
        "doc_id long, text string")
    rows = winnowing_fingerprints(df, ngram=3, window=4).collect()
    h1 = {r.fp_hash for r in rows if r.doc_id == 1}
    h2 = {r.fp_hash for r in rows if r.doc_id == 2}
    assert h1 & h2


def test_winnowing_short_doc_no_full_window(spark):
    # fewer grams than the window -> no fingerprints (full windows only)
    df = spark.createDataFrame([(1, "a b c d")],
                               "doc_id long, text string")
    assert winnowing_fingerprints(df, ngram=3, window=4).count() == 0


# ------------------------------------------------------------- feat hash
def test_feature_hash_matches_python_twin(spark):
    df = spark.createDataFrame([(1, "x y x z"), (2, "")],
                               "doc_id long, text string")
    got = {(r.doc_id, r.bucket): r.val
           for r in feature_hash(df, n_buckets=8).collect()}
    want: dict = {}
    for tok in ["x", "y", "x", "z"]:
        h = _h60(tok)
        b, s = h % 8, 1 if (h // 8) % 2 == 0 else -1
        want[(1, b)] = want.get((1, b), 0) + s
    want = {k: v for k, v in want.items() if v != 0}
    assert got == want


def test_feature_hash_validation(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        feature_hash(df, n_buckets=1)


# -------------------------------------------------------------- nb train
def test_nb_train_hand_case(spark):
    rows = [(1, "a a b", "s1"), (2, "a c", "s1"), (3, "b b c", "s2")]
    df = spark.createDataFrame(rows, "doc_id long, text string, "
                                     "source string")
    got = {(r.source, r.token):
           (r.cnt, r.n_class_tokens, r.vocab_size, r.p_e6, r.prior_e6)
           for r in nb_train(df, min_count=2).collect()}
    # vocab (total >= 2): a(3), b(3), c(2) -> V=3
    # s1 tokens in vocab: a=3, c=1 -> n=4 ... wait b appears in s1 once
    # s1: "a a b" + "a c" -> a=3, b=1, c=1 -> n_class_tokens=5
    # s2: b=2, c=1 -> 3
    assert got[("s1", "a")] == (3, 5, 3, (4 * 1000000) // 8,
                                (2 * 1000000) // 3)
    assert got[("s1", "b")] == (1, 5, 3, (2 * 1000000) // 8,
                                (2 * 1000000) // 3)
    assert got[("s2", "b")] == (2, 3, 3, (3 * 1000000) // 6,
                                (1 * 1000000) // 3)
    assert len(got) == 5  # observed (class, vocab-token) pairs only


# ------------------------------------------------------------------ ewma
def test_ewma_trunc_hand_case(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, i, t0 + dt.timedelta(seconds=i), float(v))
            for i, v in enumerate([10, 20, 30])]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    got = {r.event_id: r.ewma
           for r in ewma_trunc(df, "user_id", F.col("value"),
                               k=3).collect()}
    # k=3, weights newest-first 4,2,1
    assert got[0] == 10                      # 4*10 / 4
    assert got[1] == (4 * 20 + 2 * 10) // 6  # 16
    assert got[2] == (4 * 30 + 2 * 20 + 1 * 10) // 7  # 24
    with pytest.raises(ValueError):
        ewma_trunc(df, "user_id", F.col("value"), k=0)


# --------------------------------------------------------------- benford
def test_benford_digits_hand_case(spark):
    vals = [1.5, 19.0, 120.0, 2.0, 9.9]  # digits 1,1,1,2,9
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r.digit: (r.n, r.freq_e6, r.benford_e6, r.delta_e6)
           for r in benford_digits(df, F.col("v")).collect()}
    assert got[1] == (3, 600000, 301030, 298970)
    assert got[2] == (1, 200000, 176091, 23909)
    assert got[9] == (1, 200000, 45757, 154243)


# ----------------------------------------------------------- session paths
def test_session_paths_order_and_ties(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: a,b,c then extra d (ignored at depth 3)
        (1, 1, t0, "a"), (1, 2, t0 + dt.timedelta(1), "b"),
        (1, 3, t0 + dt.timedelta(2), "c"), (1, 4, t0 + dt.timedelta(3), "d"),
        # user 2: same ts for first two -> event_id breaks the tie
        (2, 6, t0, "b"), (2, 5, t0, "a"),
        (2, 7, t0 + dt.timedelta(1), "c"),
        # user 3: short journey
        (3, 8, t0, "z"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, "
              "event_type string")
    got = {r.path: r.n_keys
           for r in session_paths(df, "user_id", "event_type",
                                  depth=3, k=10).collect()}
    assert got == {"a>b>c": 2, "z": 1}


# ---------------------------------------------------- session 13: hilbert
def test_hilbert_spark_matches_python_twin(spark):
    from frogocr_spark.operators.layout import (hilbert_index,
                                                hilbert_index_py)
    rows = [(i, (i * 37) % 16, (i * 11) % 16) for i in range(64)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r.id: r.hval
           for r in hilbert_index(df, "x", "y", bits=4).collect()}
    for i, x, y in rows:
        assert got[i] == hilbert_index_py(x, y, 4), (i, x, y)


def test_hilbert_is_a_continuous_walk():
    # consecutive curve positions are always grid neighbors (L1 = 1) —
    # the locality property Z-order lacks (its diagonal jumps).
    from frogocr_spark.operators.layout import hilbert_index_py
    cells = {hilbert_index_py(x, y, 3): (x, y)
             for x in range(8) for y in range(8)}
    assert sorted(cells) == list(range(64))
    jumps = [abs(cells[d][0] - cells[d + 1][0])
             + abs(cells[d][1] - cells[d + 1][1]) for d in range(63)]
    assert max(jumps) == 1
    # contrast: the Morton curve DOES jump (max L1 > 1)
    from frogocr_spark.operators.layout import zvalue  # noqa: F401
    def z(x, y):
        v = 0
        for i in range(3):
            v |= ((x >> i) & 1) << (2 * i)
            v |= ((y >> i) & 1) << (2 * i + 1)
        return v
    zcells = {z(x, y): (x, y) for x in range(8) for y in range(8)}
    zjumps = [abs(zcells[d][0] - zcells[d + 1][0])
              + abs(zcells[d][1] - zcells[d + 1][1]) for d in range(63)]
    assert max(zjumps) > 1


def test_hilbert_validation(spark):
    from frogocr_spark.operators.layout import hilbert_index
    df = spark.createDataFrame([(1, 0, 0)], "id long, x long, y long")
    import pytest as _pt
    with _pt.raises(ValueError):
        hilbert_index(df, "x", "y", bits=0)


# ------------------------------------------------------ session 13: rake
def test_rake_keywords_hand_case(spark):
    # stopwords "is the" split two runs: "deep learning" (len 2) and
    # "deep learning rocks" (len 3).  deg(deep) = deg(learning) =
    # 2 + 3 = 5 over freq 2 -> 2.5e6 each; deg(rocks) = 3 over freq 1
    # -> 3e6.  Scores: 2-run 5e6, 3-run 8e6.
    df = spark.createDataFrame(
        [(1, "deep learning is the deep learning rocks")],
        "doc_id long, text string")
    from frogocr_spark.operators.textstats import rake_keywords
    got = {r.phrase: (r.n_occ, r.n_words, r.score_e6)
           for r in rake_keywords(df, k=10, max_len=4).collect()}
    assert got == {"deep learning": (1, 2, 5000000),
                   "deep learning rocks": (1, 3, 8000000)}


def test_rake_max_len_cut(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")],
        "doc_id long, text string")
    from frogocr_spark.operators.textstats import rake_keywords
    assert rake_keywords(df, k=10, max_len=4).count() == 0  # run of 5


# ----------------------------------------------- session 13: drift chi2
def test_drift_chi2_hand_case(spark):
    import datetime as dt
    lo, hi = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 10)
    # days 0..9, split at (0+9+1)//2 = 5: early = days 0-4
    rows = []
    for d in range(10):
        t = lo + dt.timedelta(days=d)
        rows.append(("x", t))            # x: 5 early, 5 late
        if d < 5:
            rows.append(("y", t))        # y: 5 early, 0 late
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    from frogocr_spark.operators.analytics import drift_chi2
    got = {r.event_type: (r.n_a, r.n_b, r.chi2_e6)
           for r in drift_chi2(df, "event_type").collect()}
    # NA=10, NB=5; x: a=5,b=5 -> (5*5-5*10)^2*1e6/(10*5*10) = 1.25e6
    # y: a=5,b=0 -> (5*5)^2*1e6/(10*5*5) = 2.5e6
    assert got == {"x": (5, 5, 1250000), "y": (5, 0, 2500000)}


def test_drift_chi2_degenerate_single_day(spark):
    import datetime as dt
    t = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame([("x", t), ("x", t)],
                               "event_type string, ts timestamp")
    from frogocr_spark.operators.analytics import drift_chi2
    row = drift_chi2(df, "event_type").collect()[0]
    # split = day itself -> everything 'late', NA = 0 -> NULL
    assert (row.n_a, row.n_b, row.chi2_e6) == (0, 2, None)


# ------------------------------------------------ session 14: bitmaps etc
def test_activity_bitmap_hand_case(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1, 0, 0)  # epoch-aligned midnight? no —
    # hour-of-day is (epoch_us DIV 3600e6) % 24: 2024-01-01 00:00 UTC is
    # a whole number of days since epoch, so hour-of-day == wall hour.
    rows = [(1, t0.replace(hour=3)), (1, t0.replace(hour=5)),
            (1, t0.replace(hour=3)), (2, t0.replace(hour=0))]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    from frogocr_spark.operators.analytics import activity_bitmap
    got = {r.user_id: (r.hours_mask, r.n_hours)
           for r in activity_bitmap(df, "user_id").collect()}
    assert got == {1: ((1 << 3) | (1 << 5), 2), 2: (1, 1)}


def test_log2_histogram_hand_case(spark):
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 8.0),
            ("a", 0.0), ("b", 1023.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    from frogocr_spark.operators.analytics import log2_histogram
    got = {(r.g, r.bucket): (r.lo, r.hi, r.n)
           for r in log2_histogram(df, "g", F.col("v")).collect()}
    # v=0 dropped (non-positive); 1 -> bucket 0; 2,3 -> bucket 1;
    # 8 -> bucket 3; 1023 -> bucket 9
    assert got == {("a", 0): (1, 1, 1), ("a", 1): (2, 3, 2),
                   ("a", 3): (8, 15, 1), ("b", 9): (512, 1023, 1)}


def test_weighted_median_hand_case(spark):
    # values 1..4 with weights 1,1,5,1: cumw 1,2,7,8; tot 8;
    # first 2*cumw >= 8 at v=3 -> weighted median 3.
    rows = [("g", i, float(v), w) for i, (v, w) in
            enumerate([(1, 1), (2, 1), (3, 5), (4, 1)])]
    df = spark.createDataFrame(
        rows, "g string, event_id long, v double, w long")
    from frogocr_spark.operators.analytics import weighted_median
    r = weighted_median(df, "g", F.col("v"), F.col("w")).collect()[0]
    assert (r.median_v, r.tot_w) == (3, 8)


def test_charclass_stats_hand_case(spark):
    df = spark.createDataFrame([(1, "Ab 9é"), (2, "")],
                               "doc_id long, text string")
    from frogocr_spark.operators.textstats import charclass_stats
    got = {r.doc_id: (r.n_chars, r.n_ascii, r.n_digit, r.n_upper,
                      r.n_space, r.ascii_e6)
           for r in charclass_stats(df).collect()}
    # "Ab 9é": 5 chars, 4 printable-ascii (é excluded), 1 digit,
    # 1 upper, 1 space
    assert got == {1: (5, 4, 1, 1, 1, 800000),
                   2: (0, 0, 0, 0, 0, None)}


# --------------------------------------------------- session 15: twap etc
def test_time_weighted_avg_hand_case(spark):
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    # user 1: v=10 held 2s, v=30 held 1s, last event open (dropped):
    # twap = (10*2 + 30*1) / 3 = 16 (floor of 16.66)
    rows = [(1, 1, t0, 10.0),
            (1, 2, t0 + dt.timedelta(seconds=2), 30.0),
            (1, 3, t0 + dt.timedelta(seconds=3), 99.0),
            (2, 4, t0, 5.0)]  # single event -> NULL twap
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double")
    from frogocr_spark.operators.analytics import time_weighted_avg
    got = {r.user_id: (r.twap, r.total_us)
           for r in time_weighted_avg(df, "user_id",
                                      F.floor(F.col("value"))).collect()}
    assert got == {1: (16, 3_000_000)}  # single-event key 2 absent


def test_largest_remainder_alloc_exact_total(spark):
    # counts 1,1,1 with total 10: quotas 3.33.. -> base 3 each, one
    # extra by key order -> allocs 4,3,3 summing to 10.
    df = spark.createDataFrame([("a", 1), ("b", 1), ("c", 1)],
                               "k string, n long")
    from frogocr_spark.operators.analytics import largest_remainder_alloc
    got = {r.key: r.alloc
           for r in largest_remainder_alloc(df, "k", F.col("n"),
                                            10).collect()}
    assert got == {"a": 4, "b": 3, "c": 3}
    assert sum(got.values()) == 10
    # classic Hamilton case: remainders decide who rounds up
    df2 = spark.createDataFrame([("a", 47), ("b", 33), ("c", 20)],
                                "k string, n long")
    got2 = {r.key: (r.base, r.extra, r.alloc)
            for r in largest_remainder_alloc(df2, "k", F.col("n"),
                                             10).collect()}
    # quotas 4.7, 3.3, 2.0 -> bases 4,3,2 (sum 9), extra to 'a' (.7)
    assert got2 == {"a": (4, 1, 5), "b": (3, 0, 3), "c": (2, 0, 2)}
    with pytest.raises(ValueError):
        largest_remainder_alloc(df, "k", F.col("n"), -1)


def test_sentence_stats_hand_case(spark):
    rows = [(1, "one two. three!  four five six? "), (2, "..."), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from frogocr_spark.operators.textstats import sentence_stats
    got = {r.doc_id: (r.n_sentences, r.n_tokens, r.max_tokens,
                      r.avg_tokens_e6)
           for r in sentence_stats(df).collect()}
    assert got[1] == (3, 6, 3, 2000000)
    assert got[2] == (0, 0, 0, None)
    assert got[3] == (0, 0, 0, None)


# ---------------------------------------------- session 16: stats/sketch
def test_mannwhitney_hand_case(spark):
    # A = {1,2,3}, B = {10,20,30}: complete separation -> R_A = 1+2+3,
    # U = 6 - 6 = 0, u2 = 0.  z2 = (0 - 9)^2*3/(9*7) = 243/63 = 3.857
    # -> NOT significant at 3.8416?  3.857 > 3.8416 -> significant.
    a = spark.createDataFrame([(i, float(v)) for i, v in
                               enumerate([1, 2, 3])],
                              "event_id long, v double")
    b = spark.createDataFrame([(i + 10, float(v)) for i, v in
                               enumerate([10, 20, 30])],
                              "event_id long, v double")
    from frogocr_spark.operators.analytics import mannwhitney_u
    r = mannwhitney_u(a, b, F.col("v"), "event_id").collect()[0]
    assert (r.n_a, r.n_b, r.u2) == (3, 3, 0)
    assert r.z2_e6 == (81 * 3 * 1000000) // 63  # 3857142
    assert bool(r.significant) is True


def test_mannwhitney_identical_samples(spark):
    # identical values: deterministic rank tie-break by (sample, id);
    # A gets ranks 1..3, B gets 4..6 -> same u2=0 BUT that is the tie
    # -policy artifact, documented; just pin determinism across runs.
    a = spark.createDataFrame([(i, 5.0) for i in range(3)],
                              "event_id long, v double")
    from frogocr_spark.operators.analytics import mannwhitney_u
    r1 = mannwhitney_u(a, a, F.col("v"), "event_id").collect()[0]
    r2 = mannwhitney_u(a, a, F.col("v"), "event_id").collect()[0]
    assert (r1.u2, r1.significant) == (r2.u2, r2.significant)


def test_nullsafe_join_keeps_null_bucket(spark):
    df1 = spark.createDataFrame([(None,), (1,)], "k int")
    df2 = spark.createDataFrame([(None,), (2,)], "k int")
    plain = df1.join(df2, df1["k"] == df2["k"]).count()
    safe = df1.join(df2, df1["k"].eqNullSafe(df2["k"])).count()
    assert plain == 0 and safe == 1


# ---- session 18: HHI, readability, kNN classify ------------------------


def test_hhi_monopoly_and_even_split(spark):
    from frogocr_spark.operators.analytics import hhi_concentration
    rows = [("mono", "e1", 100),
            ("even", "a", 25), ("even", "b", 25),
            ("even", "c", 25), ("even", "d", 25),
            ("zero", "x", 0)]
    df = spark.createDataFrame(rows, "grp string, ent string, v long")
    got = {r.grp: (r.n_entities, r.total, r.hhi_e8)
           for r in hhi_concentration(df, "grp", "v").collect()}
    assert got["mono"] == (1, 100, 100_000_000)
    assert got["even"] == (4, 100, 25_000_000)
    assert "zero" not in got  # zero-total group dropped


def test_hhi_truncating_division(spark):
    from frogocr_spark.operators.analytics import hhi_concentration
    # shares 2/3, 1/3: HHI = (4+1)/9 = 0.5555... -> 55555555 truncated
    df = spark.createDataFrame([("g", 2), ("g", 1)], "grp string, v long")
    [r] = hhi_concentration(df, "grp", "v").collect()
    assert r.hhi_e8 == 55_555_555


def test_flesch_hand_case(spark):
    from frogocr_spark.operators.textstats import flesch_stats
    # "the cat sat. it ran!" -> W=5, S=2, syll: the=1 cat=1 sat.=1
    # it=1 ran!=1 -> 5  (punctuation carries no vowels)
    df = spark.createDataFrame([(1, "the cat sat. it ran!"),
                                (2, ""), (3, "xyz")],
                               "doc_id long, text string")
    got = {r.doc_id: r for r in flesch_stats(df).collect()}
    r = got[1]
    assert (r.n_words, r.n_sentences, r.n_syllables) == (5, 2, 5)
    # 206835 - (1015*5) DIV 2 - (84600*5) DIV 5
    assert r.flesch_e3 == 206835 - (1015 * 5) // 2 - 84600
    assert got[2].flesch_e3 is None and got[2].n_words == 0
    # "xyz": one word, vowel-less (y IS a vowel here -> 1 syllable)
    assert got[3].n_syllables == 1 and got[3].n_sentences == 1


def test_knn_classify_majority_and_tiebreak(spark):
    from frogocr_spark.operators.ml import knn_classify
    # 1-D embeddings on a line: query at 1.0, neighbors cluster around
    # it; cosine of 1-D positive vectors is always 1.0 so ranking falls
    # to the id tie-break -> neighbors are ids 1..k in order.
    rows = [(0, [1.0, 0.0], 7)]
    rows += [(i, [1.0, float(i) / 100.0], 1 if i <= 3 else 2)
             for i in range(1, 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = knn_classify(df, df.where("vec_id = 0"), k=5,
                       rank_round=None).collect()
    [r] = out
    # top-5 by exact cosine: ids 1..5 (closest angles), labels 1,1,1,2,2
    assert r.pred_label == 1 and r.n_votes == 3
    assert r.true_label == 7 and r.hit == 0


def test_geohash_canonical_vector(spark):
    # the classic geohash example: (57.64911, 10.40744) -> u4pruydq
    from frogocr_spark.operators.layout import (geohash_encode_sql,
                                                geohash_quant_sql)
    from pyspark.sql import functions as F
    latq = geohash_quant_sql("57.64911", 20, True)
    lonq = geohash_quant_sql("10.40744", 20, False)
    [r] = spark.range(1).select(
        F.expr(geohash_encode_sql(latq, lonq, 8)).alias("gh")).collect()
    assert r.gh == "u4pruydq"
    import duckdb
    assert duckdb.sql(
        "SELECT " + geohash_encode_sql(latq, lonq, 8)).fetchone()[0] \
        == "u4pruydq"


def test_geohash_prefix_is_containment(spark):
    # nearby points share prefixes; antipodal points do not
    from pyspark.sql import functions as F
    from frogocr_spark.operators.layout import (geohash_encode_sql,
                                                geohash_quant_sql)

    def gh(lat, lon):
        latq = geohash_quant_sql(str(lat), 20, True)
        lonq = geohash_quant_sql(str(lon), 20, False)
        return spark.range(1).select(F.expr(
            geohash_encode_sql(latq, lonq, 8)).alias("g")).first().g

    a, b = gh(57.64911, 10.40744), gh(57.649, 10.407)
    far = gh(-57.0, -170.0)
    assert a[:5] == b[:5] and a[:2] != far[:2]


def test_geohash_validates_chars():
    import pytest
    from frogocr_spark.operators.layout import geohash_interleave_sql
    for bad in (3, 0, 14):
        with pytest.raises(ValueError):
            geohash_interleave_sql("x", "y", bad)


def test_zipf_fit_negative_slope_on_zipfian_tokens(spark):
    from pyspark.sql import functions as F
    from frogocr_spark.operators.analytics import ols_fit
    # token i appears ~N/i times -> log-log slope near -1
    rows = []
    for i in range(1, 33):
        rows += [(f"t{i}",)] * (256 // i)
    freq = (spark.createDataFrame(rows, "token string")
            .groupBy("token").agg(F.count(F.lit(1)).alias("f")))
    from frogocr_spark.operators.ranking import global_rank
    ranked = global_rank(freq.withColumn("negf", -F.col("f")),
                         ["negf", "token"], rank_col="r")
    b = ranked.select(F.lit("all").alias("grp"),
                      (F.length(F.expr("bin(r)")) - 1).alias("x"),
                      (F.length(F.expr("bin(f)")) - 1).alias("y"))
    [row] = ols_fit(b, F.col("x"), F.col("y"), "grp").collect()
    assert row.slope is not None and -1.5 < row.slope < -0.5


    #                        the first code's duplicate), then R=6


def test_classification_report_hand_case(spark):
    from frogocr_spark.operators.ml import classification_report
    rows = [(1, 1), (1, 1), (1, 2), (2, 1), (3, 3)]
    df = spark.createDataFrame(rows, "true_label long, pred_label long")
    got = {r.label: (r.n_true, r.n_pred, r.n_correct,
                     r.precision_e6, r.recall_e6)
           for r in classification_report(df).collect()}
    # class 1: true 3, pred 3, correct 2
    assert got[1] == (3, 3, 2, 666_666, 666_666)
    # class 2: true 1, pred 1, correct 0
    assert got[2] == (1, 1, 0, 0, 0)
    # class 3: perfect single
    assert got[3] == (1, 1, 1, 1_000_000, 1_000_000)


def test_classification_report_null_denominators(spark):
    from frogocr_spark.operators.ml import classification_report
    # class 9 never predicted -> precision NULL; class 5 never true ->
    # recall NULL
    df = spark.createDataFrame([(9, 5)], "true_label long, pred_label long")
    got = {r.label: (r.precision_e6, r.recall_e6)
           for r in classification_report(df).collect()}
    assert got[9] == (None, 0) and got[5] == (0, None)


def test_zvalue_n_python_twin(spark):
    from pyspark.sql import functions as F
    from frogocr_spark.operators.layout import zvalue_n, zvalue_n_sql
    import duckdb
    import itertools
    pts = list(itertools.product([0, 1, 5, 13], repeat=3))
    df = spark.createDataFrame(pts, "x long, y long, z long")
    got = [r.zv for r in df.select(
        zvalue_n(["x", "y", "z"], bits=5).alias("zv")).collect()]

    def twin(x, y, z):
        out = 0
        for j, v in enumerate((x, y, z)):
            for i in range(5):
                out |= ((v >> i) & 1) << (i * 3 + j)
        return out

    assert got == [twin(*p) for p in pts]
    # and the generated SQL twin agrees in DuckDB
    sql = zvalue_n_sql(["13", "5", "1"], 5)
    assert duckdb.sql(f"SELECT {sql}").fetchone()[0] == twin(13, 5, 1)


def test_zvalue_n_validates():
    import pytest
    from frogocr_spark.operators.layout import zvalue_n_sql
    with pytest.raises(ValueError):
        zvalue_n_sql(["a"], 5)          # < 2 columns
    with pytest.raises(ValueError):
        zvalue_n_sql(["a", "b", "c"], 21)   # 63 bits > 62


def test_auc_exact_hand_case(spark):
    from frogocr_spark.operators.analytics import auc_exact
    # pos scores {3,5,5}, neg {1,5}: AUC = (1+0+1+1+0.5+0.5)/6 = 4/6
    rows = [(3, 1), (5, 1), (5, 1), (1, 0), (5, 0)]
    df = spark.createDataFrame(rows, "s long, y int")
    [r] = auc_exact(df, F.col("s"), F.col("y") == 1).collect()
    assert (r.n_pos, r.n_neg) == (3, 2)
    assert r.u2 == 8          # 2U; U = 4
    assert r.auc_e6 == 666_666


def test_auc_exact_boundaries(spark):
    from frogocr_spark.operators.analytics import auc_exact
    # perfect separation -> 1.0; all-tied -> exactly 0.5
    perf = spark.createDataFrame([(10, 1), (9, 1), (1, 0)],
                                 "s long, y int")
    [r] = auc_exact(perf, F.col("s"), F.col("y") == 1).collect()
    assert r.auc_e6 == 1_000_000
    tied = spark.createDataFrame([(7, 1), (7, 0), (7, 0)],
                                 "s long, y int")
    [r] = auc_exact(tied, F.col("s"), F.col("y") == 1).collect()
    assert r.auc_e6 == 500_000
    # one class empty -> NULL auc
    mono = spark.createDataFrame([(7, 1), (8, 1)], "s long, y int")
    [r] = auc_exact(mono, F.col("s"), F.col("y") == 1).collect()
    assert r.auc_e6 is None and (r.n_pos, r.n_neg) == (2, 0)


def test_abc_classes_hand_case(spark):
    from frogocr_spark.operators.analytics import abc_classes
    rows = [("w", 50), ("x", 30), ("y", 15), ("z", 5)]
    df = spark.createDataFrame(rows, "k string, v long")
    got = {r.abc_class: (r.n_items, r.class_value, r.share_e6)
           for r in abc_classes(df, "k", "v").collect()}
    # cum 50(A) 80(A, ==80% boundary inclusive) 95(B, ==95%) 100(C)
    assert got["A"] == (2, 80, 800_000)
    assert got["B"] == (1, 15, 150_000)
    assert got["C"] == (1, 5, 50_000)


def test_theil_sen_hand_case(spark):
    from frogocr_spark.operators.analytics import theil_sen_slope
    pts = [(0, 0), (1, 10), (2, 19), (3, 35)]
    df = spark.createDataFrame(pts, "x long, y long")
    [r] = theil_sen_slope(df).collect()
    # slopes_e6 sorted: 9e6, 9.5e6, 10e6, 11666666, 12.5e6, 16e6
    # lower median = rank (6+1) DIV 2 = 3 -> 10_000_000
    assert (r.n_points, r.n_pairs, r.slope_e6) == (4, 6, 10_000_000)


def test_theil_sen_truncation_toward_zero(spark):
    from frogocr_spark.operators.analytics import theil_sen_slope
    # single pair, slope -8/3: DIV truncates toward zero -> -2666666
    # (floor division would give -2666667 — the DuckDB // parity pin)
    import duckdb
    df = spark.createDataFrame([(0, 7), (3, -1)], "x long, y long")
    [r] = theil_sen_slope(df).collect()
    assert r.slope_e6 == -2_666_666
    assert duckdb.sql(
        "SELECT (-8 * CAST(1000000 AS HUGEINT)) // 3"
    ).fetchone()[0] == -2_666_666


def test_theil_sen_outlier_robust(spark):
    from frogocr_spark.operators.analytics import theil_sen_slope
    # clean slope 2; one wild spike day barely moves the median
    pts = [(i, 2 * i) for i in range(9)] + [(9, 1_000_000)]
    df = spark.createDataFrame(pts, "x long, y long")
    [r] = theil_sen_slope(df).collect()
    assert r.n_pairs == 45
    assert r.slope_e6 == 2_000_000  # the median ignores the spike
