"""Sessions 21–30 operators: calibration bins, ring negative
sampling, zone-map / encoding audits, Fano +
exact k-sigma spikes, vocabulary drift + coverage curves, purged
time split, layout shootout, context fit / fertility / token runs,
detector agreement, Bloom FPR + hash-collision audits, ANN recall,
group effects, and the argument guards — hand-computed cases,
python twins, and adversarial edges (the contract queries carry the
DuckDB hash checks)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from frogocr_spark.operators.layout import zonemap_prune_audit
from frogocr_spark.operators.ml import calibration_bins, ring_negatives
from frogocr_spark.operators.textstats import (MOJIBAKE_MARKERS,
                                               encoding_audit)


def test_calibration_hand_case(spark):
    # scores 0..9 (smin 0, smax 9), 2 bins of width (9-0+1)*?/2:
    # bin = (s * 2) DIV 10 -> s 0..4 bin 0, s 5..9 bin 1
    rows = [(s, 1 if s >= 7 else 0) for s in range(10)]
    df = spark.createDataFrame(rows, "s long, y int")
    got = {r.bin: r for r in calibration_bins(
        df, F.col("s"), F.col("y") == 1, n_bins=2).collect()}
    b0, b1 = got[0], got[1]
    assert (b0.n, b1.n) == (5, 5)
    assert b0.pos_rate_e6 == 0
    assert b1.pos_rate_e6 == 600_000          # 3 of 5
    # mean scores: bin0 mean 2 -> 2/9; bin1 mean 7 -> 7/9
    assert b0.mean_score_e6 == 222_222
    assert b1.mean_score_e6 == 777_777
    assert b1.gap_e6 == 177_777


def test_calibration_constant_score(spark):
    df = spark.createDataFrame([(5, 1), (5, 0)], "s long, y int")
    [r] = calibration_bins(df, F.col("s"), F.col("y") == 1).collect()
    assert r.bin == 0 and r.n == 2
    assert r.pos_rate_e6 == 500_000
    assert r.mean_score_e6 is None and r.gap_e6 is None


def _ring_order(ids):
    return sorted(ids, key=lambda i: (hashlib.md5(
        str(i).encode()).hexdigest(), i))


def test_ring_negatives_python_twin(spark):
    rows = [(i, f"text {i}") for i in range(7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.slot): r.neg_id
           for r in ring_negatives(df, k=2).collect()}
    ring = _ring_order(range(7))
    for pos, anchor in enumerate(ring):
        for slot in (1, 2):
            assert got[(anchor, slot)] == ring[(pos + slot) % 7]


def test_ring_negatives_rejects_exact_dups_and_self(spark):
    # two docs share text -> when one is the other's ring neighbor the
    # pair is rejected; with n=2 every other neighbor is self
    df = spark.createDataFrame([(1, "same"), (2, "same")],
                               "doc_id long, text string")
    assert ring_negatives(df, k=2).collect() == []


def test_zonemap_prune_hand_case(spark):
    # 3 files: f0 values 1..4 (prunable), f1 values 8..11 (overlap,
    # 2 match), f2 values 30..33 (prunable) for predicate [9, 20]
    rows = ([(0, v) for v in (1, 2, 3, 4)]
            + [(1, v) for v in (8, 9, 10, 11)]
            + [(2, v) for v in (30, 31, 32, 33)])
    df = spark.createDataFrame(rows, "f long, v long")
    [r] = zonemap_prune_audit(df, F.col("f"), F.col("v"), 9, 20).collect()
    assert (r.n_files, r.files_scanned, r.files_pruned) == (3, 1, 2)
    assert (r.rows_total, r.rows_scanned, r.rows_matching) == (12, 4, 3)
    assert r.prune_frac_e6 == 666_666
    assert r.read_amp_e6 == 1_333_333          # 4 rows read / 3 matching


def test_zonemap_prune_nothing_matches(spark):
    df = spark.createDataFrame([(0, 1), (0, 2)], "f long, v long")
    [r] = zonemap_prune_audit(df, F.col("f"), F.col("v"),
                              100, 200).collect()
    assert r.files_scanned == 0 and r.read_amp_e6 is None
    assert r.prune_frac_e6 == 1_000_000


def test_encoding_audit_markers(spark):
    rows = [("a", "le cafÃ© est servi"),      # Ã© mojibake
            ("a", "itâ€™s broken"),            # â€ mojibake
            ("a", "perfectly clean"),
            ("b", "lost � char"),          # replacement char
            ("b", "clean too")]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r.source: (r.n_docs, r.n_bad, r.bad_e6)
           for r in encoding_audit(df).collect()}
    assert got["a"] == (3, 2, 666_666)
    assert got["b"] == (2, 1, 500_000)


def test_encoding_audit_clean_utf8_not_flagged(spark):
    # PROPERLY encoded accents must not trip the audit
    rows = [("a", "le café est servi"), ("a", "naïve œuvre à côté")]
    df = spark.createDataFrame(rows, "source string, text string")
    [r] = encoding_audit(df).collect()
    assert (r.n_bad, r.bad_e6) == (0, 0)
    assert all(len(m) >= 1 for m in MOJIBAKE_MARKERS)


def test_fano_dispersion_hand_cases(spark):
    from frogocr_spark.operators.analytics import fano_dispersion
    # group 'a': counts per bucket = [2, 2, 2] -> variance 0 -> F = 0
    # group 'b': counts [1, 5] -> mean 3, s^2 = 8 -> F = 8/3
    rows = ([("a", b) for b in (0, 0, 1, 1, 2, 2)]
            + [("b", 0)] + [("b", 1)] * 5)
    df = spark.createDataFrame(rows, "g string, b long")
    got = {r.group: r for r in fano_dispersion(
        df, "g", F.col("b")).collect()}
    assert got["a"].fano_e6 == 0
    assert (got["b"].n_buckets, got["b"].total) == (2, 6)
    assert got["b"].fano_e6 == 2_666_666          # 8/3 truncated
    # single bucket -> NULL (variance undefined)
    one = spark.createDataFrame([("c", 0), ("c", 0)], "g string, b long")
    [r] = fano_dispersion(one, "g", F.col("b")).collect()
    assert r.fano_e6 is None


def test_rate_spikes_exact_boundary(spark):
    from frogocr_spark.operators.analytics import rate_spikes
    # 20 background buckets with counts 8..12 (x4 each) + one hot
    # bucket of c.  The python twin finds the smallest spiking c; Spark
    # must agree exactly on both sides of the boundary.  (Fun fact the
    # first draft tripped over: a single outlier among n buckets can
    # never exceed (n-1)/sqrt(n) sample sigmas, so small n or a
    # constant background makes 3-sigma unreachable or trivial.)
    bg = [8, 9, 10, 11, 12] * 4

    def is_spike(c):
        cs = bg + [c]
        n, s, q = len(cs), sum(cs), sum(x * x for x in cs)
        return (c * n - s) ** 2 * (n - 1) > 9 * n * (n * q - s * s) \
            and c * n > s
    boundary = next(c for c in range(10, 400) if is_spike(c))
    assert boundary == 17 and not is_spike(boundary - 1)

    def mk(c):
        rows = [(i, 1) for i, cnt in enumerate(bg) for _ in range(cnt)]
        rows += [(99, 1)] * c
        return spark.createDataFrame(rows, "b long, one int")

    spikes = rate_spikes(mk(boundary), "one", F.col("b")).collect()
    assert [(r.bucket, r.cnt) for r in spikes] == [(99, boundary)]
    assert rate_spikes(mk(boundary - 1), "one",
                       F.col("b")).collect() == []


def test_rate_spikes_low_outlier_not_flagged(spark):
    from frogocr_spark.operators.analytics import rate_spikes
    # a LOW outlier inflates variance but must not be reported (the
    # detector is one-sided: spikes only)
    rows = ([("g", i) for i in range(5) for _ in range(50)]
            + [("g", 9)])          # bucket 9 has 1 event (a dip)
    df = spark.createDataFrame(rows, "g string, b long")
    got = rate_spikes(df, "g", F.col("b")).collect()
    assert all(r.cnt > 1 for r in got) or got == []


def test_simpson_diversity_hand_cases(spark):
    from frogocr_spark.operators.analytics import simpson_diversity
    rows = [("a", "x x x x"),            # all same type -> D = 0
            ("b", "p q r s"),            # all distinct -> D = 1
            ("c", "u u v")]              # rep=2, N=3 -> 1 - 2/6 = 2/3
    df = spark.createDataFrame(rows, "src string, text string")
    got = {r.group: (r.n_tokens, r.n_types, r.simpson_e6)
           for r in simpson_diversity(df, "src").collect()}
    assert got["a"] == (4, 1, 0)
    assert got["b"] == (4, 4, 1_000_000)
    assert got["c"] == (3, 2, 666_667)   # 1e6 - 333333
    single = spark.createDataFrame([("d", "one")],
                                   "src string, text string")
    [r] = simpson_diversity(single, "src").collect()
    assert r.simpson_e6 is None


def test_cramers_v_hand_cases(spark):
    from frogocr_spark.operators.analytics import cramers_v
    # perfect association (2x2 diagonal): chi2 = N, V^2 = 1
    rows = [("x", "p")] * 5 + [("y", "q")] * 5
    df = spark.createDataFrame(rows, "a string, b string")
    [r] = cramers_v(df, "a", "b").collect()
    assert (r.n, r.r, r.c) == (10, 2, 2)
    assert r.chi2_e6 == 10_000_000       # chi2 == N == 10
    assert r.v2_e6 == 1_000_000
    # independence (balanced 2x2): chi2 = 0
    rows = [("x", "p"), ("x", "q"), ("y", "p"), ("y", "q")] * 3
    df = spark.createDataFrame(rows, "a string, b string")
    [r] = cramers_v(df, "a", "b").collect()
    assert r.chi2_e6 == 0 and r.v2_e6 == 0
    # degenerate single column level -> V^2 NULL
    rows = [("x", "p"), ("x", "q")]
    df = spark.createDataFrame(rows, "a string, b string")
    [r] = cramers_v(df, "a", "b").collect()
    assert r.v2_e6 is None


def test_cramers_v_zero_cells_counted(spark):
    from frogocr_spark.operators.analytics import cramers_v
    # 2x2 with an EMPTY cell: x->p (2), x->q (2), y->p (2), y->q (0).
    # python twin including the zero cell's expectation term:
    rows = [("x", "p")] * 2 + [("x", "q")] * 2 + [("y", "p")] * 2
    obs = {("x", "p"): 2, ("x", "q"): 2, ("y", "p"): 2, ("y", "q"): 0}
    ra = {"x": 4, "y": 2}
    cb = {"p": 4, "q": 2}
    n = 6
    chi2_e6 = sum(
        ((o * n - ra[a] * cb[b]) ** 2 * 1_000_000)
        // (n * ra[a] * cb[b])
        for (a, b), o in obs.items())
    df = spark.createDataFrame(rows, "a string, b string")
    [r] = cramers_v(df, "a", "b").collect()
    assert r.chi2_e6 == chi2_e6
    assert r.chi2_e6 > 0                 # zero cell contributes


def test_eta_squared_hand_cases(spark):
    from frogocr_spark.operators.analytics import eta_squared
    # groups fully explain the variance: within-group constant
    rows = [("a", 10)] * 3 + [("b", 20)] * 3
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = eta_squared(df, "g", F.col("v")).collect()
    assert r.eta2_e6 == 1_000_000
    # groups explain nothing: identical distributions
    rows = [("a", 10), ("a", 20), ("b", 10), ("b", 20)]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = eta_squared(df, "g", F.col("v")).collect()
    assert r.ssb_e6 == 0 and 0 <= r.eta2_e6 <= 1
    # constant metric -> SST 0 -> NULL
    rows = [("a", 7), ("b", 7)]
    df = spark.createDataFrame(rows, "g string, v long")
    [r] = eta_squared(df, "g", F.col("v")).collect()
    assert r.eta2_e6 is None


def test_vocab_drift_hand_cases(spark):
    from frogocr_spark.operators.textstats import vocab_drift
    # ids 0..3: half a = {0, 1} (doc_id*2 <= 3), half b = {2, 3}
    rows = [(0, "x y"), (1, "x z"), (2, "x y"), (3, "x w")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    [r] = vocab_drift(df, k=2).collect()
    # half a counts: x2 y1 z1 -> top2 (x, y); half b: x2 w1 y1 -> (x, w)
    assert (r.n_top_a, r.n_top_b, r.n_common) == (2, 2, 1)
    assert r.jaccard_e6 == 333_333       # 1 / 3
    # identical halves -> jaccard 1
    same = spark.createDataFrame([(0, "a b"), (1, "a b")],
                                 "doc_id long, text string")
    [r] = vocab_drift(same, k=2).collect()
    assert r.jaccard_e6 == 1_000_000


def test_coverage_curve_hand_case(spark):
    from frogocr_spark.operators.textstats import coverage_curve
    # counts: x5 y3 z1 w1 -> total 10; cuts at 1 and 3
    df = spark.createDataFrame(
        [(0, "x x x x x y y y z w")], "doc_id long, text string")
    got = {r.k: (r.n_types, r.covered, r.mass_e6)
           for r in coverage_curve(df, ks=(1, 3)).collect()}
    assert got[1] == (1, 5, 500_000)
    # rank 2 = y (count desc), rank 3 = w (token asc beats z on tie)
    assert got[3] == (3, 9, 900_000)
    # cut larger than the vocabulary covers everything
    got = {r.k: r.mass_e6 for r in coverage_curve(
        df, ks=(100,)).collect()}
    assert got[100] == 1_000_000


def test_time_embargo_split_hand_case(spark):
    from frogocr_spark.operators.ml import time_embargo_split
    # us 0..99: range = 99, so t_train = 99*80 DIV 100 = 79 and
    # t_embargo = 99*82 DIV 100 = 81 -> train < 79, embargo 79..80
    df = spark.createDataFrame([(i,) for i in range(100)], "us long")
    got = {r.split: (r.n, r.first_us, r.last_us)
           for r in time_embargo_split(df, F.col("us")).collect()}
    assert got["train"] == (79, 0, 78)
    assert got["embargo"] == (2, 79, 80)
    assert got["test"] == (19, 81, 99)
    with pytest.raises(ValueError):
        time_embargo_split(df, F.col("us"), train_pct=99,
                           embargo_pct=5)


def test_layout_compare_zorder_beats_uncorrelated_key(spark):
    # grid corpus where the value dimension is uncorrelated with the
    # row id: a value-bucketed layout must scan fewer rows than the
    # id-bucketed one for a value predicate, with zorder in between
    from frogocr_spark.operators.layout import (zonemap_prune_audit,
                                                zorder_buckets)
    rows = [(i, i % 64, (i * 37) % 64) for i in range(4096)]
    df = spark.createDataFrame(rows, "event_id long, x long, y long")
    lo, hi = 10, 20
    [key] = zonemap_prune_audit(df, F.expr("event_id DIV 256"),
                                F.col("y"), lo, hi).collect()
    zb = zorder_buckets(df, "x", "y", n_buckets=16, bits=6)
    [zo] = zonemap_prune_audit(zb, F.col("zbucket"),
                               F.col("y"), lo, hi).collect()
    vb = df.withColumn("vbucket", F.expr("(y * 16) DIV 64"))
    [va] = zonemap_prune_audit(vb, F.col("vbucket"),
                               F.col("y"), lo, hi).collect()
    assert key.rows_scanned == 4096          # id layout prunes nothing
    assert zo.rows_scanned < key.rows_scanned
    assert va.rows_scanned <= zo.rows_scanned
    assert va.rows_matching == zo.rows_matching == key.rows_matching


def test_context_fit_hand_case(spark):
    from frogocr_spark.operators.textstats import context_fit
    rows = [(0, "a b c"), (1, "a b c d e"), (2, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.cut: r for r in context_fit(df, cuts=(4,)).collect()}
    r = got[4]
    # tokens: 3, 5, 0 -> fits: doc0 and doc2; kept = 3 + 4 + 0 = 7
    assert (r.n_docs, r.n_fit) == (3, 2)
    assert r.fit_e6 == 666_666
    assert (r.tokens_total, r.tokens_kept) == (8, 7)
    assert r.loss_e6 == 125_000


def test_tokenizer_fertility_hand_case(spark):
    from frogocr_spark.operators.textstats import tokenizer_fertility
    # "don't stop!" -> words 2; pre-tokens: don ' t stop ! = 5
    rows = [("a", "don't stop!"), ("a", "plain words here"),
            ("b", "")]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r.group: r for r in tokenizer_fertility(df).collect()}
    a = got["a"]
    assert (a.n_docs, a.words, a.pre_tokens) == (2, 5, 8)
    assert a.fertility_e6 == 1_600_000
    assert got["b"].fertility_e6 is None


def test_max_token_run_hand_cases(spark):
    from frogocr_spark.operators.textstats import max_token_run
    rows = [(0, "x x x y y z"),          # run of 3 'x' at pos 0
            (1, "a b a b a b"),          # no adjacent repeats -> 1
            (2, ""),                      # empty -> 0
            (3, "p q q p p q")]          # two runs of 2: 'p'@3 beats
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.max_run, r.run_token, r.run_start)
           for r in max_token_run(df).collect()}
    assert got[0] == (3, "x", 0)
    assert got[1][0] == 1
    assert got[2] == (0, None, None)
    assert got[3] == (2, "p", 3)         # token ASC tiebreak: p < q


def test_dedup_agreement_identical_pair(spark):
    # two identical docs and one unrelated: both detectors must find
    # exactly the identical pair -> perfect agreement
    from frogocr_spark.operators.dedup import (ngram_jaccard_pairs,
                                               simhash_near_pairs)
    rows = [(1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "utterly different words entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {(r.id_a, r.id_b) for r in simhash_near_pairs(
        df, "doc_id", "text", max_hamming=3).collect()}
    b = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.7, ngram=3).collect()}
    assert a == b == {(1, 2)}


def test_hash_collision_audit_python_twin(spark):
    from frogocr_spark.operators.ml import hash_collision_audit
    words = [f"w{i}" for i in range(40)]
    df = spark.createDataFrame([(0, " ".join(words))],
                               "doc_id long, text string")
    got = {r.n_buckets: r for r in hash_collision_audit(
        df, widths=(8, 64), ngram=1).collect()}

    def twin(bwidth):
        hs = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
              % bwidth for w in words]
        from collections import Counter
        c = Counter(hs)
        colliding = sum(v for v in c.values() if v >= 2)
        return (len(words), len(c), colliding, max(c.values()))
    for b in (8, 64):
        r = got[b]
        assert (r.n_tokens, r.occupied, r.colliding,
                r.max_load) == twin(b)
        assert r.collision_e6 == r.colliding * 1_000_000 // r.n_tokens


def test_bloom_fpr_python_twin_and_no_false_negatives(spark):
    from frogocr_spark.operators.textstats import (
        BLOOM_K, bloom_build, bloom_false_positive_rate)
    mk = lambda i, t: (i, t)  # noqa: E731
    base = "a b c d e f g h"          # the 8-gram vocabulary base
    ev_rows = [mk(0, base), mk(1, "p q r s t u v w")]
    corpus_rows = [mk(10, base),                       # member gram
                   mk(11, "m n o p q r s t"),          # non-member
                   mk(12, "z y x w v u t s")]          # non-member
    ev = spark.createDataFrame(ev_rows, "doc_id long, text string")
    corpus = spark.createDataFrame(corpus_rows,
                                   "doc_id long, text string")
    m_bits = 512
    [r] = bloom_false_positive_rate(corpus, ev, m_bits=m_bits).collect()
    assert (r.m_bits, r.k) == (m_bits, BLOOM_K)
    assert r.n_members == 2 and r.n_probes == 2
    # python twin decides which non-members are false positives
    bloom = bloom_build(ev, m_bits=m_bits)

    def is_fp(gram):
        h = hashlib.md5(gram.encode()).hexdigest()
        return all(bloom[int(h[8 * j:8 * j + 8], 16) % m_bits] == "1"
                   for j in range(BLOOM_K))
    expect_fp = sum(is_fp(g) for g in
                    ("m n o p q r s t", "z y x w v u t s"))
    assert r.n_fp == expect_fp
    # no false negatives: the member gram always hits (probed set
    # excludes it, so it cannot appear among probes at all)
    assert r.n_probes == 2


def test_ann_recall_exact_duplicate_always_recalled(spark):
    # an exact duplicate vector hashes identically in EVERY LSH table,
    # so it is always a candidate and must appear in both top-5 sets
    import numpy as np
    from frogocr_spark.operators.similarity import (cosine_topk_bruteforce,
                                                    cosine_topk_lsh)
    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 64).astype("float32")
    vecs[20] = vecs[0]                    # vec 20 duplicates query 0
    rows = [(i, [float(x) for x in vecs[i]], 0) for i in range(30)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    qs = emb.where("vec_id < 10")

    def top5(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.neighbor_id)
        return out
    exact = top5(cosine_topk_bruteforce(emb, qs, k=5, rank_round=4))
    lsh = top5(cosine_topk_lsh(emb, qs, k=5, dim=64, score_e4=True))
    assert 20 in exact[0] and 20 in lsh[0]  # the duplicate is recalled
    assert sorted(exact) == list(range(10))
    assert all(len(v) == 5 for v in exact.values())
    assert all(len(v) <= 5 for v in lsh.values())


def test_new_operator_argument_guards(spark):
    # k=0 would hit Spark's DESCENDING sequence(1, 0) == [1, 0] and
    # silently emit self rows; the other guards pin the same class
    from frogocr_spark.operators.ml import hash_collision_audit
    from frogocr_spark.operators.textstats import (context_fit,
                                                   vocab_drift)
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        ring_negatives(df, k=0)
    with pytest.raises(ValueError):
        calibration_bins(df, F.col("doc_id"), F.lit(True), n_bins=0)
    with pytest.raises(ValueError):
        hash_collision_audit(df, widths=(1,))
    with pytest.raises(ValueError):
        vocab_drift(df, k=0)
    with pytest.raises(ValueError):
        context_fit(df, cuts=())


def test_group_effects_hand_case(spark):
    from frogocr_spark.operators.analytics import group_effects
    rows = [("a", 10), ("a", 20), ("b", 40)]   # grand mean 70/3
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.group: r for r in group_effects(
        df, "g", F.col("v")).collect()}
    grand_e6 = 70 * 1_000_000 // 3             # 23333333
    assert got["a"].mean_e6 == 15_000_000
    assert got["a"].delta_e6 == 15_000_000 - grand_e6
    assert got["b"].mean_e6 == 40_000_000
    assert got["b"].delta_e6 == 40_000_000 - grand_e6
    assert (got["a"].n, got["b"].n) == (2, 1)
