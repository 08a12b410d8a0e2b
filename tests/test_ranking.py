"""global_rank: scalable dense global rank (range partition + offsets).

Checked against the single-partition ``Window.orderBy`` row_number it
replaces — identical output on unique keys, at several partition counts
(including more partitions than rows, which exercises empty ranges)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from frogocr_spark.operators.ranking import global_rank


@pytest.mark.parametrize("num_partitions", [1, 3, 8, 64])
def test_global_rank_matches_window(spark, num_partitions):
    rows = [(i, f"tok{i % 7}_{i}") for i in range(37)]
    df = spark.createDataFrame(rows, "t_df long, token string")
    got = {(r["token"], r["rank"]) for r in
           global_rank(df, ["t_df", "token"],
                       num_partitions=num_partitions).collect()}
    w = Window.orderBy("t_df", "token")
    want = {(r["token"], r["rank"]) for r in
            df.withColumn("rank",
                          F.row_number().over(w).cast("long")).collect()}
    assert got == want


def test_global_rank_is_dense_and_order_consistent(spark):
    df = spark.createDataFrame(
        [(5, "e"), (1, "a"), (3, "c"), (3, "b"), (9, "z")],
        "t_df long, token string")
    out = sorted(global_rank(df, ["t_df", "token"]).collect(),
                 key=lambda r: r["rank"])
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    assert [r["token"] for r in out] == ["a", "b", "c", "e", "z"]


def test_global_rank_empty(spark):
    df = spark.createDataFrame([], "t_df long, token string")
    assert global_rank(df, ["t_df", "token"]).count() == 0


# ---------------------------------------------------------------------------
# global_cumsum / pack_sequences
# ---------------------------------------------------------------------------

from frogocr_spark.operators.ranking import global_cumsum, pack_sequences


@pytest.mark.parametrize("num_partitions", [1, 3, 8, 64])
def test_global_cumsum_matches_python_prefix_sum(spark, num_partitions):
    rows = [(i, (i * 7) % 13) for i in range(41)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {r["k"]: r["cumsum"] for r in
           global_cumsum(df, ["k"], "v",
                         num_partitions=num_partitions).collect()}
    acc, want = 0, {}
    for k, v in sorted(rows):
        want[k] = acc          # EXCLUSIVE prefix sum
        acc += v
    assert got == want


def test_global_cumsum_empty_and_single(spark):
    empty = spark.createDataFrame([], "k long, v long")
    assert global_cumsum(empty, ["k"], "v").count() == 0
    one = spark.createDataFrame([(5, 99)], "k long, v long")
    assert one.transform(
        lambda d: global_cumsum(d, ["k"], "v")).collect()[0]["cumsum"] == 0


def test_pack_sequences_layout_and_straddle(spark):
    # capacity 10; token counts chosen so doc 2 straddles the 10-boundary
    rows = [(0, 4), (1, 3), (2, 6), (3, 10), (4, 1)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    got = {r["doc_id"]: (r["seq_id"], r["seq_offset"]) for r in
           pack_sequences(df, ["doc_id"], "n_tok", capacity=10).collect()}
    # cum: 0,4,7,13,23 → seq = cum//10, offset = cum%10
    assert got == {0: (0, 0), 1: (0, 4), 2: (0, 7), 3: (1, 3), 4: (2, 3)}


def test_pack_sequences_zero_token_rows_share_position(spark):
    rows = [(0, 0), (1, 5), (2, 0), (3, 5)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    got = {r["doc_id"]: (r["seq_id"], r["seq_offset"]) for r in
           pack_sequences(df, ["doc_id"], "n_tok", capacity=5).collect()}
    assert got == {0: (0, 0), 1: (0, 0), 2: (1, 0), 3: (1, 0)}


@pytest.mark.parametrize("seed,capacity", [(3, 17), (5, 256), (9, 1)])
def test_pack_sequences_randomized_invariants(spark, seed, capacity):
    """Seeded-random corpora: exact python prefix-sum recomputation plus
    the structural invariants (offset < capacity, seq ids monotone
    nondecreasing in key order, first position (0,0) when nonempty)."""
    import random

    rng = random.Random(seed)
    rows = [(i, rng.randint(0, 3 * capacity)) for i in range(777)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int") \
        .repartition(13)
    got = {r["doc_id"]: (r["seq_id"], r["seq_offset"]) for r in
           pack_sequences(df, ["doc_id"], "n_tok",
                          capacity=capacity).collect()}
    acc, prev_seq = 0, 0
    for i, v in sorted(rows):
        want = (acc // capacity, acc % capacity)
        assert got[i] == want, (i, got[i], want)
        assert 0 <= got[i][1] < capacity
        assert got[i][0] >= prev_seq
        prev_seq = got[i][0]
        acc += v
    assert got[0][0] == 0 and got[0][1] == 0


# ----------------------------------------------------- lazy twins (r4)

def test_lazy_builders_run_no_job_at_construction(spark):
    """The lazy twins must not launch ANY Spark job until the caller's
    action (VERDICT r3 #6) — construction under a dedicated job group
    leaves that group empty."""
    from frogocr_spark.operators.ranking import (
        global_cummax_lazy, global_cumsum_lazy, global_rank_lazy)
    sc = spark.sparkContext
    rows = [(i % 11, i, i * 3 % 17) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, id long, v long")
    sc.setJobGroup("lazy-construct", "lazy builders construction")
    try:
        plans = [
            global_rank_lazy(df, ["k", "id"], num_partitions=5),
            global_cumsum_lazy(df, ["k", "id"], "v", num_partitions=5),
            global_cummax_lazy(df, ["k", "id"], "v", num_partitions=5),
        ]
        assert sc.statusTracker().getJobIdsForGroup("lazy-construct") == []
        # the action DOES run jobs in the group — the tracker works
        assert plans[0].count() == 200
        assert sc.statusTracker().getJobIdsForGroup("lazy-construct") != []
    finally:
        sc.setJobGroup(None, None)


def test_lazy_builders_match_eager(spark):
    from frogocr_spark.operators.ranking import (
        global_cummax, global_cummax_lazy, global_cumsum,
        global_cumsum_lazy, global_rank_lazy)
    rows = [((i * 13) % 29, i, (i * 7) % 23 - 5) for i in range(113)]
    df = spark.createDataFrame(rows, "k long, id long, v long")
    for np_ in (1, 4, 16):
        a = {(r.id, r.rank) for r in
             global_rank_lazy(df, ["k", "id"],
                              num_partitions=np_).collect()}
        b = {(r.id, r.rank) for r in
             global_rank(df, ["k", "id"], num_partitions=np_).collect()}
        assert a == b
        a = {(r.id, r.cumsum) for r in
             global_cumsum_lazy(df, ["k", "id"], "v",
                                num_partitions=np_).collect()}
        b = {(r.id, r.cumsum) for r in
             global_cumsum(df, ["k", "id"], "v",
                           num_partitions=np_).collect()}
        assert a == b
        a = {(r.id, r.cummax) for r in
             global_cummax_lazy(df, ["k", "id"], "v",
                                num_partitions=np_).collect()}
        b = {(r.id, r.cummax) for r in
             global_cummax(df, ["k", "id"], "v",
                           num_partitions=np_).collect()}
        assert a == b


def test_ngram_jaccard_lazy_mode_parity_and_laziness(spark):
    from frogocr_spark.operators.dedup import ngram_jaccard_pairs
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "a completely different document about spark plans"),
            (4, "the quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sc = spark.sparkContext
    sc.setJobGroup("jacc-lazy", "lazy jaccard construction")
    try:
        lazy = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5,
                                   lazy=True)
        assert sc.statusTracker().getJobIdsForGroup("jacc-lazy") == []
        got = {(r.id_a, r.id_b, round(r.jaccard, 9))
               for r in lazy.collect()}
    finally:
        sc.setJobGroup(None, None)
    want = {(r.id_a, r.id_b, round(r.jaccard, 9))
            for r in ngram_jaccard_pairs(df, "doc_id", "text",
                                         threshold=0.5).collect()}
    assert got == want and (1, 4, 1.0) in got


# ------------------------------------------- cache lifecycle (r5, V#2)

def test_lazy_builder_cache_released_by_scope(spark):
    """VERDICT r4 #2: the lazy builders' advisory cache() must have an
    owner — inside a cache_scope the pinned relation is released at
    scope exit (blocking unpersist, so the assertion is not racy), and
    repeated invocation cannot grow pinned storage."""
    from frogocr_spark.core.cachectl import cache_scope
    from frogocr_spark.operators.ranking import global_rank_lazy
    df = spark.createDataFrame([(i % 7, i, i * 3) for i in range(200)],
                               "k int, id int, v long")
    for _ in range(3):  # repeated invocation: nothing accumulates
        with cache_scope() as cs:
            out = global_rank_lazy(df, ["k", "id"], num_partitions=4)
            assert len(cs.relations) == 1
            out.count()  # consuming action materializes the cache
            cached = cs.relations[0]
            assert cached.storageLevel.useMemory
        assert not cached.storageLevel.useMemory  # freed at exit
        assert cs.relations == ()


def test_ngram_jaccard_lazy_caches_released_by_scope(spark):
    """Both pinned subtrees of ngram_jaccard_pairs(lazy=True) — the
    interning rank relation and the per-doc token arrays — register
    with the active scope and are released after the consuming
    action."""
    from frogocr_spark.core.cachectl import cache_scope
    from frogocr_spark.operators.dedup import ngram_jaccard_pairs
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "a completely different document about spark plans"),
            (4, "the quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with cache_scope() as cs:
        pairs = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5,
                                    lazy=True)
        assert len(cs.relations) == 2
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        cached = list(cs.relations)
    assert (1, 4) in got
    assert all(not c.storageLevel.useMemory for c in cached)


def test_cache_scope_nesting_and_no_scope_fallback(spark):
    """Caches register with the INNERMOST scope; without any scope the
    builders keep the pre-r5 behavior (pinned, caller-managed)."""
    from frogocr_spark.core.cachectl import cache_scope
    from frogocr_spark.operators.ranking import global_rank_lazy
    df = spark.createDataFrame([(i, i) for i in range(50)],
                               "k int, id int")
    with cache_scope() as outer:
        with cache_scope() as inner:
            global_rank_lazy(df, ["k", "id"], num_partitions=2)
            assert len(inner.relations) == 1 and outer.relations == ()
        # inner exit released its cache; outer untouched
        assert outer.relations == ()
    # no active scope: cache() still applied, nothing registered
    out = global_rank_lazy(df, ["k", "id"], num_partitions=2)
    out.count()
    # reach the cached subtree via the plan: the builder cached its
    # input relation — verify SOMETHING is pinned, then clean up
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    spark.catalog.clearCache()


def test_cache_scope_is_per_thread():
    """Two threads with scopes open at the same time: each cache
    registers with its own thread's scope, and a scope's exit
    unpersists only that thread's cache."""
    import threading

    from frogocr_spark.core.cachectl import cache_scope, register_cache

    class FakeDF:
        def __init__(self):
            self.cached = False

        def cache(self):
            self.cached = True
            return self

        def unpersist(self, blocking):
            self.cached = False

    dfs = {"a": FakeDF(), "b": FakeDF()}
    both_open = threading.Barrier(2)
    both_registered = threading.Barrier(2)
    a_closed = threading.Event()
    seen = {}

    def work(name):
        with cache_scope() as cs:
            both_open.wait(5)
            register_cache(dfs[name])
            both_registered.wait(5)
            seen[name] = cs.relations
            if name == "b":
                a_closed.wait(5)
                seen["b_cached_after_a_exit"] = dfs["b"].cached
                seen["a_cached_after_a_exit"] = dfs["a"].cached
        if name == "a":
            a_closed.set()

    threads = [threading.Thread(target=work, args=(k,)) for k in dfs]
    for th in threads:
        th.start()
    for th in threads:
        th.join(10)
        assert not th.is_alive()
    assert seen["a"] == (dfs["a"],) and seen["b"] == (dfs["b"],)
    assert seen["b_cached_after_a_exit"] and not seen["a_cached_after_a_exit"]
    assert not dfs["a"].cached and not dfs["b"].cached
