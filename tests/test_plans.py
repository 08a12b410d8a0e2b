"""Plan-shape regression guards: the properties BENCH/BASELINE.md claims
(column pruning to the UDF's needs, parquet filter pushdown, broadcast
anti-join for small key sets, map-only extraction) asserted on the real
executed plans so a refactor can't silently regress them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def transcripts_parquet(spark, tmp_path_factory):
    from frogocr_spark.sources import transcripts
    out = str(tmp_path_factory.mktemp("plans") / "transcripts")
    transcripts.generate_for_sf(spark, SF).repartition(8) \
        .write.mode("overwrite").parquet(out)
    return out


def test_extraction_plan_is_map_only_and_column_pruned(spark,
                                                       transcripts_parquet):
    from frogocr_spark.operators.extraction import extract_turns
    df = spark.read.parquet(transcripts_parquet)
    plan = _plan(extract_turns(df))
    assert "MapInArrow" in plan
    assert "Exchange" not in plan          # pure per-row map, no shuffle
    # Arrow width: the scan must read only the columns the UDF consumes
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    for col in ("conv_id", "turn_idx", "role", "text"):
        assert col in read_schema
    for col in ("tool", "ts"):
        assert col not in read_schema


def test_filter_pushdown_reaches_parquet_scan(spark, transcripts_parquet):
    df = (spark.read.parquet(transcripts_parquet)
          .where(F.col("role") == "user").select("conv_id", "turn_idx"))
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "EqualTo(role,user)" in plan or "role" in \
        plan.split("PushedFilters:")[1].splitlines()[0]


def test_resume_anti_join_broadcasts_small_key_set(spark,
                                                   transcripts_parquet):
    from frogocr_spark.operators.resume import filter_unprocessed
    inp = spark.read.parquet(transcripts_parquet)
    done = inp.limit(500).select("conv_id", "turn_idx")
    plan = _plan(filter_unprocessed(inp, done))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_ivf_corpus_side_never_shuffles(spark):
    """IVF ANN: the corpus side must be scan → cell-assign → broadcast
    join — no Exchange on the corpus path (the top-k window exchanges
    only the small candidate set)."""
    from frogocr_spark.operators.similarity import cosine_topk_ivf
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = cosine_topk_ivf(emb, emb.where("vec_id < 5"), k=3, n_clusters=8)
    plan = _plan(out)
    # candidate join itself is broadcast — the only exchange allowed is
    # the rank window over (small) scored candidates
    assert "BroadcastHashJoin" in plan
    pre_window = plan.split("row_number")[0]
    assert pre_window.count("Exchange") <= 1


def test_embedding_lsh_pair_dedup_exchanges_bare_ids(spark):
    """The bucket-join candidate dedup must shuffle BARE id pairs, never
    the embedding vectors (the round-1 minhash lesson: carrying the
    payload through the quadratic bucket fanout multiplies shuffle
    volume by the payload width).  Locked by asserting no vector column
    appears in the plan between the bucket join and the pair-dedup
    aggregate."""
    from frogocr_spark.operators.dedup import embedding_near_dup_pairs
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = embedding_near_dup_pairs(emb, threshold=0.4, dim=64, use_lsh=True)
    plan = _plan(out)
    # the dedup aggregate over (id_a, id_b): find its partial-aggregate
    # exchange and check the exchanged schema mentions ids only
    segs = plan.split("Exchange hashpartitioning(id_a")
    assert len(segs) >= 2, "expected an id-pair keyed exchange"
    # the line describing the exchange carries its output schema
    exch_line = "Exchange hashpartitioning(id_a" + segs[1].splitlines()[0]
    assert "_v" not in exch_line and "embedding" not in exch_line


def test_aqe_skew_join_fires_on_byte_skewed_smj(spark):
    """Session-level capability lock: the AQE skew-join settings the
    engine ships actually split a byte-skewed sort-merge join (90% of
    rows on one hot key, incompressible md5 payload).  Captured via an
    action on the SAME Dataset (a noop write runs through a separate
    QueryExecution and leaves this plan unfinalized — skew=true only
    appears in the FINAL adaptive plan).  Thresholds scaled to the
    fixture; production scale trips the default 256 MB / 5x-median
    rule identically."""
    skew_conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "8192",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4096",
    }
    saved = {k: spark.conf.get(k, None) for k in skew_conf}
    for k, v in skew_conf.items():
        spark.conf.set(k, v)
    try:
        left = (spark.range(200_000)
                .withColumn("k", F.when(F.col("id") % 10 < 9, F.lit(7))
                            .otherwise(F.col("id") % 1000))
                .withColumn("pay", F.md5(F.col("id").cast("string"))))
        right = (spark.range(1000).withColumn("k", F.col("id") % 1000)
                 .withColumn("rpay",
                             F.md5((F.col("id") * 7).cast("string"))))
        j = (left.join(right, "k")
             .select(F.sum(F.length("pay") + F.length("rpay")).alias("s")))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lsh_hot_bucket_cap_linearizes_candidates(spark):
    """AQE byte-skew detection structurally CANNOT see LSH bucket
    row-skew: the band join exchanges bare ids (~24 B/row; identical
    rows lz4-compress away), so a bucket holding half the corpus stays
    under any byte threshold while its self-join emits B(B-1)/2 pairs
    inside the task (measured: the fixture below never yields skew=true
    even at floor thresholds).  The structural mitigation is
    max_bucket: oversized buckets switch to a connectivity-preserving
    star expansion.  Locks (a) candidate count linear, not quadratic;
    (b) every hot doc still connected to the cluster hub (what
    dup_clusters consumes); (c) small buckets keep exact all-pairs
    behavior — the capped run agrees with the uncapped run on the
    background docs."""
    from frogocr_spark.operators.dedup import minhash_lsh_pairs
    hot = [(i, "the same duplicated payload text repeated " * 8)
           for i in range(2000)]
    bg = [(10_000 + i, f"unique background doc {i} tokens "
           + " ".join(f"w{i}_{j}" for j in range(12)))
          for i in range(2000)]
    skewed = spark.createDataFrame(hot + bg, "doc_id long, text string")
    capped = minhash_lsh_pairs(skewed, "doc_id", "text", num_hashes=32,
                               bands=4, threshold=0.5, max_bucket=256)
    rows = capped.collect()
    n = len(rows)
    assert n <= 6 * 4000, f"quadratic blowup not capped: {n} pairs"
    hub_partners = {r.id_b for r in rows
                    if r.id_a == 0 and r.id_b < 10_000}
    assert len(hub_partners) == 1999, len(hub_partners)
    bg_capped = {(r.id_a, r.id_b) for r in rows
                 if r.id_a >= 10_000 and r.id_b >= 10_000}
    uncapped = minhash_lsh_pairs(skewed, "doc_id", "text", num_hashes=32,
                                 bands=4, threshold=0.5).where(
        (F.col("id_a") >= 10_000) & (F.col("id_b") >= 10_000))
    bg_uncapped = {(r.id_a, r.id_b) for r in uncapped.collect()}
    assert bg_capped == bg_uncapped


def test_seq_pack_prefix_sum_has_no_single_partition_exchange(spark):
    """The naive SUM() OVER (ORDER BY) global prefix sum collapses the
    relation into ONE task; pack_sequences' two-level construction
    (range partition + per-partition window + broadcast offsets) must
    never plan a SinglePartition exchange."""
    from pyspark.sql import functions as F

    from frogocr_spark.operators.ranking import pack_sequences
    df = spark.range(0, 5000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n_tok"))
    packed = pack_sequences(df, ["doc_id"], "n_tok", capacity=64)
    plan = _plan(packed)
    assert "SinglePartition" not in plan
    assert "Window" in plan
    # and it is actually the right prefix sum
    got = {r["doc_id"]: (r["seq_id"], r["seq_offset"])
           for r in packed.collect()}
    acc = 0
    for i in range(5000):
        assert got[i] == (acc // 64, acc % 64), i
        acc += i % 37 + 1


def test_decontam_eval_grams_broadcast_into_semi_join(spark):
    """The eval-gram set is benchmark-sized; the corpus side is the
    100 TB relation — the probe must be a broadcast LeftSemi, never a
    shuffle of corpus grams against eval grams."""
    from pyspark.sql import functions as F

    from frogocr_spark.operators.textstats import decontaminate
    rows = [(i, f"tok{i} " + "alpha beta gamma delta epsilon zeta eta theta"
             + (f" tail{i}" if i % 2 else ""))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = decontaminate(df.where(F.col("doc_id") % 10 != 0),
                        df.where(F.col("doc_id") % 10 == 0), n=8)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_top_vocabulary_is_take_ordered_not_global_sort(spark):
    """The global top-k vocabulary cut must plan as
    TakeOrderedAndProject (per-partition top-k + driver merge), never a
    single-partition sort of the whole token relation."""
    from frogocr_spark.operators.textstats import top_vocabulary
    rows = [(i, f"tok{i % 50} the and of") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plan = _plan(top_vocabulary(df, 10))
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_in_vocab_ratio_is_map_only(spark):
    """The quality scorer ships the bounded vocabulary as a literal —
    the corpus side must be pure map-stage column math: no Exchange,
    no join, no explode-shuffle."""
    from frogocr_spark.operators.textstats import in_vocab_ratio
    rows = [(i, "a b c d") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    plan = _plan(in_vocab_ratio(df, ["a", "b"]))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_mix_sample_broadcasts_stratum_caps(spark):
    """Stratum caps are #strata rows — they must broadcast onto the
    corpus, and no stage may collapse to a single partition."""
    from frogocr_spark.operators.textstats import mix_sample
    rows = [(i, f"s{i % 4}") for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    plan = _plan(mix_sample(df, ["src"]))
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan


def test_semdedup_assignment_is_map_only(spark):
    """Literal-seed argmax assignment: no join, no exchange — the
    corpus is never shuffled to get its cluster ids; and the pair
    stage is an equi-join on cluster_id, never a cartesian."""
    from frogocr_spark.operators.similarity import (seed_assignments,
                                                    semdedup_pairs)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(seed_assignments(emb, 4))
    assert "Exchange" not in plan and "Join" not in plan
    plan = _plan(semdedup_pairs(emb, 4, 0.4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_filter_scoring_is_map_only(spark):
    """After the bounded LM build, scoring is literal-array column math:
    no join, no exchange, no explode in the probe plan."""
    from frogocr_spark.operators.textstats import known_bigram_filter
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(known_bigram_filter(docs, lm_size=20))
    assert "Exchange" not in plan and "Join" not in plan
    assert "Generate" not in plan


def test_zscore_outliers_broadcasts_moments(spark):
    """The #groups-sized moments table broadcasts back onto the corpus;
    the probe side never sort-merge-shuffles, and the moment agg
    partial-combines map-side."""
    from frogocr_spark.operators.analytics import zscore_outliers
    ev = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(zscore_outliers(ev, F.round(F.col("value") * 100, 0),
                                 "event_type", "event_id"))
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "partial_sum" in plan


def test_weighted_sample_is_take_ordered_not_global_sort(spark):
    from frogocr_spark.operators.textstats import weighted_sample
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(weighted_sample(docs, 20, "n_chars"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_minhash_lsh_has_no_cartesian_product(spark):
    """Candidate generation is bucket-keyed equi-joins only — never a
    cartesian or nested-loop product over the corpus."""
    from frogocr_spark.operators.dedup import minhash_lsh_pairs
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=32,
                                   bands=4, threshold=0.5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_global_rank_has_no_single_partition_exchange(spark):
    """The dense rank comes from a RANGE exchange (order-preserving
    partition ids) + a row_number window partitioned by that id — never
    an Exchange SinglePartition."""
    from frogocr_spark.operators.ranking import global_rank
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dfreq = (docs.select(F.explode(F.split("text", r"\s+")).alias("token"))
             .groupBy("token").agg(F.count(F.lit(1)).alias("t_df")))
    plan = _plan(global_rank(dfreq, ["t_df", "token"]))
    assert "SinglePartition" not in plan
    assert "windowspecdefinition(_pid" in plan


def test_exact_cosine_joins_packed_blocks(spark):
    """Blocked exact cosine: the corpus is packed one row per block
    (collect_list) before the block-pair join, and scoring is a
    MapInPandas matmul — never a row-level cartesian over the corpus."""
    from frogocr_spark.operators.dedup import _exact_cosine_pairs_blocked
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(_exact_cosine_pairs_blocked(emb, "vec_id", "embedding",
                                             threshold=0.4))
    assert "MapInPandas" in plan and "collect_list" in plan
