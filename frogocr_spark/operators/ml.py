"""Model-prep operators: the hashing-trick featurizer and multinomial
Naive-Bayes training — the two classic "turn a curated corpus into a
model-ready table" steps that run AFTER the curation loop
(dedup/quality gates) and BEFORE training.

Engine-portable by construction: md5-derived hashes, exact integer
counts, one truncating scaled division where a probability is reported
— no float whose last ulp could differ across engines.

Reference parity: the reference's font-interning dimension build
(SURVEY.md §2 J8) is the same "intern a string universe into dense
ids / buckets" move; feature hashing is its fixed-width, collision
-accepting form (Weinberger et al. 2009).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WS = r"\s+"


def feature_hash(df: DataFrame, n_buckets: int = 1024,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009): every
    token maps to ``bucket = h % n_buckets`` with sign ``+1/-1`` from
    the next hash bit (the signed variant that makes collisions
    unbiased), ``h`` = 60-bit md5 — fixed feature width with NO
    vocabulary build, the standard unbounded-vocab featurizer.

    Scale shape: one token explode (pure map) + one (doc, bucket)
    keyed count, map-side combined; only non-zero cells are emitted
    (sparse rows).  Output: ``(doc_id, bucket, val)`` with
    ``val = Σ sign`` over the doc's tokens in that bucket."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    toks = (df.select(F.col(id_col).alias("_id"),
                      F.explode(F.split(F.trim(F.col(text_col)), _WS))
                      .alias("token"))
            .where(F.col("token") != ""))
    h = F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10) \
         .cast("long")
    hashed = toks.select("_id", h.alias("h"))
    b = int(n_buckets)
    # exact integer DIV for the sign bit (float / would round past 2^53)
    sign = F.when(F.expr(f"(h DIV {b}) % 2") == 0,
                  F.lit(1)).otherwise(F.lit(-1))
    cells = (hashed.select("_id", (F.col("h") % b).alias("bucket"),
                           sign.alias("sign"))
             .groupBy("_id", "bucket")
             .agg(F.sum("sign").alias("val"))
             .where(F.col("val") != 0))
    return cells.select(F.col("_id").alias(id_col),
                        F.col("bucket").cast("int").alias("bucket"),
                        F.col("val").cast("long").alias("val"))


def nb_train(df: DataFrame, min_count: int = 2,
             id_col: str = "doc_id", class_col: str = "source",
             text_col: str = "text") -> DataFrame:
    """Multinomial Naive-Bayes training table (McCallum & Nigam 1998):
    per (class, token) the Laplace-smoothed conditional probability

        p_e6 = (cnt + 1) * 10^6 DIV (n_class_tokens + V)

    over term frequencies (not document frequencies — the multinomial
    event model), with the vocabulary V = tokens whose TOTAL corpus
    count >= ``min_count`` (rare-token cut, standard NB hygiene), plus
    the class prior ``prior_e6 = class_docs * 10^6 DIV n_docs`` on
    every row.  Only OBSERVED (class, token) pairs are emitted — the
    unseen-pair probability is derivable from (n_class_tokens, V)
    which every row carries, so the model table stays sparse
    (classes x |V| dense would explode at corpus scale).

    Scale shape: one (class, token) term-frequency agg + one token
    rollup (the vocab cut) + one class rollup, all map-side combined;
    decorations are broadcast-sized joins (vocab-keyed, class-keyed).
    Output: ``(class, token, cnt, n_class_tokens, vocab_size, p_e6,
    prior_e6)``."""
    toks = (df.select(F.col(class_col).alias("cls"),
                      F.explode(F.split(F.trim(F.col(text_col)), _WS))
                      .alias("token"))
            .where(F.col("token") != ""))
    ct = toks.groupBy("cls", "token").agg(
        F.count(F.lit(1)).alias("cnt"))
    vocab = (ct.groupBy("token").agg(F.sum("cnt").alias("n_tot"))
             .where(F.col("n_tot") >= min_count).select("token"))
    v_size = vocab.select(F.count(F.lit(1)).alias("vocab_size"))
    ct_v = ct.join(vocab, "token")
    csize = ct_v.groupBy("cls").agg(
        F.sum("cnt").alias("n_class_tokens"))
    cdocs = (df.groupBy(F.col(class_col).alias("cls"))
             .agg(F.count(F.lit(1)).alias("n_cls_docs")))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    out = (ct_v.join(F.broadcast(csize), "cls")
           .crossJoin(F.broadcast(v_size))
           .join(F.broadcast(cdocs), "cls")
           .crossJoin(F.broadcast(n_docs))
           .withColumn("p_e6",
                       F.expr("((cnt + 1) * 1000000) DIV "
                              "(n_class_tokens + vocab_size)"))
           .withColumn("prior_e6",
                       F.expr("(n_cls_docs * 1000000) DIV n_docs")))
    return out.select(
        F.col("cls").alias(class_col), "token",
        F.col("cnt").cast("long").alias("cnt"),
        F.col("n_class_tokens").cast("long").alias("n_class_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        "p_e6", "prior_e6")


def knn_classify(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 label_col: str = "label",
                 rank_round: int | None = 4) -> DataFrame:
    """kNN majority-vote classification (Cover & Hart 1967) over an
    embedding column — the label-propagation / weak-labeling step a
    curated corpus runs before training (and the standard embedding
    -quality probe: can neighbors recover the label?).

    Neighbor retrieval is the EXACT partition-local partial top-k
    (:func:`~frogocr_spark.operators.similarity.cosine_topk_partial` —
    shuffle O(P·Q·k), the corpus is never all-pairs joined), ranked on
    the ROUNDED cosine then neighbor id (the contract-stable k-cut,
    see the sim_cosine_* queries).  The vote: per query, the label
    with the highest neighbor count wins; ties break to the SMALLEST
    label — fully deterministic.

    Scale shape: retrieval as above; the Q·k neighbor rows then join
    the corpus label dimension (AQE broadcasts the Q·k side) and one
    (query, label) keyed count + one per-query rank window decide the
    vote.  Output: ``(query_id, true_label, pred_label, n_votes,
    hit)`` with ``hit`` = 1 when prediction equals the query's own
    label."""
    from pyspark.sql import Window

    from .similarity import cosine_topk_partial
    nb = cosine_topk_partial(corpus, queries, k=k, id_col=id_col,
                             vec_col=vec_col, rank_round=rank_round)
    lab = corpus.select(F.col(id_col).alias("neighbor_id"),
                        F.col(label_col).cast("long").alias("_nl"))
    votes = (nb.join(lab, "neighbor_id")
             .groupBy("query_id", "_nl")
             .agg(F.count(F.lit(1)).alias("n_votes")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("_nl"))
    pred = (votes.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select("query_id", F.col("_nl").alias("pred_label"),
                    "n_votes"))
    truth = queries.select(F.col(id_col).alias("query_id"),
                           F.col(label_col).cast("long")
                           .alias("true_label"))
    return (pred.join(truth, "query_id")
            .select("query_id", "true_label", "pred_label",
                    F.col("n_votes").cast("long").alias("n_votes"),
                    (F.col("pred_label") == F.col("true_label"))
                    .cast("long").alias("hit")))


def classification_report(pred: DataFrame,
                          true_col: str = "true_label",
                          pred_col: str = "pred_label") -> DataFrame:
    """Per-class precision/recall report over a prediction table —
    the model-eval step after :func:`knn_classify` (or any labeler),
    integer-exact: ``precision_e6 = diag·10^6 DIV n_pred`` and
    ``recall_e6 = diag·10^6 DIV n_true`` (truncating DIV — no float
    ratio to drift), NULL when the denominator is 0 (a class never
    predicted / never seen).

    Scale shape: two keyed counts over the prediction table (map-side
    combined) + one diagonal count, joined on the bounded class
    universe (rows = distinct labels, not predictions).  Output:
    ``(label, n_true, n_pred, n_correct, precision_e6, recall_e6)``."""
    t = pred.select(F.col(true_col).cast("long").alias("label"))
    p = pred.select(F.col(pred_col).cast("long").alias("label"))
    n_true = t.groupBy("label").agg(F.count(F.lit(1)).alias("n_true"))
    n_pred = p.groupBy("label").agg(F.count(F.lit(1)).alias("n_pred"))
    diag = (pred.where(F.col(true_col) == F.col(pred_col))
            .select(F.col(true_col).cast("long").alias("label"))
            .groupBy("label").agg(F.count(F.lit(1)).alias("n_correct")))
    classes = t.union(p).distinct()
    out = (classes.join(n_true, "label", "left")
           .join(n_pred, "label", "left")
           .join(diag, "label", "left")
           .select("label",
                   F.coalesce("n_true", F.lit(0)).cast("long")
                   .alias("n_true"),
                   F.coalesce("n_pred", F.lit(0)).cast("long")
                   .alias("n_pred"),
                   F.coalesce("n_correct", F.lit(0)).cast("long")
                   .alias("n_correct")))
    return (out.withColumn(
        "precision_e6",
        F.when(F.col("n_pred") > 0,
               F.expr("(n_correct * 1000000) DIV n_pred")))
        .withColumn(
        "recall_e6",
        F.when(F.col("n_true") > 0,
               F.expr("(n_correct * 1000000) DIV n_true"))))


def calibration_bins(df: DataFrame, score, is_pos,
                     n_bins: int = 10) -> DataFrame:
    """Reliability-diagram calibration audit — AUC's companion
    (:func:`~frogocr_spark.operators.analytics.auc_exact` measures
    RANKING; this measures whether the score's LEVEL tracks the
    positive rate): integer scores are normalized over the observed
    range and cut into ``n_bins`` equal-width bins

        bin = (s − smin)·B DIV (smax − smin + 1)

    and each bin reports the normalized mean score vs the empirical
    positive rate, both as truncating e6 divisions, plus their absolute
    gap (the per-bin ECE contribution) — every step integer/DECIMAL
    exact, no float.  A constant score collapses to bin 0 with NULL
    mean/gap (normalization undefined; the rate still reports).

    Scale shape: the (smin, smax) range is a 1-row aggregate broadcast
    back (never a sort); binning is a pure map; the report is ONE
    map-side-combined keyed agg over ≤ ``n_bins`` groups.  Output:
    ``(bin, n, pos_rate_e6, mean_score_e6, gap_e6)``."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    base = df.select(score.cast("long").alias("s"),
                     is_pos.cast("long").alias("y"))
    rng = base.groupBy().agg(F.min("s").alias("smin"),
                             F.max("s").alias("smax"))
    b = (base.crossJoin(F.broadcast(rng))
         .withColumn("bin", F.when(
             F.col("smax") > F.col("smin"),
             F.expr(f"((s - smin) * {int(n_bins)}) "
                    "DIV (smax - smin + 1)")).otherwise(F.lit(0))))
    agg = (b.groupBy("bin")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("s").alias("ss"), F.sum("y").alias("sy"),
                F.max("smin").alias("smin"),
                F.max("smax").alias("smax")))
    out = agg.select(
        F.col("bin").cast("long").alias("bin"), "n",
        F.expr("(CAST(sy AS DECIMAL(38,0)) * 1000000) DIV n")
        .cast("long").alias("pos_rate_e6"),
        F.when(F.col("smax") > F.col("smin"), F.expr(
            "((CAST(ss AS DECIMAL(38,0)) - CAST(n AS DECIMAL(38,0)) "
            "* smin) * 1000000) DIV (CAST(n AS DECIMAL(38,0)) "
            "* (smax - smin))").cast("long")).alias("mean_score_e6"))
    return out.withColumn(
        "gap_e6", F.abs(F.col("mean_score_e6") - F.col("pos_rate_e6"))
        .cast("long"))


def ring_negatives(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", k: int = 3) -> DataFrame:
    """Deterministic negative sampling for contrastive training — each
    anchor takes the next ``k`` documents in the md5-shuffled ring as
    negatives (seedless pseudo-random permutation: rank under the
    ``(md5(id), id)`` total order, candidates at ring offsets 1..k),
    rejecting the anchor itself and any EXACT duplicate of it (same
    ``md5(text)`` — those are positives, not negatives).  Seedless and
    append-aware: the permutation is a pure function of ids, so the
    sample is reproducible across runs and engines.

    Scale shape: the permutation rides the range-partitioned
    :func:`~frogocr_spark.operators.ranking.global_rank` (eager — see
    its note); the candidate fan-out is ``explode(sequence(1, k))``
    (k rows per anchor, no pair space); the resolve is ONE equi-join on
    the ring rank — a uniform synthetic key, skew-free by construction.
    Output: ``(doc_id, slot, neg_id)`` — up to k rows per anchor
    (fewer when ring neighbors were duplicates)."""
    if k < 1:
        # sequence(1, 0) in Spark counts DOWN to [1, 0] — a silent
        # k=0 would emit slot-0 self rows instead of nothing
        raise ValueError(f"k must be >= 1, got {k}")
    from .ranking import global_rank
    base = df.select(F.col(id_col).alias("_id"),
                     F.md5(F.col(text_col)).alias("_h"),
                     F.md5(F.col(id_col).cast("string")).alias("_o"))
    r = global_rank(base, ["_o", "_id"], rank_col="rk")
    n = r.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    cand = (r.crossJoin(F.broadcast(n))
            .select("_id", "_h", "rk", "_n",
                    F.explode(F.expr(f"sequence(1, {int(k)})"))
                    .alias("slot"))
            .withColumn("nrk", (F.col("rk") - 1 + F.col("slot"))
                        % F.col("_n") + 1))
    neg = r.select(F.col("rk").alias("nrk"),
                   F.col("_id").alias("neg_id"),
                   F.col("_h").alias("_nh"))
    return (cand.join(neg, "nrk")
            .where((F.col("neg_id") != F.col("_id"))
                   & (F.col("_h") != F.col("_nh")))
            .select(F.col("_id").alias(id_col),
                    F.col("slot").cast("long").alias("slot"), "neg_id"))


def time_embargo_split(df: DataFrame, ts_micros,
                       train_pct: int = 80,
                       embargo_pct: int = 2) -> DataFrame:
    """Chronological train/test split with a purge embargo — the
    leakage control for models whose labels look FORWARD in time
    (rows spanning the boundary leak test information into training;
    the purged/embargoed split is standard evaluation practice in
    financial ML): the observed time range is cut at
    ``train_pct`` %, the next ``embargo_pct`` % is DISCARDED, the rest
    is test.  Boundaries are exact integer microsecond arithmetic
    (``tmin + Δ·pct DIV 100``), so the assignment is reproducible
    across engines and appends never move old boundaries backward
    silently (re-derive on a frozen range for that).

    Scale shape: ONE 1-row min/max agg broadcast back, split label =
    pure map, ONE keyed agg over 3 groups.  Output: one row per
    non-empty split ``(split, n, first_us, last_us)``."""
    if not (0 < train_pct and train_pct + embargo_pct < 100):
        raise ValueError("need 0 < train_pct and "
                         "train_pct + embargo_pct < 100")
    base = df.select(ts_micros.cast("long").alias("us"))
    rng = base.groupBy().agg(F.min("us").alias("tmin"),
                             F.max("us").alias("tmax"))
    t_tr = F.expr(f"tmin + ((tmax - tmin) * {int(train_pct)}) DIV 100")
    t_em = F.expr(f"tmin + ((tmax - tmin) * "
                  f"{int(train_pct) + int(embargo_pct)}) DIV 100")
    lab = (base.crossJoin(F.broadcast(rng))
           .withColumn("split",
                       F.when(F.col("us") < t_tr, "train")
                       .when(F.col("us") < t_em, "embargo")
                       .otherwise(F.lit("test"))))
    return (lab.groupBy("split")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.min("us").alias("first_us"),
                 F.max("us").alias("last_us")))


def hash_collision_audit(df: DataFrame, widths: tuple = (256, 1024, 4096),
                         text_col: str = "text",
                         ngram: int = 1) -> DataFrame:
    """Hashing-trick collision audit — the width-sizing companion to
    :func:`feature_hash`: for each candidate bucket width, how many
    DISTINCT tokens share a bucket with another token (``colliding``),
    what fraction of the vocabulary that is (``collision_e6``), how
    many buckets are occupied, and the worst bucket load.  Same 60-bit
    md5 hash as feature_hash, so the audit measures exactly the
    collisions the featurizer will incur.  ``ngram`` switches the
    feature vocabulary to word n-grams (the feature space that
    actually stresses small widths).

    Scale shape: ONE distinct-token pass + one md5 per token, a 3-row
    broadcast widths cross (3 rows per token, never per occurrence),
    ONE (width, bucket) keyed count and ONE width-keyed rollup — all
    map-side combined.  Output: one row per width ``(n_buckets,
    n_tokens, occupied, colliding, collision_e6, max_load)``."""
    if not widths or min(int(w) for w in widths) < 2:
        raise ValueError(f"widths must all be >= 2, got {widths}")
    from frogocr_spark.operators.dedup import _shingle_expr
    toks = (df.select(F.explode(
        _shingle_expr(text_col, ngram, None)).alias("token"))
        .where(F.col("token") != "").distinct())
    h = (F.conv(F.substring(F.md5(F.col("token")), 1, 15), 16, 10)
         .cast("long"))
    wdf = df.sparkSession.createDataFrame(
        [(int(w),) for w in sorted(widths)], "n_buckets long")
    cells = (toks.select(h.alias("h"))
             .crossJoin(F.broadcast(wdf))
             .groupBy("n_buckets", F.expr("h % n_buckets").alias("b"))
             .agg(F.count(F.lit(1)).alias("c")))
    return (cells.groupBy("n_buckets")
            .agg(F.sum("c").cast("long").alias("n_tokens"),
                 F.count(F.lit(1)).cast("long").alias("occupied"),
                 F.sum(F.when(F.col("c") >= 2, F.col("c"))
                       .otherwise(F.lit(0))).cast("long")
                 .alias("colliding"),
                 F.max("c").cast("long").alias("max_load"))
            .select("n_buckets", "n_tokens", "occupied", "colliding",
                    F.expr("(CAST(colliding AS DECIMAL(38,0)) "
                           "* 1000000) DIV n_tokens").cast("long")
                    .alias("collision_e6"), "max_load"))


def isotonic_calibration(df: DataFrame, score, is_pos,
                         n_bins: int = 10,
                         key_scale: int = 10 ** 12) -> DataFrame:
    """Isotonic (PAVA) calibration of a score against binary labels —
    the monotone recalibration step after :func:`calibration_bins`
    reveals a mis-calibrated classifier (Zadrozny & Elkan 2002): fit
    the best NON-DECREASING probability per score bin.

    Instead of the sequential pool-adjacent-violators sweep, this uses
    PAVA's closed-form minimax characterization — for ordered bins with
    weights c (counts) and totals p (positives),

        fit_i = max_{j ≤ i} min_{k ≥ i} mean(p[j..k]) / mean-weight,

    with every candidate interval mean represented as the INTEGER key
    ``(Δp · key_scale) DIV Δc``.  Both engines fold the identical keys,
    so the result is engine-exact by construction; the key-minimax
    equals the true rational minimax whenever key_scale ≥ n² (distinct
    rationals with denominators ≤ n differ by > 1/n²) — at the default
    1e12 that holds to corpora of 10⁶ labeled rows; beyond, raise
    key_scale (and move the arithmetic to DECIMAL).

    Scale shape: the corpus-scale work is the same pure-map binning +
    ONE ≤n_bins-row keyed agg as ``calibration_bins``; the minimax runs
    on the BOUNDED bin table (n_bins³ candidate triples — broadcast
    joins over ≤ n_bins-row relations, the documented bounded-small-
    table exemption to the no-cartesian rule).  Output: ``(bin, n,
    pos_rate_e6, fit_e6)``, fit non-decreasing in bin."""
    from pyspark.sql import Window

    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    if key_scale < 10 ** 6 or key_scale % 10 ** 6:
        # fit_e6 = key DIV (key_scale/1e6): a scale below 1e6 (or not a
        # multiple) would make that divisor 0 / lossy
        raise ValueError(f"key_scale must be a multiple of 1e6 >= 1e6, "
                         f"got {key_scale}")
    base = df.select(score.cast("long").alias("s"),
                     is_pos.cast("long").alias("y"))
    rng = base.groupBy().agg(F.min("s").alias("smin"),
                             F.max("s").alias("smax"))
    b = (base.crossJoin(F.broadcast(rng))
         .withColumn("bin", F.when(
             F.col("smax") > F.col("smin"),
             F.expr(f"((s - smin) * {int(n_bins)}) "
                    "DIV (smax - smin + 1)")).otherwise(F.lit(0))))
    bins = (b.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("c"), F.sum("y").alias("p")))
    # bounded ≤ n_bins rows from here on: a single unpartitioned window
    # is fine (and necessary — the bins are one ordered sequence)
    w = Window.orderBy("bin")
    cum = (bins
           .withColumn("i", F.row_number().over(w))
           .withColumn("cc", F.sum("c").over(w))
           .withColumn("cy", F.sum("p").over(w))
           .localCheckpoint(eager=True))
    lo = cum.select(F.col("i").alias("j"),
                    (F.col("cy") - F.col("p")).alias("cy0"),
                    (F.col("cc") - F.col("c")).alias("cc0"))
    hi = cum.select(F.col("i").alias("k"), F.col("cy").alias("cy1"),
                    F.col("cc").alias("cc1"))
    pairs = (lo.join(hi, F.col("k") >= F.col("j"))
             .select("j", "k",
                     F.expr(f"((cy1 - cy0) * CAST({int(key_scale)} "
                            "AS BIGINT)) DIV (cc1 - cc0)")
                     .alias("key")))
    idx = cum.select(F.col("i").alias("t"))
    fit = (pairs.join(idx, (F.col("j") <= F.col("t"))
                      & (F.col("k") >= F.col("t")))
           .groupBy("t", "j").agg(F.min("key").alias("mk"))
           .groupBy("t").agg(F.max("mk").alias("fk")))
    return (cum.join(fit, cum["i"] == fit["t"])
            .select(F.col("bin").cast("long").alias("bin"),
                    F.col("c").cast("long").alias("n"),
                    F.expr("(CAST(p AS DECIMAL(38,0)) * 1000000) DIV c")
                    .cast("long").alias("pos_rate_e6"),
                    F.expr(f"fk DIV {int(key_scale) // 10 ** 6}")
                    .cast("long").alias("fit_e6")))


def conformal_threshold(df: DataFrame, group_col: str, score,
                        id_col: str, *, alpha_num: int = 1,
                        alpha_den: int = 10,
                        calib_hex: str = "8") -> DataFrame:
    """Split-conformal upper prediction bound per group (Vovk;
    Papadopoulos 2002 inductive form) — the distribution-free way to
    turn ANY score into a threshold with a finite-sample coverage
    guarantee (the statistically sound cut for outlier gates and
    quality filters):

    - calibration half: ids whose ``md5`` first hex digit sorts below
      ``calib_hex`` (default 8/16 = 50%) — the repo's standard
      seedless, engine-portable split (same family as ``hash_split``);
    - threshold = the k-th smallest calibration score under the total
      order (score, id), k = ⌈(n_cal+1)·(1−α)⌉ — the conformal
      quantile, NULL when k > n_cal (too few calibration points for
      the requested α: no finite bound exists);
    - audit: empirical coverage on the held-out half, n_covered·1e6
      DIV n_eval — exchangeability says E[coverage] ≥ 1−α.

    Scale shape: the split is a pure map; the k-th order statistic
    rides ONE per-group rank window (full parallelism across groups;
    a degenerate single group serializes only itself — the documented
    ``quantile_summary`` trade); the eval pass is one broadcast join
    of the ≤|groups| threshold table + one keyed agg.  Output:
    ``(group, n_cal, k, thr, n_eval, coverage_e6)``."""
    from pyspark.sql import Window

    if not (0 < alpha_num < alpha_den):
        raise ValueError(
            f"need 0 < alpha_num < alpha_den, got {alpha_num}/{alpha_den}")
    import re as _re
    if not _re.fullmatch(r"[0-9a-f]", calib_hex):
        raise ValueError(f"calib_hex must be one lowercase hex digit, "
                         f"got {calib_hex!r}")
    keep = alpha_den - alpha_num
    base = df.select(F.col(group_col).alias("group"),
                     score.cast("long").alias("s"),
                     F.col(id_col).cast("string").alias("_id"))
    half = F.substring(F.md5(F.col("_id")), 1, 1)
    calib = base.where(half < calib_hex)
    holdout = base.where(half >= calib_hex)
    w = Window.partitionBy("group").orderBy("s", "_id")
    ranked = (calib
              .withColumn("rn", F.row_number().over(w))
              .withColumn("n_cal", F.count(F.lit(1)).over(
                  Window.partitionBy("group")))
              .withColumn("k", F.expr(
                  f"((n_cal + 1) * {int(keep)} + {int(alpha_den)} - 1) "
                  f"DIV {int(alpha_den)}")))
    stats = (ranked.groupBy("group")
             .agg(F.max("n_cal").cast("long").alias("n_cal"),
                  F.max("k").cast("long").alias("k"),
                  F.max(F.when(F.col("rn") == F.col("k"), F.col("s")))
                  .cast("long").alias("thr")))
    cov = (holdout.join(F.broadcast(stats), "group")
           .groupBy("group")
           .agg(F.count(F.lit(1)).cast("long").alias("n_eval"),
                F.sum(F.when(F.col("s") <= F.col("thr"), 1)
                      .otherwise(0)).alias("n_cov")))
    return (stats.join(cov, "group", "left")
            .select("group", "n_cal", "k", "thr",
                    F.coalesce("n_eval", F.lit(0)).cast("long")
                    .alias("n_eval"),
                    F.when(F.col("thr").isNotNull()
                           & (F.col("n_eval") > 0),
                           F.expr("(n_cov * CAST(1000000 AS BIGINT)) "
                                  "DIV n_eval")).cast("long")
                    .alias("coverage_e6")))


def cv_stump(df: DataFrame, value_col, label_col,
             id_col: str = "event_id", k: int = 5) -> DataFrame:
    """k-fold cross-validation of the exact 1R decision stump
    (analytics.decision_stump): fold = md5(id) mod k (seedless,
    engine-portable, stable under repartitioning — the same digest
    idiom as hash_split), train on the other k−1 folds, report exact
    test-fold accuracy counts per fold.  THE standard audit separating
    a rule's training fit from its generalization — a stump whose
    train_correct/train_total is far above test_correct/test_total is
    memorizing its cut.

    Scale shape: the fold column is a pure map; each fold's training
    pass is the stump's one map-side-combined count + range-partitioned
    prefix sum, and its evaluation is ONE filter + agg — 2k bounded
    passes total (k is a small constant; the input is localCheckpointed
    once so the scan is not re-read from source k times).  EAGER at
    call time (documented house rule for rule-extracting learners);
    driver state = k one-row rules.  Output: k rows
    ``(fold, rule, threshold, train_correct, train_total,
    test_correct, test_total)``.
    """
    from frogocr_spark.operators.analytics import decision_stump

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    fold = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")),
                               1, 15), 16, 10).cast("long") % k)
    base = df.select(value_col.cast("long").alias("_v"),
                     F.when(label_col, 1).otherwise(0).alias("_y"),
                     fold.alias("_f")).localCheckpoint()
    rows = []
    for f in range(k):
        rule = decision_stump(base.where(F.col("_f") != f),
                              F.col("_v"), F.col("_y") == 1
                              ).collect()[0]
        pred_pos = (F.col("_v") <= F.lit(rule["threshold"])
                    if rule["rule"] == "le"
                    else F.col("_v") > F.lit(rule["threshold"]))
        ev = (base.where(F.col("_f") == f)
              .agg(F.count("*").alias("tt"),
                   F.coalesce(F.sum(F.when(
                       pred_pos == (F.col("_y") == 1), 1).otherwise(0)),
                       F.lit(0)).alias("tc")).collect()[0])
        rows.append((f, rule["rule"], int(rule["threshold"]),
                     int(rule["n_correct"]), int(rule["n_total"]),
                     int(ev["tc"]), int(ev["tt"])))
    return df.sparkSession.createDataFrame(
        rows, "fold int, rule string, threshold long, "
              "train_correct long, train_total long, "
              "test_correct long, test_total long")
