"""Feature/association statistics over the document corpus — the
model-prep layer between curation and training: which terms
characterize a source (chi-square feature selection), which token
pairs are collocations (PMI), does variant B convert better (two
proportion z-test), how lexically diverse is each document
(type/token + Gini-Simpson ingredients).

Engine-portability is the design constraint throughout (the lesson of
the cosine/BM25 families): every statistic that feeds a FILTER or a
RANK is computed as exact integer arithmetic — wide products in
DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), one truncating integer
division ``num DIV den`` scaled by 10^6 where a ratio is needed (both
engines truncate identically for non-negative operands; verified in
tests), never a float whose last ulp could flip a rank at the k-cut or
a significance decision at the boundary.

Reference parity: the reference keeps per-document confidence
statistics for its quality gates (SURVEY.md §2 A1/A9, e.g.
Source/Core/Text.cpp confidence averages); this module is the
corpus-level generalization a 100 TB curation pipeline runs before
sampling a training mix.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_WS = r"\s+"
_DEC = "decimal(38,0)"


def _doc_tokens_distinct(df: DataFrame, id_col: str, text_col: str,
                         *extra) -> DataFrame:
    """(_id, *extra, token) — per-doc DISTINCT whitespace tokens (the
    textstats tokenization contract)."""
    return (df.select(F.col(id_col).alias("_id"), *extra,
                      F.explode(F.split(F.trim(F.col(text_col)), _WS))
                      .alias("token"))
            .where(F.col("token") != "")
            .dropDuplicates())


def chi2_terms(df: DataFrame, k: int = 10, min_df: int = 3,
               id_col: str = "doc_id", class_col: str = "source",
               text_col: str = "text") -> DataFrame:
    """Chi-square feature selection: for every class (e.g. ``source``),
    the ``k`` tokens most positively associated with it by the classic
    2x2 contingency chi-square — the standard "which terms characterize
    this slice of the corpus" audit (Manning & Schütze ch. 5).

    Per observed (class, token) pair with document frequency ≥
    ``min_df``: contingency cells a (docs of the class containing the
    token), b (other docs containing it), c (class docs without it),
    d (other docs without it), and

        chi2_e6 = (N * (a*d - b*c)^2 * 10^6) DIV ((a+b)(c+d)(a+c)(b+d))

    — the chi-square statistic in exact millionths: every product is
    DECIMAL(38,0)-exact and the single truncating division is
    identical in every engine, so the per-class rank (chi2_e6 desc,
    token asc) is fully deterministic.  Only POSITIVE associations
    (a*d > b*c) are ranked: the negative tail answers a different
    question and would swamp the per-class list with every other
    class's markers.  Pairs where the token appears in all documents
    (b+d = 0) are degenerate and dropped.

    Scale shape: per-doc distinct tokens (one keyed dedup), then the
    (class, token) counts, token df, and class sizes are three
    map-side-combined aggregations; df/class/N decorations join on
    token (broadcast-sized: the vocabulary after ``min_df``) and class
    (tiny).  The final cut is a per-class rank window — #classes
    groups, never a global sort.  Output: (class, token, a, b, c, d,
    chi2_e6, rank)."""
    toks = _doc_tokens_distinct(df, id_col, text_col,
                                F.col(class_col).alias("cls"))
    act = toks.groupBy("cls", "token").agg(
        F.count(F.lit(1)).alias("a"))
    dfreq = act.groupBy("token").agg(F.sum("a").alias("n_t"))
    csize = (df.groupBy(F.col(class_col).alias("cls"))
             .agg(F.count(F.lit(1)).alias("n_c")))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    cells = (act.join(dfreq.where(F.col("n_t") >= min_df), "token")
             .join(F.broadcast(csize), "cls")
             .crossJoin(F.broadcast(n_docs))
             .withColumn("b", F.col("n_t") - F.col("a"))
             .withColumn("c", F.col("n_c") - F.col("a"))
             .withColumn("d", F.col("n_docs") - F.col("n_c")
                         - F.col("b")))
    dec = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    num = (dec("n_docs")
           * (dec("a") * dec("d") - dec("b") * dec("c"))
           * (dec("a") * dec("d") - dec("b") * dec("c"))
           * F.lit(1000000).cast(_DEC))
    den = ((dec("a") + dec("b")) * (dec("c") + dec("d"))
           * (dec("a") + dec("c")) * (dec("b") + dec("d")))
    # Spark's DIV operator is only exposed through SQL syntax — name
    # the wide operands, then one expr for the truncating division.
    scored = (cells
              .where(dec("a") * dec("d") > dec("b") * dec("c"))
              .where((F.col("b") + F.col("d")) > 0)
              .withColumn("_num", num).withColumn("_den", den)
              .withColumn("chi2_e6", F.expr("_num DIV _den")))
    w = Window.partitionBy("cls").orderBy(F.col("chi2_e6").desc(),
                                          F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("cls").alias(class_col), "token",
                    F.col("a").cast("long").alias("a"),
                    F.col("b").cast("long").alias("b"),
                    F.col("c").cast("long").alias("c"),
                    F.col("d").cast("long").alias("d"),
                    "chi2_e6", F.col("rank").cast("int").alias("rank")))


def pmi_bigrams(df: DataFrame, k: int = 50, min_count: int = 5,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Pointwise-mutual-information collocations: the ``k`` adjacent
    token pairs with the highest ``p(xy) / (p(x)p(y))`` lift —
    multiword-expression discovery for tokenizer/vocab curation
    (Church & Hanks 1990).  PMI's ``log`` is monotone, so ranking on
    the exact scaled ratio

        pmi_e6 = (n_xy * N * 10^6) DIV (n_x * n_y)

    (N = total token count) needs no float at all: products in
    DECIMAL(38,0), one truncating division, ties (pmi_e6 desc, x asc,
    y asc).  Pairs below ``min_count`` occurrences are cut first (raw
    PMI is notoriously noisy on hapax pairs).

    Scale shape: bigrams via an index-zip inside each document (a pure
    map — no self-join on position), then ONE pair-keyed count and ONE
    token-keyed count, both map-side combined; unigram decorations
    join on the token (vocabulary-sized); the final cut is
    TakeOrdered-style (orderBy + limit) so each partition prunes to k
    locally.  Output: (x, y, n_xy, n_x, n_y, pmi_e6)."""
    toks = (df.select(F.col(id_col).alias("_id"),
                      F.array_remove(
                          F.split(F.trim(F.col(text_col)), _WS), "")
                      .alias("ws")))
    uni = (toks.select(F.explode("ws").alias("token"))
           .groupBy("token").agg(F.count(F.lit(1)).alias("n_tok")))
    n_total = uni.select(F.sum("n_tok").alias("n_all"))
    pairs = (toks.select(F.explode(F.expr(
        "transform(sequence(1, greatest(size(ws) - 1, 0)), "
        "j -> struct(element_at(ws, j) AS x, "
        "element_at(ws, j + 1) AS y))")).alias("p"))
        .select("p.x", "p.y")
        .groupBy("x", "y").agg(F.count(F.lit(1)).alias("n_xy"))
        .where(F.col("n_xy") >= min_count))
    dec = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    scored = (pairs
              .join(uni.select(F.col("token").alias("x"),
                               F.col("n_tok").alias("n_x")), "x")
              .join(uni.select(F.col("token").alias("y"),
                               F.col("n_tok").alias("n_y")), "y")
              .crossJoin(F.broadcast(n_total))
              .withColumn("_num", dec("n_xy") * dec("n_all")
                          * F.lit(1000000).cast(_DEC))
              .withColumn("_den", dec("n_x") * dec("n_y"))
              .withColumn("pmi_e6", F.expr("_num DIV _den")))
    return (scored.orderBy(F.col("pmi_e6").desc(), F.col("x").asc(),
                           F.col("y").asc())
            .limit(k)
            .select("x", "y", F.col("n_xy").cast("long").alias("n_xy"),
                    F.col("n_x").cast("long").alias("n_x"),
                    F.col("n_y").cast("long").alias("n_y"), "pmi_e6"))


def two_prop_test(events: DataFrame, convert_type: str = "purchase",
                  user_col: str = "user_id",
                  type_col: str = "event_type",
                  alpha_num: int = 38416,
                  alpha_den: int = 10000) -> DataFrame:
    """Two-proportion z-test for an A/B experiment, decided EXACTLY:
    variant = ``user_id % 2`` (the deterministic assignment a seedless
    contract needs), conversion = the user has ≥ 1 ``convert_type``
    event.  With n_v users and c_v conversions per variant, T = n1+n2,
    C = c1+c2, the pooled z² statistic is the exact rational

        z² = (c1·n2 − c2·n1)² · T  /  (n1 · n2 · C · (T − C))

    so the significance decision at z² > alpha_num/alpha_den (default
    1.96² = 3.8416, two-sided α = 0.05) is ONE exact integer
    cross-multiplication in DECIMAL(38,0) — no float ever, no boundary
    ambiguity.  ``z2_e6`` (millionths, truncating DIV) is emitted for
    reporting.  Degenerate experiments (C = 0 or C = T: no variance)
    emit NULL z2_e6 and significant = false.

    Scale shape: ONE user-keyed aggregation (map-side combined) → ONE
    2-row variant aggregation → a 1-row result; nothing wider than the
    user relation ever shuffles.  Output: (n1, c1, n2, c2, z2_e6,
    significant)."""
    per_user = (events
                .groupBy(F.col(user_col).alias("uid"))
                .agg(F.max(F.when(F.col(type_col) == convert_type, 1)
                           .otherwise(0)).alias("conv")))
    per_variant = (per_user
                   .groupBy((F.col("uid") % 2).alias("variant"))
                   .agg(F.count(F.lit(1)).alias("n"),
                        F.sum("conv").alias("c")))
    one = (per_variant.groupBy()
           .agg(F.max(F.when(F.col("variant") == 0, F.col("n")))
                .alias("n1"),
                F.max(F.when(F.col("variant") == 0, F.col("c")))
                .alias("c1"),
                F.max(F.when(F.col("variant") == 1, F.col("n")))
                .alias("n2"),
                F.max(F.when(F.col("variant") == 1, F.col("c")))
                .alias("c2")))
    dec = lambda c: F.col(c).cast(_DEC)  # noqa: E731
    t = dec("n1") + dec("n2")
    cc = dec("c1") + dec("c2")
    diff = dec("c1") * dec("n2") - dec("c2") * dec("n1")
    num = diff * diff * t
    den = dec("n1") * dec("n2") * cc * (t - cc)
    out = (one.withColumn("_num", num).withColumn("_den", den)
           .withColumn(
               "z2_e6",
               F.when(F.col("_den") > 0,
                      F.expr("(_num * 1000000) DIV _den")))
           .withColumn(
               "significant",
               F.coalesce(
                   F.col("_den") > 0, F.lit(False))
               & (F.col("_num") * F.lit(alpha_den).cast(_DEC)
                  > F.col("_den") * F.lit(alpha_num).cast(_DEC))))
    return out.select(
        F.col("n1").cast("long"), F.col("c1").cast("long"),
        F.col("n2").cast("long"), F.col("c2").cast("long"),
        "z2_e6", F.coalesce("significant", F.lit(False))
        .alias("significant"))


def lexical_diversity(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document lexical-diversity profile — the vocabulary-health
    gate next to the Gopher repetition stats: token count, type count,
    hapax count (types occurring once), the Gini-Simpson repeat
    ingredients (``simpson_num = Σ c·(c−1)`` over per-doc token counts
    — repeat probability numerator against the ``n·(n−1)`` denominator
    the caller forms), and an exact type/token ratio in millionths
    (``ttr_e6 = types·10^6 DIV tokens`` — int64-exact, no float).

    Scale shape: one (doc, token) count + one doc-keyed rollup, both
    map-side combined; empty documents emit zeros (and NULL ttr_e6).
    Output: (doc_id, n_tokens, n_types, n_hapax, simpson_num,
    ttr_e6)."""
    tf = (df.select(F.col(id_col).alias("_id"),
                    F.explode(F.split(F.trim(F.col(text_col)), _WS))
                    .alias("token"))
          .where(F.col("token") != "")
          .groupBy("_id", "token").agg(F.count(F.lit(1)).alias("tf")))
    stats = (tf.groupBy("_id")
             .agg(F.sum("tf").alias("n_tokens"),
                  F.count(F.lit(1)).alias("n_types"),
                  F.sum(F.when(F.col("tf") == 1, 1).otherwise(0))
                  .alias("n_hapax"),
                  F.sum(F.col("tf") * (F.col("tf") - 1))
                  .alias("simpson_num")))
    # left join back so empty documents keep a row
    return (df.select(F.col(id_col).alias("_id"))
            .join(stats, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("n_tokens", F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.coalesce("n_types", F.lit(0)).cast("long")
                    .alias("n_types"),
                    F.coalesce("n_hapax", F.lit(0)).cast("long")
                    .alias("n_hapax"),
                    F.coalesce("simpson_num", F.lit(0)).cast("long")
                    .alias("simpson_num"))
            .withColumn("ttr_e6",
                        F.when(F.col("n_tokens") > 0,
                               F.expr("(n_types * 1000000) "
                                      "DIV n_tokens"))))
