"""Distributed BPE merge training — the tokenizer-training step of an
LLM data pipeline, expressed Spark-first.

Classic byte-pair encoding (Sennrich et al. 2016) trains on the WORD
VOCABULARY, not the corpus: the first aggregation collapses the 100 TB
token stream into (word, count) — orders of magnitude smaller and the
only corpus-wide shuffle.  Every merge iteration after that touches
only the vocabulary table:

- pair counting: one keyed aggregation over adjacent symbol pairs,
  weighted by word count — map-side combined, shuffle carries distinct
  pairs only;
- best-pair selection: ORDER BY (count DESC, pair ASC) LIMIT 1 — Spark
  plans TakeOrderedAndProject (per-partition top-1 + driver merge of P
  rows), never a global sort;
- merge application: a pure map stage — a left-to-right greedy fold
  (`F.aggregate`) over each word's symbol array.  The fold IS standard
  BPE's non-overlapping replacement: after a merge the new last symbol
  ``a||b`` can never equal ``a`` again (b is non-empty), so no chained
  re-merge inside one pass.

EXECUTION NOTE: each iteration collects exactly ONE row (the winning
pair) to the driver, so calling :func:`bpe_train` runs ``n_merges``
Spark jobs eagerly (same contract as ``ranking.global_rank``).  The
vocabulary is localCheckpoint'ed per iteration to truncate lineage —
without it every iteration would replay the whole chain.

Determinism contract (what makes the merges engine-exact):
words are restricted to ``^[A-Za-z]+$`` (sidesteps UTF-16-code-unit vs
codepoint indexing differences between engines), counts are exact
int64, ties break on (a ASC, b ASC).

Reference parity: the reference has no tokenizer trainer (it emits
ALTO text); this is part of the training-data-pipeline surface the
brief adds on top (token counting's BPE-ish regex lives in
operators/textstats.py — this module produces the merges themselves).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

_WS = r"\s+"

MERGES_SCHEMA = StructType([
    StructField("merge_rank", IntegerType(), False),
    StructField("a", StringType(), False),
    StructField("b", StringType(), False),
    StructField("merged", StringType(), False),
    StructField("cnt", LongType(), False),
])


def word_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt, syms) for every distinct ``[A-Za-z]+`` word: the one
    corpus-wide aggregation.  ``syms`` = characters + the ``</w>``
    end-of-word marker (so merges can't cross word boundaries and a
    word-final pair differs from a word-internal one, per the paper)."""
    words = (docs
             .select(F.explode(F.split(F.trim(F.col(text_col)), _WS))
                     .alias("word"))
             .filter(F.col("word").rlike("^[A-Za-z]+$")))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    # split("(?!^)") keeps a trailing "" (the lookahead matches at the
    # end-of-string position under Spark's limit=-1) — drop empties
    chars = F.filter(F.split(F.col("word"), "(?!^)"),
                     lambda x: x != F.lit(""))
    return vocab.withColumn(
        "syms", F.concat(chars, F.array(F.lit("</w>"))))


def _apply_merge(syms: F.Column, a: str, b: str, merged: str) -> F.Column:
    """Greedy left-to-right non-overlapping replacement of the adjacent
    pair (a, b) by ``merged`` — one array fold, no Python."""
    a_l, b_l, m_l = F.lit(a), F.lit(b), F.lit(merged)

    def fold(acc, x):
        hit = (F.element_at(acc, -1) == a_l) & (x == b_l)
        return (F.when(hit,
                       F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1),
                                F.array(m_l)))
                .otherwise(F.concat(acc, F.array(x))))

    rest = F.slice(syms, F.lit(2), F.size(syms) - 1)
    return F.aggregate(rest, F.array(F.element_at(syms, 1)), fold)


def _bpe_finish_local(spark: SparkSession, vocab: DataFrame,
                      n_merges: int) -> tuple[DataFrame, DataFrame]:
    """Local merge loop over the collected (bounded) vocabulary —
    bit-identical semantics to the distributed rounds: exact int64 pair
    counts weighted by word count, top-1 tie-broken (pc DESC, a ASC,
    b ASC), greedy left-to-right non-overlapping replacement."""
    from collections import Counter

    rows = [(r["word"], int(r["cnt"]), list(r["syms"]))
            for r in vocab.collect()]
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        pc: Counter = Counter()
        for _, cnt, syms in rows:
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += cnt
        if not pc:
            break
        (a, b), n = min(pc.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merged = a + b
        merges.append((rank, a, b, merged, int(n)))
        for row in rows:
            syms = row[2]
            out = [syms[0]]
            for x in syms[1:]:
                if out[-1] == a and x == b:
                    out[-1] = merged
                else:
                    out.append(x)
            row[2][:] = out
    merges_df = spark.createDataFrame(merges, MERGES_SCHEMA)
    vocab_df = spark.createDataFrame(
        [(w, c, s) for w, c, s in rows],
        "word string, cnt long, syms array<string>")
    return merges_df, vocab_df


def bpe_train(docs: DataFrame, n_merges: int = 6,
              text_col: str = "text",
              driver_finish_words: int = 200_000
              ) -> tuple[DataFrame, DataFrame]:
    """Train ``n_merges`` BPE merges.  Returns ``(merges, vocab)``:
    merges = (merge_rank, a, b, merged, cnt) in training order; vocab =
    the symbolized word table AFTER all merges (word, cnt, syms).

    EAGER: runs ~2 Spark jobs per merge (see module docstring).

    **Hybrid driver finish** (the :func:`~frogocr_spark.operators.dedup.
    dup_clusters_star` pattern): the corpus-wide collapse to
    ``(word, cnt, syms)`` is always distributed, but once that table
    fits ``driver_finish_words`` the ``n_merges`` iterations run as a
    LOCAL loop over the collected vocabulary instead of ~3 whole-cluster
    jobs each — per-iteration job latency is exactly where distributed
    rounds are pure overhead, because every post-collapse iteration
    touches only vocabulary-sized data no matter how big the corpus is.
    Driver cost at the 200k default: ≈ tens of MB.  A vocabulary above
    the budget keeps the fully-distributed rounds.  Both paths produce
    bit-identical merges (differential-tested in
    tests/test_analytics_bpe.py)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    spark = docs.sparkSession
    vocab = word_vocab(docs, text_col).localCheckpoint(eager=True)
    if vocab.count() <= driver_finish_words:
        return _bpe_finish_local(spark, vocab, n_merges)
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        pairs = (vocab
                 .filter(F.size("syms") >= 2)
                 .select("cnt",
                         F.explode(F.arrays_zip(
                             F.slice(F.col("syms"), F.lit(1),
                                     F.size("syms") - 1).alias("a"),
                             F.slice(F.col("syms"), F.lit(2),
                                     F.size("syms") - 1).alias("b")))
                         .alias("p"))
                 .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                 .agg(F.sum("cnt").alias("pc")))
        top = (pairs.orderBy(F.desc("pc"), F.asc("a"), F.asc("b"))
               .limit(1).collect())
        if not top:          # every word fully merged — nothing left
            break
        a, b, pc = top[0]["a"], top[0]["b"], int(top[0]["pc"])
        merged = a + b
        merges.append((rank, a, b, merged, pc))
        vocab = (vocab.withColumn(
            "syms", _apply_merge(F.col("syms"), a, b, merged))
            .localCheckpoint(eager=True))
    merges_df = spark.createDataFrame(merges, MERGES_SCHEMA)
    return merges_df, vocab


def bpe_encode_counts(docs: DataFrame, n_merges: int = 6,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Tokenizer APPLY — the step after :func:`bpe_train` in the LLM
    data pipeline: encode the corpus with the trained merges and report
    per-document token counts (``doc_id, n_words, n_tokens``; the
    pretraining cost/packing statistic).

    Encoding does not re-run merges over the corpus: the trained
    vocabulary table (word → merged symbol sequence) IS the encoder for
    whitespace words, so applying BPE = one word-keyed equi-join of the
    corpus word stream against the vocabulary plus a per-doc
    aggregation — both map-side combinable; the vocabulary side is
    bounded by DISTINCT words (broadcastable when it fits, plain
    shuffle join otherwise — AQE decides).  Words outside the trainer's
    ``[A-Za-z]+`` universe are excluded on both sides (documented
    trainer contract, see module docstring).

    EAGER at plan-construction (bpe_train).  ``n_words`` counts the
    doc's trainable word OCCURRENCES; ``n_tokens`` sums the encoded
    symbol count over those occurrences."""
    _, vocab = bpe_train(docs, n_merges=n_merges, text_col=text_col)
    words = (docs
             .select(F.col(id_col),
                     F.explode(F.split(F.trim(F.col(text_col)), _WS))
                     .alias("word"))
             .filter(F.col("word").rlike("^[A-Za-z]+$")))
    enc = vocab.select("word", F.size("syms").alias("_ntok"))
    return (words.join(enc, "word")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("_ntok").cast("long").alias("n_tokens")))
