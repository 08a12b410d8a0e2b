"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.  All pure column expressions (JVM-side,
whole-stage codegen) — deliberately SQL-expressible.  The ones a
registry row uses have a DuckDB oracle in ``__spark_entry__.oracle_sql``;
the rest are checked against pure-Python twins in the tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tiny deterministic stopword models (n-gram-heuristic stand-ins)
EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "that", "it", "for")
NO_STOPWORDS = ("og", "i", "det", "som", "på", "til", "er", "av", "for", "med")

_WS = r"\s+"


def token_count(text: Column) -> Column:
    """Whitespace token count (empty → 0)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, _WS)))


# BPE-ish pre-tokenization: word runs / digit runs / single punctuation —
# the shape GPT-style pre-tokenizers produce before merges
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(text: Column) -> Column:
    """Count of BPE-style pre-tokens via one regexp_count-equivalent
    (portable: regexp_extract_all → size; DuckDB twin uses
    ``len(regexp_extract_all(...))``)."""
    return F.size(F.regexp_extract_all(text, F.lit(_BPE_RE), F.lit(0)))


def _stopword_hits(text: Column, words: tuple[str, ...]) -> Column:
    """Tokens equal to any stopword — ONE split + one array filter instead
    of a per-stopword regex scan (20× fewer passes over the text)."""
    toks = F.split(F.lower(F.trim(text)), _WS)
    wl = list(words)
    return F.size(F.filter(toks, lambda x: x.isin(wl)))


def language_id(text: Column) -> Column:
    """Heuristic language ID: argmax stopword-hit ratio over tiny models;
    'xx' when no model clears 2% of tokens."""
    toks = token_count(text)
    en = _stopword_hits(text, EN_STOPWORDS)
    no = _stopword_hits(text, NO_STOPWORDS)
    return (F.when(toks == 0, F.lit("xx"))
            .when((en >= no) & (en * 50 >= toks), F.lit("en"))
            .when((no > en) & (no * 50 >= toks), F.lit("no"))
            .otherwise(F.lit("xx")))


def quality_score(text: Column) -> Column:
    """Composite quality in [0,1]: length term, alpha ratio, mean word
    length sanity — rounded to 6 dp for cross-engine stability."""
    t = F.trim(text)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    toks = token_count(t)
    len_term = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    mean_wl = F.when(toks > 0, n_chars / toks).otherwise(F.lit(0.0))
    wl_term = F.when((mean_wl >= 3) & (mean_wl <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_term + alpha_ratio + wl_term) / F.lit(3.0), 6)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text (portable across engines)."""
    norm = F.regexp_replace(F.lower(F.trim(text)), _WS, " ")
    return F.md5(norm)


ROLL_BASE = 1000003          # polynomial rolling-hash base (prime)
ROLL_MOD = 4398046511093     # prime 2^42-11: a modulus class keeping the
#                              fold step acc*BASE+h comfortably below
#                              2^63 (max ≈ 4.40e18 < 9.22e18) — exact
#                              int64 arithmetic under ANSI mode AND in
#                              any SQL engine, so the DuckDB oracle
#                              reproduces it bit-for-bit.  42 bits also
#                              keeps birthday collisions negligible at
#                              corpus scale (a 31-bit modulus collides
#                              from ~10^5 docs; 2^42 pushes the 1%-
#                              collision corpus past 10^8, and roll_fp
#                              is a reorder-detector, not an identity)


def hash_token(tok: str) -> int:
    """Deterministic token hash: first 15 md5 hex chars mod ROLL_MOD —
    stable across processes (no PYTHONHASHSEED dependence) and
    recomputable in SQL (``('0x'||substr(md5(t),1,15))::BIGINT % M``)."""
    import hashlib
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % ROLL_MOD


def rolling_fingerprint(df: DataFrame, text_col: str = "text",
                        out_col: str = "roll_fp") -> DataFrame:
    """Order-sensitive Rabin-Karp fingerprint,
    fp = Σ h(token_i)·BASE^(n-1-i) mod M (unlike the md5 fingerprint,
    reordered/shifted token streams differ) — as a PURE column
    expression: ``F.aggregate`` fold over the token array with md5-based
    token hashes, entirely JVM-side inside whole-stage codegen (the
    round-1 pandas-UDF version ran a per-token per-byte Python loop).
    All arithmetic stays below 2^63 so ANSI overflow checking never
    trips and the DuckDB ``list_reduce`` oracle matches exactly."""
    toks = F.filter(F.split(F.trim(F.col(text_col)), _WS),
                    lambda x: x != "")
    tok_hash = lambda t: (F.conv(F.substring(F.md5(t), 1, 15), 16, 10)
                          .cast("long") % ROLL_MOD)
    fp = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: (acc * ROLL_BASE + tok_hash(t)) % ROLL_MOD)
    return df.withColumn(out_col, fp)


def curation_gates(df: DataFrame, text_col: str = "text",
                   lang: str = "en", min_quality: float = 0.5,
                   min_tokens: int = 5) -> DataFrame:
    """The canonical curation gate set (language + quality + length) of
    the ``curate`` contract query.  Appends lang_id / quality / n_tokens
    columns and filters."""
    c = F.col(text_col)
    return (df.withColumn("lang_id", language_id(c))
            .withColumn("quality", quality_score(c))
            .withColumn("n_tokens", token_count(c))
            .where((F.col("lang_id") == lang)
                   & (F.col("quality") >= min_quality)
                   & (F.col("n_tokens") >= min_tokens)))


def curation_funnel(df: DataFrame, text_col: str = "text",
                    lang: str = "en", min_quality: float = 0.5,
                    min_tokens: int = 5,
                    blocklist: list[str] | None = None) -> DataFrame:
    """The curation funnel report — per ordered gate (language →
    quality → length → blocklist), how many documents enter, drop, and
    survive, with FIRST-FAIL attribution (a doc failing several gates
    is charged to the first, so stage drops sum to total drops — the
    drop-accounting report every curation pipeline prints next to
    :func:`curation_gates`, whose gate expressions it reuses verbatim
    so the two cannot drift).

    Scale shape: ONE map-side-combined aggregation to a single row of
    counters, then an explode of four literal structs builds the
    per-stage rows — no second corpus scan, no join, no window.
    Output: ``(stage_idx, stage, n_in, n_dropped, n_out)``."""
    c = F.col(text_col)
    if blocklist:
        for w in blocklist:
            if not w or w.split() != [w]:
                raise ValueError(f"blocklist entries must be single "
                                 f"whitespace-free words, got {w!r}")
        bl = sorted({w.lower() for w in blocklist})
        blocked = F.size(F.filter(
            F.split(F.trim(F.lower(F.coalesce(c, F.lit("")))), _WS),
            lambda x: (x != "") & x.isin(*bl))) > 0
    else:
        blocked = F.lit(False)
    first = (F.when(language_id(c) != lang, "lang")
             .when(quality_score(c) < min_quality, "quality")
             .when(token_count(c) < min_tokens, "length")
             .when(blocked, "blocklist")
             .otherwise("kept"))
    # coalesce: F.sum over ZERO rows is NULL — an empty corpus must
    # report 0 drops, not NULL counters (ADVICE r3)
    row = df.select(first.alias("_f")).agg(
        F.count(F.lit(1)).alias("_t"),
        *[F.coalesce(F.sum((F.col("_f") == s).cast("long")), F.lit(0))
          .alias(f"_d{i}")
          for i, s in enumerate(
              ("lang", "quality", "length", "blocklist"))])
    stages = []
    in_expr = F.col("_t")
    for i, s in enumerate(("lang", "quality", "length", "blocklist")):
        d = F.col(f"_d{i}")
        stages.append(F.struct(
            F.lit(i).alias("stage_idx"), F.lit(s).alias("stage"),
            in_expr.alias("n_in"), d.alias("n_dropped"),
            (in_expr - d).alias("n_out")))
        in_expr = in_expr - d
    return (row.select(F.explode(F.array(*stages)).alias("_s"))
            .select("_s.stage_idx", "_s.stage", "_s.n_in",
                    "_s.n_dropped", "_s.n_out"))


def with_textstats(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return (df
            .withColumn("n_tokens", token_count(c))
            .withColumn("n_bpe_tokens", bpe_token_count(c))
            .withColumn("lang_id", language_id(c))
            .withColumn("quality", quality_score(c))
            .withColumn("fingerprint", fingerprint(c)))


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (the public Gopher-rules
    family: repetitious documents are low-quality training data):

    - ``n_lines``        non-empty trimmed lines
    - ``dup_line_frac``  1 - distinct_lines/lines (0.0 when no lines)
    - ``top_2gram_frac`` occurrences of the most frequent word bigram /
      total bigrams (0.0 when no bigram)

    Relational formulation (explode → two keyed aggregations with
    map-side combine), deliberately SQL-expressible: shuffles are keyed
    on (doc, line) / (doc, bigram) — never wider than the tokenized
    corpus, and hot keys within one doc combine map-side.  Returns one
    row per input row (docs with no lines/bigrams keep 0.0 fractions)."""
    base = df.select(id_col, text_col)
    lines = base.select(
        id_col,
        F.explode(F.filter(
            F.transform(F.split(F.col(text_col), "\n"),
                        lambda x: F.trim(x)),
            lambda x: x != "")).alias("line"))
    line_stats = (lines.groupBy(id_col, "line")
                  .agg(F.count(F.lit(1)).alias("c"))
                  .groupBy(id_col)
                  .agg(F.sum("c").alias("n_lines"),
                       F.count(F.lit(1)).alias("n_distinct")))
    ws = F.filter(F.split(F.trim(F.col(text_col)), _WS), lambda x: x != "")
    grams = base.select(
        id_col,
        F.explode(F.when(
            F.size(ws) >= 2,
            F.transform(F.slice(ws, 1, F.size(ws) - 1),
                        lambda x, i: F.concat_ws(" ", x, ws[i + 1]))
        ).otherwise(F.array().cast("array<string>"))).alias("gram"))
    gram_stats = (grams.groupBy(id_col, "gram")
                  .agg(F.count(F.lit(1)).alias("c"))
                  .groupBy(id_col)
                  .agg(F.max("c").alias("top_c"),
                       F.sum("c").alias("total_c")))
    return (base.select(id_col)
            .join(line_stats, id_col, "left")
            .join(gram_stats, id_col, "left")
            .select(
                id_col,
                F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
                F.round(F.when(
                    F.col("n_lines").isNotNull(),
                    1.0 - F.col("n_distinct") / F.col("n_lines"))
                    .otherwise(F.lit(0.0)), 6).alias("dup_line_frac"),
                F.round(F.coalesce(
                    F.col("top_c") / F.col("total_c"), F.lit(0.0)), 6)
                .alias("top_2gram_frac")))


def stratified_sample(df: DataFrame, strata_cols: list[str],
                      n_per_stratum: int,
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic stratified downsample: the ``n_per_stratum`` rows
    of each stratum with the smallest ``md5(id)`` — a seedless,
    engine-portable "random" order (md5 is uniform in the id, stable
    across runs/engines, so any engine picks the identical sample).
    The curation use: cap per-stratum volume (e.g. per (lang_id,
    quality bucket)) before expensive downstream stages.

    Scale shape (partial top-k, the same map-side-combine-for-rank
    pattern as similarity.cosine_topk_partial): a naive single window
    per stratum sorts a whole stratum in ONE task — a degenerate
    stratum holding most of the corpus serializes the job.  Instead a
    first window partitioned by (input-partition id, strata) keeps each
    partition's local top-n per stratum — full parallelism regardless
    of stratum skew — and only those ≤ n·P survivors reach the global
    per-stratum window.  Exact: a global top-n row is necessarily a
    local top-n row of its own partition, and the (md5, id) order is
    total (no tie groups to preserve).  ``_pid`` is materialized BEFORE
    the first exchange so the window key reflects the scan partitions.
    """
    from pyspark.sql import Window
    key = F.md5(F.col(id_col).cast("string"))
    w_local = (Window.partitionBy("_pid", *strata_cols)
               .orderBy(key, id_col))
    pruned = (df.withColumn("_pid", F.spark_partition_id())
              .withColumn("_rn", F.row_number().over(w_local))
              .where(F.col("_rn") <= n_per_stratum).drop("_pid", "_rn"))
    w = Window.partitionBy(*strata_cols).orderBy(key, id_col)
    return (pruned.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= n_per_stratum).drop("_rn"))


def cross_doc_ngrams(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 8,
                     min_docs: int = 2) -> DataFrame:
    """Cross-document repeated n-gram detection — the candidate
    generator for substring-level dedup (the public
    train-data-dedup observation: long n-grams shared verbatim across
    documents mark boilerplate/near-copies): every word ``n``-gram
    occurring in at least ``min_docs`` DISTINCT documents, with its
    document frequency.

    Plan: shingle expr (JVM-side) → explode → per-doc distinct (one
    keyed aggregation, map-side combined) → (gram → n_docs) aggregation
    → filter.  Both shuffles are keyed on the gram text; hot grams
    combine map-side, and the ``min_docs`` filter prunes the long tail
    before the result materializes."""
    from .dedup import _shingle_expr
    grams = df.select(
        F.col(id_col).alias("_id"),
        F.explode(_shingle_expr(text_col, n, None)).alias("gram"))
    return (grams.dropDuplicates(["_id", "gram"])
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("n_docs") >= min_docs))


def dup_gram_fraction(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 8,
                      min_docs: int = 2) -> DataFrame:
    """Per-document substring-duplication signal — the resolution side
    of :func:`cross_doc_ngrams`: for each document, the fraction of its
    DISTINCT word ``n``-grams that also occur in at least ``min_docs``
    distinct documents (itself included).  Documents dominated by
    cross-document grams are boilerplate / near-copies at the substring
    level, which whole-document dedup (minhash/simhash) misses.

    Plan (one gram pass, everything keyed on the gram text):
    explode → per-doc distinct → (gram → doc frequency) aggregation →
    re-join the frequency to each (doc, gram) → per-doc counts.  Hot
    grams combine map-side in the frequency aggregation; the re-join
    fans a gram's frequency back only to the documents containing it,
    so no stage is wider than the distinct (doc, gram) relation.
    Returns one row per input row (gram-less docs keep 0 counts)."""
    from .dedup import _shingle_expr
    g = (df.select(F.col(id_col).alias("_id"),
                   F.explode(_shingle_expr(text_col, n, None))
                   .alias("gram"))
         .dropDuplicates(["_id", "gram"]))
    freq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
    per_doc = (g.join(freq, "gram")
               .groupBy("_id")
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.sum((F.col("_df") >= min_docs).cast("long"))
                    .alias("n_dup_grams")))
    return (df.select(id_col)
            .join(per_doc, F.col(id_col) == F.col("_id"), "left")
            .select(
                id_col,
                F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
                F.round(F.coalesce(
                    F.col("n_dup_grams") / F.col("n_grams"), F.lit(0.0)),
                    6).alias("dup_gram_frac")))


def decontaminate(df: DataFrame, eval_df: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  n: int = 8) -> DataFrame:
    """Benchmark decontamination check (the public train-data hygiene
    rule: drop training documents sharing long verbatim n-grams with an
    evaluation set): for each candidate document, how many of its
    distinct word ``n``-grams appear anywhere in ``eval_df``'s text,
    plus the overlap fraction and a contaminated flag (any hit).

    Scale shape: the eval side is benchmarks — thousands of documents,
    millions of grams — while the candidate side is the 100 TB corpus.
    The eval gram set is therefore BROADCAST and the corpus-side probe
    is a broadcast left-semi-style join: the big side is never
    shuffled, no stage is keyed on corpus data.  (tests/test_plans.py
    checks the broadcast actually happens.)  Returns one row per
    candidate row."""
    from .dedup import _shingle_expr
    eval_grams = (eval_df.select(
        F.explode_outer(_shingle_expr(text_col, n, None)).alias("gram"))
        .where(F.col("gram").isNotNull()).distinct())
    cand = (df.select(F.col(id_col).alias("_id"),
                      F.explode(_shingle_expr(text_col, n, None))
                      .alias("gram"))
            .dropDuplicates(["_id", "gram"]))
    hits = (cand.join(F.broadcast(eval_grams), "gram", "left_semi")
            .groupBy("_id")
            .agg(F.count(F.lit(1)).alias("n_overlap")))
    tot = cand.groupBy("_id").agg(F.count(F.lit(1)).alias("n_grams"))
    return (df.select(id_col)
            .join(tot, F.col(id_col) == tot["_id"], "left").drop("_id")
            .join(hits, F.col(id_col) == hits["_id"], "left").drop("_id")
            .select(
                id_col,
                F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
                F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
                F.round(F.coalesce(
                    F.col("n_overlap") / F.col("n_grams"), F.lit(0.0)),
                    6).alias("overlap_frac"),
                (F.coalesce("n_overlap", F.lit(0)) > 0).cast("int")
                .alias("contaminated")))


# portable PII patterns: plain character classes + bounded quantifiers
# only — identical semantics under Java regex (Spark) and RE2 (DuckDB),
# so the scrub is the same byte-for-byte on both engines
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9 -]{6,}[0-9]"


def redact_pii(df: DataFrame, text_col: str = "text",
               email_token: str = "<EMAIL>",
               phone_token: str = "<PHONE>") -> DataFrame:
    """PII redaction pass (training-data hygiene): replace email
    addresses then phone-number runs with fixed tokens, counting each.
    Phones are counted AFTER the email scrub so digits inside an
    address are never double-counted.  Pure column expressions — two
    regexp passes, JVM-side, no shuffle; appends ``n_emails``,
    ``n_phones``, ``scrubbed``."""
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    t1 = F.regexp_replace(t, EMAIL_RE, email_token)
    n_phones = F.size(F.regexp_extract_all(t1, F.lit(PHONE_RE), F.lit(0)))
    return (df.withColumn("n_emails", n_emails)
            .withColumn("n_phones", n_phones)
            .withColumn("scrubbed",
                        F.regexp_replace(t1, PHONE_RE, phone_token)))


def chunk_windows(df: DataFrame, id_col: str = "doc_id",
                  n_tok_col: str = "n_tok", window: int = 512,
                  stride: int = 256) -> DataFrame:
    """Context-window chunking (training-data windowing): each document
    of ``n_tok_col`` tokens yields chunks ``[i·stride,
    min(i·stride + window, n_tok))`` for ``i = 0 .. floor((n_tok-1)/
    stride)`` — overlapping when ``stride < window``, the standard
    sliding-window layout for long-document pretraining.  Zero-token
    docs yield no rows.

    Pure column expressions: one ``sequence`` + ``explode`` per row, no
    shuffle at all — the chunk fan-out happens inside the scan's
    map stage, so the operator costs exactly the output it emits."""
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    n = F.col(n_tok_col)
    idx = F.explode(F.when(
        n > 0, F.sequence(F.lit(0),
                          F.floor((n - 1) / stride).cast("int"))
    ).otherwise(F.array().cast("array<int>"))).alias("chunk_idx")
    out = df.select(id_col, n_tok_col, idx)
    start = F.col("chunk_idx") * stride
    return out.select(
        id_col, "chunk_idx",
        start.cast("int").alias("tok_start"),
        F.least(start + window, F.col(n_tok_col)).cast("int")
        .alias("tok_end"))


def _explode_tokens(df: DataFrame, text_col: str, *cols) -> DataFrame:
    """(*cols, token) rows: whitespace tokens of the trimmed text, empty
    strings dropped (the empty-payload `split` artifact).  The ONE
    tokenization contract shared by every token-keyed operator here."""
    return (df.select(*cols,
                      F.explode(F.split(F.trim(F.col(text_col)), _WS))
                      .alias("token"))
            .where(F.col("token") != ""))


def _tokens_of(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) pairs — :func:`_explode_tokens` keyed on the doc id."""
    return _explode_tokens(df, text_col, F.col(id_col).alias("_id"))


def top_vocabulary(df: DataFrame, k: int, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Corpus vocabulary: the ``k`` most frequent whitespace tokens with
    their total counts, deterministically ordered (count desc, token
    asc — seedless tiebreak, so any engine picks the identical set).
    The first stage of quality scoring / tokenizer training.

    Scale shape: explode → one token-keyed aggregation (map-side
    combined — hot tokens like "the" partial-aggregate in every task)
    → ``orderBy(...).limit(k)``, which Catalyst plans as
    TakeOrderedAndProject: each partition keeps its local top-k and
    only ≤ k·P rows merge at the driver — the vocabulary cut never
    sorts the full token relation, and no single-partition exchange
    appears anywhere (locked by tests/test_plans.py)."""
    counts = (_tokens_of(df, id_col, text_col)
              .groupBy("token").agg(F.count(F.lit(1)).alias("t_count")))
    return counts.orderBy(F.col("t_count").desc(),
                          F.col("token").asc()).limit(k)


def in_vocab_ratio(df: DataFrame, vocab: list[str],
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Common-token quality signal: per document, the fraction of its
    tokens found in ``vocab`` (typically :func:`top_vocabulary` of the
    corpus, or a curated wordlist).  Documents with a low in-vocab
    ratio are gibberish / boilerplate / wrong-language — the
    integer-exact stand-in for a unigram-LM logprob score (a ratio of
    counts has no cross-engine float summation ambiguity; only the
    final division is rounded).

    Scale shape: the vocabulary is bounded by construction (top-k), so
    it ships as a LITERAL into one array-filter expression — the whole
    scorer is a pure column expression inside the scan's map stage;
    the 100 TB corpus side is never shuffled, exploded, or joined."""
    toks = F.split(F.trim(F.col(text_col)), _WS)
    vocab_l = sorted(set(vocab))
    n_tok = token_count(F.col(text_col))
    # Column.isin() rejects an empty argument list — an empty vocabulary
    # legitimately means "nothing is in-vocab"
    n_in = (F.lit(0) if not vocab_l
            else F.size(F.filter(toks, lambda x: x.isin(vocab_l))))
    return df.select(
        id_col, n_tok.alias("n_tok"),
        F.when(n_tok == 0, F.lit(0)).otherwise(n_in).alias("n_invocab"),
        F.round(F.when(n_tok == 0, F.lit(0.0))
                .otherwise(n_in / n_tok), 6).alias("invocab_ratio"))


def mix_sample(df: DataFrame, strata_cols: list[str],
               id_col: str = "doc_id") -> DataFrame:
    """Temperature-scaled corpus mixing: per-stratum cap =
    ``ceil(sqrt(stratum size))`` — the sqrt-scaling rebalance used for
    heavy-tailed domain/language mixes (large strata are downsampled
    hard, small strata kept nearly whole), picked deterministically by
    smallest ``md5(id)`` like :func:`stratified_sample`.  ``sqrt`` is
    IEEE-correctly-rounded in every engine, so the cap — and therefore
    the exact sample — is engine-portable (a free-exponent ``pow`` is
    not).

    Scale shape: stratum sizes are one map-side-combined aggregation
    (output = #strata rows, broadcast back onto the corpus), then the
    same two-level md5 partial top-k prune as stratified_sample — a
    degenerate stratum never serializes into one task.  Output = the
    sampled input rows plus a ``stratum_cap`` int column (the cap that
    admitted the row)."""
    from pyspark.sql import Window
    counts = (df.groupBy(*strata_cols)
              .agg(F.count(F.lit(1)).alias("_n"))
              .withColumn("stratum_cap",
                          F.ceil(F.sqrt(F.col("_n"))).cast("int"))
              .drop("_n"))
    # null-SAFE equality on the stratum keys: a NULL stratum (common in
    # scraped corpora) is a legitimate stratum — a null-unsafe equi-join
    # would silently drop every such row
    caps = F.broadcast(counts.select(
        *[F.col(c).alias(f"_k_{c}") for c in strata_cols], "stratum_cap"))
    cond = None
    for c in strata_cols:
        e = F.col(c).eqNullSafe(F.col(f"_k_{c}"))
        cond = e if cond is None else (cond & e)
    with_cap = df.join(caps, cond).drop(*[f"_k_{c}" for c in strata_cols])
    key = F.md5(F.col(id_col).cast("string"))
    w_local = (Window.partitionBy("_pid", *strata_cols)
               .orderBy(key, id_col))
    pruned = (with_cap.withColumn("_pid", F.spark_partition_id())
              .withColumn("_rn", F.row_number().over(w_local))
              .where(F.col("_rn") <= F.col("stratum_cap"))
              .drop("_pid", "_rn"))
    w = Window.partitionBy(*strata_cols).orderBy(key, id_col)
    return (pruned.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= F.col("stratum_cap")).drop("_rn"))


def group_top_terms(df: DataFrame, group_col: str, k: int,
                    text_col: str = "text") -> DataFrame:
    """Per-group characteristic terms: the ``k`` most frequent tokens
    of each group (source/domain/language) with counts and rank —
    corpus-analysis surface for mix design and domain drift checks.
    Deterministic order (count desc, token asc).

    Scale shape: explode (group col rides along — no join) → one
    (group, token)-keyed aggregation (map-side combined) → the same
    two-level partial top-k as :func:`top_vocabulary`, partitioned by
    group — a group holding most of the corpus never sorts in one
    task."""
    from pyspark.sql import Window
    counts = (_explode_tokens(df, text_col, F.col(group_col))
              .groupBy(group_col, "token")
              .agg(F.count(F.lit(1)).alias("t_count")))
    order = [F.col("t_count").desc(), F.col("token").asc()]
    w_local = Window.partitionBy("_pid", group_col).orderBy(*order)
    pruned = (counts.withColumn("_pid", F.spark_partition_id())
              .withColumn("_rn", F.row_number().over(w_local))
              .where(F.col("_rn") <= k).drop("_pid", "_rn"))
    w = Window.partitionBy(group_col).orderBy(*order)
    return (pruned.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def hash_split(df: DataFrame, id_col: str = "doc_id",
               train_hex: str = "e6", val_hex: str = "f3") -> DataFrame:
    """Deterministic train/val/test assignment by ``md5(id)`` hex
    prefix: ids whose first two hex chars sort below ``train_hex`` are
    ``train`` (default 230/256 ≈ 89.8%), below ``val_hex`` are ``val``
    (13/256 ≈ 5.1%), the rest ``test``.  Seedless and engine-portable
    (plain string comparison on the hex digest — no float thresholds,
    no RNG state), so the split is stable across runs, engines, and
    repartitioning; appending new rows never reassigns old ones.
    Pure column expression — map-only."""
    import re as _re
    for name, v in (("train_hex", train_hex), ("val_hex", val_hex)):
        if not _re.fullmatch(r"[0-9a-f]{2}", v):
            # md5 digests are LOWERCASE hex: an uppercase threshold would
            # silently shift most of the corpus into val/test
            raise ValueError(f"{name} must be two lowercase hex digits, "
                             f"got {v!r}")
    if not train_hex < val_hex:
        raise ValueError(f"train_hex must sort below val_hex "
                         f"({train_hex!r} >= {val_hex!r})")
    prefix = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return df.withColumn(
        "split",
        F.when(prefix < train_hex, F.lit("train"))
        .when(prefix < val_hex, F.lit("val"))
        .otherwise(F.lit("test")))


def substring_dedup_cut(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 8,
                        min_docs: int = 2) -> DataFrame:
    """Substring-level dedup RESOLUTION (the public exact-substring-dedup
    recipe: cut long verbatim duplicated ranges out of all but one copy —
    what whole-document minhash/simhash cannot fix): word ``n``-grams
    occurring in ≥ ``min_docs`` distinct documents are 'duplicated'; the
    smallest containing ``id`` OWNS each gram and keeps its text; every
    other document has the tokens covered by that gram's occurrences
    removed.  Returns one row per input row: ``n_tokens``,
    ``n_removed``, and ``cleaned_text`` (kept tokens re-joined in
    original order).

    Plan (every stage keyed, no cartesian, linear in the corpus gram
    count): positional shingle expr (JVM-side) → gram-keyed (owner,
    doc-frequency) aggregation (map-side combined) → frequency re-join
    fans each duplicated gram back ONLY to its containing docs → covered
    (doc, pos) pairs → anti-join against the token stream → per-doc
    ordered reassembly (sort_array on (pos, token) structs — the same
    stable-order aggregation shape as event stitching)."""
    idc = F.col(id_col)
    words = F.filter(F.split(F.trim(F.col(text_col)), _WS),
                     lambda w: w != "")
    base = df.select(idc.alias("_id"), words.alias("_ws"))
    toks = base.select(
        "_id", F.posexplode("_ws").alias("_p0", "tok")) \
        .select("_id", (F.col("_p0") + 1).alias("pos"), "tok")
    grams = (base.where(F.size("_ws") >= n)
             .select("_id", F.explode(F.transform(
                 F.sequence(F.lit(1), F.size("_ws") - n + 1),
                 lambda i: F.struct(
                     i.alias("gpos"),
                     F.concat_ws(" ", F.slice("_ws", i, n)).alias("gram"))))
                 .alias("_g"))
             .select("_id", F.col("_g.gpos").alias("gpos"),
                     F.col("_g.gram").alias("gram")))
    freq = (grams.groupBy("gram")
            .agg(F.min("_id").alias("_owner"),
                 F.countDistinct("_id").alias("_dfreq"))
            .where(F.col("_dfreq") >= min_docs))
    covered = (grams.join(freq, "gram")
               .where(F.col("_id") != F.col("_owner"))
               .select("_id", F.explode(
                   F.sequence(F.col("gpos"),
                              F.col("gpos") + (n - 1))).alias("pos"))
               .distinct())
    kept = toks.join(covered, ["_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.array_join(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))),
            lambda x: x["tok"]), " ").alias("cleaned_text"))
    return (df.select(idc, words.alias("_ws"))
            .join(rebuilt, idc == rebuilt["_id"], "left")
            .select(
                idc,
                F.size("_ws").alias("n_tokens"),
                (F.size("_ws") - F.coalesce("_n_kept", F.lit(0)))
                .cast("int").alias("n_removed"),
                F.coalesce("cleaned_text", F.lit(""))
                .alias("cleaned_text")))


# C4-family line-level boilerplate phrases: plain lowercase substring
# tests (no regex), so any engine agrees byte-for-byte
LINE_BOILERPLATE = ("javascript", "cookie", "all rights reserved")
_LINE_TERMINAL_RE = "[.!?]$"


def line_filters(df: DataFrame, text_col: str = "text",
                 min_words: int = 3,
                 boilerplate: tuple[str, ...] = LINE_BOILERPLATE) -> DataFrame:
    """C4-style LINE-level cleaning (the public web-corpus rule set:
    drop lines without terminal punctuation, too-short lines, lines
    carrying JS/cookie/legal boilerplate or code braces; keep the rest
    in order).  Appends ``n_lines``, ``n_kept``, ``kept_text`` (the
    surviving lines re-joined by newline — gates evaluate on the
    TRIMMED line but kept lines keep their original bytes) and
    ``line_kept_frac``.

    One split + one array filter per row — pure column expressions,
    JVM-side, map-only (no shuffle at any scale: line cleaning is
    embarrassingly parallel, unlike the doc-level dedup family).
    Predicates are restricted to constructs Java regex and RE2 agree
    on, so DuckDB would keep the identical text byte-for-byte."""
    lines = F.split(F.col(text_col), "\n")

    def _keep(x):
        lt = F.trim(x)
        ok = ((lt != "") & lt.rlike(_LINE_TERMINAL_RE)
              & (F.size(F.split(lt, _WS)) >= min_words)
              & ~lt.contains("{") & ~lt.contains("}"))
        low = F.lower(lt)
        for phrase in boilerplate:
            ok = ok & ~low.contains(phrase)
        return ok

    with_arrays = df.withColumn("_lines", lines) \
                    .withColumn("_kept", F.filter(F.col("_lines"), _keep))
    return (with_arrays
            .withColumn("n_lines", F.size("_lines"))
            .withColumn("n_kept", F.size("_kept"))
            .withColumn("kept_text", F.array_join("_kept", "\n"))
            .withColumn("line_kept_frac",
                        F.round(F.col("n_kept") / F.col("n_lines"), 6))
            .drop("_lines", "_kept"))


def source_line_dedup(df: DataFrame, source_col: str = "source",
                      id_col: str = "doc_id", text_col: str = "text",
                      min_docs: int = 3) -> DataFrame:
    """Per-source repeated-line stripping — the CCNet/RefinedWeb-style
    site-template removal that rule-based :func:`line_filters` cannot
    express: a line is boilerplate not because of WHAT it says but
    because the same (trimmed) line recurs across ``>= min_docs``
    DISTINCT documents of the same source (nav bars, footers, cookie
    banners specific to one site).  Non-template lines — including
    whitespace-only ones — are kept verbatim and in order.

    Scale shape (never a cartesian, never a per-source collect):
    posexplode lines → ONE (source, trimmed-line) keyed distinct-doc
    count (map-side combined) filtered to the template set (output
    bounded by template lines) → equi-JOIN back on (source,
    trimmed-line) — the template set stays distributed, so a source
    with millions of template lines never has to fit in one list —
    → one doc-keyed agg that re-assembles kept lines via
    ``array_sort(collect_list(struct(pos, line)))`` (collect_list
    skips the NULLed-out stripped lines).  Output: ``(doc_id, source,
    n_lines, n_stripped, kept_text)``."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    # NULL text = empty doc (one empty kept line), not a vanished row —
    # posexplode of a null array would silently drop the document
    lines = df.select(
        F.col(id_col), F.col(source_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                             "\n"))
        .alias("_pos", "_line")).withColumn("_t", F.trim("_line"))
    templates = (lines.where(F.col("_t") != "")
                 .groupBy(source_col, "_t")
                 .agg(F.countDistinct(id_col).alias("_df"))
                 .where(F.col("_df") >= min_docs))
    marked = lines.join(templates, [source_col, "_t"], "left")
    return (marked.groupBy(id_col, source_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_lines"),
                 F.sum(F.col("_df").isNotNull().cast("int"))
                 .cast("int").alias("n_stripped"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(F.col("_df").isNull(),
                                    F.struct(F.col("_pos"),
                                             F.col("_line"))))),
                         lambda x: x["_line"]), "\n")
                 .alias("kept_text")))


def paragraph_dedup(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Corpus-wide exact paragraph dedup (the Dolma/RefinedWeb
    paragraph-granularity pass): every occurrence of a (trimmed)
    paragraph EXCEPT the globally first one — smallest ``(doc_id,
    position)`` — is dropped; the first occurrence, and every
    whitespace-only paragraph (a formatting artifact, not content), is
    kept verbatim and in order.  Sits between :func:`source_line_dedup`
    (line granularity, per-source, count-thresholded) and whole-doc
    ``dedup_exact`` (document granularity): repeated boilerplate
    paragraphs vanish corpus-wide while each survives exactly once.

    Scale shape: posexplode paragraphs → ONE trimmed-paragraph-keyed
    ``min(struct(doc, pos))`` owner agg (map-side combinable — a
    paragraph duplicated a billion times partial-aggregates to one row
    per task) → equi-join back on the trimmed key (the owner set stays
    distributed, never a collected list) → one doc-keyed agg
    re-assembling kept paragraphs via pos-sorted ``collect_list``
    (collect_list skips the NULLed-out dropped ones).  Output:
    ``(doc_id, n_paras, n_dropped, kept_text)``."""
    sep = "\n\n"
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")),
                             sep)).alias("_pos", "_para")
    ).withColumn("_t", F.trim("_para"))
    owners = (paras.where(F.col("_t") != "")
              .groupBy("_t")
              .agg(F.min(F.struct(F.col(id_col).alias("_d"),
                                  F.col("_pos").alias("_p")))
                   .alias("_own")))
    marked = paras.join(owners, "_t", "left")
    keep = (F.col("_own").isNull()
            | ((F.col("_own._d") == F.col(id_col))
               & (F.col("_own._p") == F.col("_pos"))))
    return (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_paras"),
                 F.sum((~keep).cast("int")).cast("int")
                 .alias("n_dropped"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.when(keep, F.struct(F.col("_pos"),
                                                   F.col("_para"))))),
                         lambda x: x["_para"]), sep)
                 .alias("kept_text")))


def collapse_repeated_lines(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Collapse runs of CONSECUTIVE identical lines to one (``uniq``
    semantics) — the loop-degeneration cleanup for agent/chat
    transcripts, where a model repeating the same line N times is a
    capture artifact, while the same line recurring elsewhere in the
    document is content and must stay (contrast
    :func:`source_line_dedup`, which strips by cross-document
    recurrence regardless of position).  Kept lines are byte-verbatim
    and in order; the first line of every run survives.

    Pure map stage — one indexed array-filter expression (``i == 0 OR
    line != lines[i-1]``), no explode, no shuffle; both engines run
    the identical lambda (Spark ``filter(x, i)`` is 0-based with
    1-based ``element_at``, DuckDB ``list_filter`` is 1-based with
    direct indexing — the two formulations are tested equal).
    Output: ``(doc_id, n_lines, n_collapsed, cleaned_text)``."""
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    kept = F.filter(lines,
                    lambda x, i: (i == 0) | (x != F.element_at(lines, i)))
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        (F.size(lines) - F.size(kept)).alias("n_collapsed"),
        F.array_join(kept, "\n").alias("cleaned_text"))


def blocklist_gate(df: DataFrame, blocklist: list[str],
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Doc-level banned-term gate (the C4 "bad words list" curation
    step): a document is kept only if NONE of its (lowercased,
    whitespace) tokens is on the blocklist; blocked occurrences and
    distinct blocked terms are counted for drop attribution.  The
    blocklist ships as literals inside one column expression — pure
    map stage over the corpus, no explode, no join, no shuffle (the
    probe-side twin of :func:`decontaminate`'s broadcast semi-join,
    for lists small enough to inline).  Output: ``(doc_id, n_tokens,
    n_blocked, n_blocked_distinct, keep)``."""
    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    for w in blocklist:
        # tokens are whitespace-split: a phrase or empty entry can never
        # match and would silently weaken the gate
        if not w or w.split() != [w]:
            raise ValueError(f"blocklist entries must be single "
                             f"whitespace-free words, got {w!r}")
    bl = sorted({w.lower() for w in blocklist})
    # NULL text = empty doc (0 tokens, kept), not a NULL-poisoned row
    toks = F.filter(F.split(F.trim(F.lower(F.coalesce(F.col(text_col),
                                                      F.lit("")))), _WS),
                    lambda x: x != "")
    blocked = F.filter(toks, lambda x: x.isin(*bl))
    return df.select(
        F.col(id_col),
        F.size(toks).alias("n_tokens"),
        F.size(blocked).alias("n_blocked"),
        F.size(F.array_distinct(blocked)).alias("n_blocked_distinct"),
        (F.size(blocked) == 0).alias("keep"))


BLOOM_K = 3  # probes per key; at m/n = 8 bits/key the FP rate ≈ 3.1%


def _bloom_positions(gram, m_bits: int) -> list:
    """The ``BLOOM_K`` bit positions of one gram: disjoint 8-hex-char
    windows of ``md5(gram)`` mod ``m_bits`` — engine-portable (DuckDB
    recomputes the identical positions from the same digest)."""
    h = F.md5(gram)
    return [(F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10).cast("long")
             % m_bits).cast("int")
            for j in range(BLOOM_K)]


def bloom_build(eval_df: DataFrame, text_col: str = "text", n: int = 8,
                m_bits: int = 8192) -> str:
    """Build the decontamination Bloom filter over ``eval_df``'s word
    ``n``-grams; returns an ``m_bits``-char '0'/'1' string.

    Scale shape: the gram → position work is distributed (explode →
    distinct, keyed on the gram text); only the DISTINCT positions come
    back to the driver — bounded by ``m_bits`` (8 Ki rows by default)
    no matter how large the eval set is.  The string representation
    keeps the probe expressible as plain ``substring`` lookups on both
    engines (a packed-int64 bitset would need a shift-by-column Spark
    lacks)."""
    from .dedup import _shingle_expr
    grams = (eval_df.select(
        F.explode(_shingle_expr(text_col, n, None)).alias("gram"))
        .distinct())
    pos = grams.select(
        F.explode(F.array(*_bloom_positions(F.col("gram"), m_bits)))
        .alias("p")).distinct()
    setbits = {r["p"] for r in pos.collect()}   # ≤ m_bits rows
    return "".join("1" if i in setbits else "0" for i in range(m_bits))


def bloom_decontaminate(df: DataFrame, bloom: str, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 8,
                        min_parallelism: int | None = None) -> DataFrame:
    """Bloom-filter benchmark decontamination — the 100 TB shape of
    :func:`decontaminate`: instead of broadcasting the full eval gram
    SET (O(#grams × bytes), easily GBs for large benchmark suites), the
    corpus probes a fixed ``m_bits``-wide Bloom filter that ships as a
    string LITERAL inside one column expression.  The probe is a PURE
    MAP stage — per-doc distinct grams via ``array_distinct``, three
    ``substring`` bit tests per gram, no explode, no join, no shuffle
    of any kind (plan-audited).  No false negatives by construction;
    false positives are deterministic given the hash, bounded by the
    standard ``(1-e^{-kn/m})^k`` estimate, and quantified against the
    exact :func:`decontaminate` in tests.  Returns one row per input
    row: ``n_grams`` (distinct), ``n_hits`` (Bloom-positive), and a
    ``flagged`` int.

    ``min_parallelism``: the probe costs ~3 substring bit-tests per
    distinct gram — far more compute per byte than the scan.  When the
    input's parquet layout yields fewer scan partitions than this (one
    row group can NEVER split, whatever maxPartitionBytes says), a
    round-robin repartition of the raw rows is cheaper than running
    the probe serially — the classic defensive repartition before an
    expensive map over an under-split source (same trade as
    non-splittable gzip inputs).  A well-laid-out 100 TB corpus has
    thousands of row groups and skips the exchange (the default)."""
    from .dedup import _shingle_expr
    m_bits = len(bloom)
    if min_parallelism is not None:
        if df.rdd.getNumPartitions() < min_parallelism:
            df = df.repartition(min_parallelism)

    # ONE md5 per gram: map grams -> digests first, then the three bit
    # tests are substring/conv over the cached digest.  (The naive form
    # recomputes md5 inside each of the k position expressions, and
    # higher-order-function lambdas don't get common-subexpression
    # elimination — measured 3x the hash work inside an interpreted
    # HOF.)
    # the filter ships as a BINARY literal, not a string: measured over
    # 222k probed grams, variable-position substring against a STRING
    # literal costs time LINEAR in the probed position / filter width
    # (0.6 s at 8 Kibit, 2.4 s at 64 Kibit, 4.5 s at 128 Kibit — small
    # or constant positions are cheap, so the scan happens per probe),
    # while substring on a BinaryType literal is position-independent
    # (0.4 s at every width).  Same bits, same answer — '1' is byte 0x31
    blit = F.lit(bloom.encode("ascii"))

    def _hit(h):
        ok = None
        for j in range(BLOOM_K):
            p = (F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10)
                 .cast("long") % m_bits).cast("int")
            c = F.substring(blit, p + 1, F.lit(1)) == F.lit(b"1")
            ok = c if ok is None else (ok & c)
        return ok

    g = df.select(F.col(id_col),
                  F.array_distinct(_shingle_expr(text_col, n, None))
                  .alias("_grams"))
    digests = F.transform(F.col("_grams"), F.md5)
    # materialize n_hits ONCE, derive flagged from the column (the
    # inline form evaluates the whole filter twice — once per output
    # expression)
    return (g.select(
        id_col,
        F.size("_grams").alias("n_grams"),
        F.size(F.filter(digests, _hit)).alias("n_hits"))
        .withColumn("flagged", (F.col("n_hits") > 0).cast("int")))


def normalize_text(df: DataFrame, text_col: str = "text",
                   out_col: str = "norm_text") -> DataFrame:
    """Unicode text normalization — the canonical cleanup pass before
    hash-based dedup (byte-level duplicates often differ only in
    combining-character form, stray control bytes, or whitespace runs):
    NFC composition, C0/DEL control stripping, ASCII-whitespace-run
    collapse, trim.

    NFC is the ONE step Spark's built-in functions cannot express, so
    it runs as an Arrow-batched pandas UDF (``Series.str.normalize`` —
    batch-level, no per-row JVM crossing); the control/whitespace
    cleanup stays JVM-side ``regexp_replace`` (Java regex ``\\s`` and
    RE2 ``\\s`` agree on the ASCII class, so DuckDB's
    ``nfc_normalize`` plus the same ``regexp_replace`` would give the
    identical result)."""
    # no type hints: postponed annotation evaluation (PEP 563) turns them
    # into unresolvable strings for pandas_udf's signature inspection
    _nfc = F.pandas_udf(lambda s: s.str.normalize("NFC"), "string")

    cleaned = F.trim(F.regexp_replace(
        F.regexp_replace(_nfc(F.col(text_col)),
                         r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]", ""),
        r"\s+", " "))
    return df.withColumn(out_col, cleaned)


def inverted_index(df: DataFrame, k_postings: int = 50, min_df: int = 2,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Inverted-index build: per token, its document frequency and the
    posting list — the ``k_postings`` smallest containing doc ids,
    sorted ascending (the retrieval / exact-match-search primitive a
    curation pipeline builds for audit lookups: "which documents
    contain this token?").  ``min_df`` drops the hapax tail before the
    index materializes.

    Scale shape: per-doc-distinct tokens (one keyed aggregation), then
    (a) df counts via a token-keyed count — map-side combined, a hot
    token like "the" never concentrates rows — and (b) the posting
    CAP via the same two-level partial top-k as
    :func:`stratified_sample`: local smallest-k doc ids per
    (input-partition, token), then global smallest-k over the ≤ k·P
    survivors — so a stopword's millions of postings are pruned in
    parallel and ``collect_list`` only ever sees ≤ k rows per token.
    Exact: a global smallest-k id is necessarily a local smallest-k id
    of its own partition, and (doc_id) is a total order per token
    (post-distinct).  The collected array is sorted for a canonical,
    engine-portable representation."""
    from pyspark.sql import Window
    toks = (_tokens_of(df, id_col, text_col)
            .dropDuplicates(["_id", "token"]))
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w_local = Window.partitionBy("_pid", "token").orderBy("_id")
    pruned = (toks.withColumn("_pid", F.spark_partition_id())
              .withColumn("_rn", F.row_number().over(w_local))
              .where(F.col("_rn") <= k_postings).drop("_pid", "_rn"))
    w = Window.partitionBy("token").orderBy("_id")
    top = (pruned.withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") <= k_postings).drop("_rn"))
    postings = (top.groupBy("token")
                .agg(F.sort_array(F.collect_list("_id"))
                     .alias("postings")))
    return (dfreq.where(F.col("df") >= min_df)
            .join(postings, "token")
            .select("token", F.col("df").cast("long").alias("df"),
                    "postings"))


def tfidf_top_terms(df: DataFrame, k: int = 5, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document characteristic terms: top-``k`` tokens by TF-IDF
    with a reciprocal-frequency idf — ``score = tf · N / df`` (NOT
    ``tf · ln(N/df)``: the linear idf keeps the score a single IEEE
    division of exact integers, so every engine computes the identical
    double and the identical rounding — a libm ``ln`` is only
    faithfully rounded and its last ulp can flip a rank at the k-cut;
    the rank-stability lesson from the cosine top-k family applied at
    design time).  Ties break (score desc, term asc) over the ROUNDED
    score.  Exact while ``tf · N < 2^53`` (int64 product, lossless as
    double) — at 10^12 docs pre-aggregate or cap tf.

    Scale shape: tf = one (doc, token)-keyed count; df = one
    token-keyed count over the tf relation (already per-doc distinct;
    both map-side combined); N rides in as a broadcast 1-row aggregate
    (no eager ``count()`` — the plan stays one job); the final rank is
    a per-document window — millions of tiny groups, no skew."""
    from pyspark.sql import Window
    tf = (_tokens_of(df, id_col, text_col)
          .groupBy("_id", "token").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("t_df"))
    n_docs = df.select(F.count(F.lit(1)).alias("_n_docs"))
    scored = (tf.join(dfreq, "token")
              .crossJoin(F.broadcast(n_docs))
              .withColumn(
                  "score",
                  F.round((F.col("tf") * F.col("_n_docs"))
                          .cast("double") / F.col("t_df"), 6)))
    w = (Window.partitionBy("_id")
         .orderBy(F.col("score").desc(), F.col("token").asc()))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(F.col("_id").alias(id_col),
                    F.col("token").alias("term"),
                    F.col("tf").cast("int").alias("tf"),
                    F.col("t_df").cast("long").alias("t_df"),
                    "score", F.col("rank").cast("int").alias("rank")))


def bigram_top_continuations(df: DataFrame, k: int = 3,
                             text_col: str = "text") -> DataFrame:
    """Bigram language-model table: per head token, the top-``k``
    continuations by count with the exact conditional probability —
    the count-based Markov-LM build (the first stage of any n-gram LM
    / next-token-statistics audit over a corpus).  ``p_cont`` is a
    ratio of two exact integers, rounded once — no float summation.

    Scale shape: bigrams come from the shared shingle expression
    (JVM-side, map stage) → ONE (head, cont)-keyed count (map-side
    combined); head totals are a second aggregation OVER THE PAIR
    COUNTS (already tiny vs the corpus); the k-cut is the two-level
    partial top-k — a stopword head with a million distinct
    continuations never sorts in one task."""
    from pyspark.sql import Window
    from .dedup import _shingle_expr
    pairs = (df.select(F.explode(_shingle_expr(text_col, 2, None))
                       .alias("gram"))
             .select(F.split(F.col("gram"), " ").getItem(0).alias("head"),
                     F.split(F.col("gram"), " ").getItem(1).alias("cont"))
             .groupBy("head", "cont")
             .agg(F.count(F.lit(1)).alias("pair_n")))
    heads = pairs.groupBy("head").agg(F.sum("pair_n").alias("head_n"))
    order = [F.col("pair_n").desc(), F.col("cont").asc()]
    w_local = Window.partitionBy("_pid", "head").orderBy(*order)
    pruned = (pairs.withColumn("_pid", F.spark_partition_id())
              .withColumn("_rn", F.row_number().over(w_local))
              .where(F.col("_rn") <= k).drop("_pid", "_rn"))
    w = Window.partitionBy("head").orderBy(*order)
    top = (pruned.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= k))
    return (top.join(heads, "head")
            .select("head", "cont",
                    F.col("pair_n").cast("long").alias("pair_n"),
                    F.col("head_n").cast("long").alias("head_n"),
                    F.round(F.col("pair_n") / F.col("head_n"), 6)
                    .alias("p_cont"),
                    F.col("rank").cast("int").alias("rank")))


def known_bigram_filter(df: DataFrame, lm_size: int = 200,
                        min_ratio_millis: int = 500,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Count-LM quality filtering (the CCNet-style "perplexity gate"
    restated with integer-exact arithmetic): build a bounded bigram LM
    table — the ``lm_size`` most frequent word bigrams of the corpus
    (count desc, gram asc: seedless deterministic cut) — then score
    every document by the fraction of ITS bigrams found in that table.
    Documents whose mass sits on unseen bigrams are gibberish /
    wrong-language / shuffled text — exactly what a perplexity filter
    flags, but as a ratio of two exact integers (``n_known·1000 ≥
    min_ratio_millis·n_bigrams``) instead of a float log-prob sum, so
    the keep decision has no cross-engine summation ambiguity.
    Documents with no bigrams (< 2 tokens) pass the gate: the filter
    has no evidence against them (mirrors the curation-gate stance).

    Scale shape: the LM build is one gram-keyed map-side-combined count
    + TakeOrdered (≤ ``lm_size`` rows to the driver — bounded, the same
    documented eager step as the top-k vocabulary); the table then
    ships as a LITERAL into one array-filter expression, so scoring is
    a pure map stage — the 100 TB corpus is never joined or shuffled to
    be scored."""
    from .dedup import _shingle_expr
    grams = df.select(F.explode(_shingle_expr(text_col, 2, None))
                      .alias("gram"))
    top = (grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.col("n").desc(), F.col("gram").asc())
           .limit(lm_size))
    known = sorted(r["gram"] for r in top.collect())
    g = _shingle_expr(text_col, 2, None)
    n_bi = F.size(g)
    n_known = (F.lit(0) if not known
               else F.size(F.filter(g, lambda x: x.isin(known))))
    return df.select(
        id_col,
        n_bi.cast("int").alias("n_bigrams"),
        n_known.cast("int").alias("n_known"),
        F.round(F.when(n_bi == 0, F.lit(0.0))
                .otherwise(n_known / n_bi), 6).alias("known_ratio"),
        (n_known * 1000 >= F.lit(int(min_ratio_millis)) * n_bi)
        .alias("keep"))


def containment_pairs(df: DataFrame, ngram: int = 8,
                      threshold_millis: int = 500, max_df: int = 64,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """ASYMMETRIC near-duplicate detection: containment
    ``C(A→B) = |grams(A) ∩ grams(B)| / |grams(A)|`` — what Jaccard
    misses by construction: a short document quoted wholesale inside a
    long one scores near 1.0 containment but tiny Jaccard.  Emits every
    ORDERED pair (both directions scored independently) with
    ``inter·1000 ≥ threshold_millis·n_a`` — a comparison of exact
    integers, so the cut has no float ambiguity; the reported ratio is
    rounded once for display.

    Scale shape: per-doc DISTINCT grams (one keyed dedup) → grams seen
    in > ``max_df`` documents are dropped BEFORE the candidate join
    (boilerplate grams are non-discriminative and fan out
    quadratically — the standard df-cap from the set-similarity-join
    literature; dropped grams shrink BOTH the numerator and the
    denominator consistently because the per-doc gram counts are taken
    AFTER the cap) → gram-keyed equi-join generates candidates only
    for docs sharing a surviving gram → one pair-keyed count.  Every
    stage is map-side combinable; nothing is all-pairs."""
    from .dedup import _shingle_expr
    grams = (df.select(F.col(id_col).alias("_id"),
                       F.explode_outer(_shingle_expr(text_col, ngram,
                                                     None)).alias("gram"))
             .where(F.col("gram").isNotNull())
             .dropDuplicates(["_id", "gram"]))
    fdf = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
    kept = (grams.join(fdf.where(F.col("_df") <= max_df), "gram")
            .select("_id", "gram"))
    sizes = kept.groupBy("_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = kept.select(F.col("_id").alias("id_a"), "gram")
    b = kept.select(F.col("_id").alias("id_b"), "gram")
    inter = (a.join(b, "gram")
             .where(F.col("id_a") != F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    na = sizes.select(F.col("_id").alias("id_a"),
                      F.col("n_grams").alias("n_a"))
    return (inter.join(na, "id_a")
            .where(F.col("inter") * 1000
                   >= F.lit(int(threshold_millis)) * F.col("n_a"))
            .select("id_a", "id_b",
                    F.col("inter").cast("long").alias("inter"),
                    F.col("n_a").cast("long").alias("n_a"),
                    F.round(F.col("inter") / F.col("n_a"), 6)
                    .alias("containment")))


def weighted_sample(df: DataFrame, k: int, weight_col: str,
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic weight-biased sampling without replacement: each
    row gets the priority ``h / w`` — ``h`` = a 60-bit integer from
    ``md5(id)`` (the engine's seedless uniform), ``w`` = the row's
    weight — and the ``k`` smallest priorities win, so a row's chance
    of selection grows with its weight (the rational-priority variant
    of the Efraimidis-Spirakis A-ES key ``u^(1/w)``; the exponential
    form needs ``pow``/``ln``, which are NOT correctly rounded
    cross-engine — the single IEEE division here IS, so the order is
    engine-exact given the exact integer inputs, with (priority, id)
    as the deterministic total order).  Rows with ``w <= 0`` or NULL
    are excluded (zero-weight rows are unsampleable by definition).

    Scale shape: priority is one map-stage expression;
    ``orderBy(...).limit(k)`` plans as TakeOrderedAndProject —
    per-partition top-k, ≤ k·P rows merge at the driver, never a
    global sort (locked in tests/test_plans.py)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15),
               16, 10).cast("long")
    w = F.col(weight_col).cast("long")
    pri = h.cast("double") / w.cast("double")
    # the priority is emitted RAW: both engines compute the identical
    # double (one correctly-rounded division of identical integers), so
    # the bits agree exactly — while round(x, 6) on a ~1e14 double is
    # engine-ambiguous (the decimal re-rounding differs in the last ulp)
    return (df.where(w > 0)
            .withColumn("priority", pri)
            .orderBy(F.col("priority").asc(), F.col(id_col).asc())
            .limit(k))


def postings_delta(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", min_len: int = 4,
                   min_df: int = 2, max_df: int = 64) -> DataFrame:
    """Delta-encoded inverted-index postings — the compression layout a
    search/dedup index actually stores (gap encoding makes postings
    varint-friendly): per surviving term, the SORTED distinct doc-id
    postings as ``first_doc`` + the consecutive gaps.

    Scale shape: per-doc distinct terms, then TWO phases so the df band
    [min_df, max_df] caps both stopword-grade hot terms AND singleton
    noise BEFORE any postings array materializes: (1) a term-keyed
    COUNT — map-side combined, a hot term like "have" never
    concentrates rows — filtered to the band, (2) a term-keyed
    equi-join prunes the token stream to surviving terms and only THEN
    ``collect_set`` builds the (band-bounded, ≤ max_df element)
    postings arrays.  (The earlier one-phase form collected the full
    postings list per term and filtered on its SIZE — at 10^12 docs a
    stopword's postings would have had to fit one reducer row before
    being dropped.)  The gap transform is a pure array expression
    (``zip_with`` of the list against its own tail).
    Output: ``term, df int, first_doc long, gaps array<long>``."""
    toks = (docs.select(F.col(id_col).alias("_id"),
                        F.explode(F.array_distinct(F.filter(
                            F.split(F.lower(F.trim(F.col(text_col))),
                                    r"\s+"),
                            lambda w: F.length(w) >= min_len)))
                        .alias("term")))
    band = (toks.groupBy("term")
            .agg(F.count(F.lit(1)).alias("_df0"))
            .where((F.col("_df0") >= min_df)
                   & (F.col("_df0") <= max_df)))
    posts = (toks.join(band.select("term"), "term")
             .groupBy("term")
             .agg(F.sort_array(F.collect_set("_id")).alias("_ps")))
    tail = F.slice(F.col("_ps"), 2, F.size("_ps") - 1)
    head = F.slice(F.col("_ps"), 1, F.size("_ps") - 1)
    return posts.select(
        "term", F.size("_ps").alias("df"),
        F.element_at("_ps", 1).cast("long").alias("first_doc"),
        F.zip_with(tail, head,
                   lambda a, b: (a - b).cast("long")).alias("gaps"))


def bm25_scores(docs: DataFrame, queries: dict[str, list[str]], *,
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = 1.2, b: float = 0.75,
                top_k: int = 10) -> DataFrame:
    """BM25 lexical retrieval (Robertson/Walker, the +1-idf form) — the
    standard keyword ranker beside the dense ANN paths (fuse with
    :func:`~frogocr_spark.operators.similarity.rrf_fuse` for hybrid
    retrieval).  ``queries`` maps query_id → its term list; terms are
    LITERALS, so per-query scores are FIXED-ORDER sums of per-term
    conditional aggregates — the float additions happen in the written
    term order on every engine (a plain SUM over term rows would add in
    shuffle-delivery order and hash-differ in the last ulp).

    idf(t) = ln((N − df + ½)/(df + ½) + 1); per-term contribution
    ``idf · tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl))`` — every input is
    an exact integer (tf, df, N, dl) or a shared literal double
    (k1, b, avgdl), so any engine evaluating the same expression tree
    produces the same doubles op for op.

    Scale shape: one tokenize pass feeds dl and tf; tf is PRE-FILTERED
    to query terms at the scan (the corpus never materializes its full
    vocabulary for scoring); df and the (query, term) map are
    term-bounded broadcasts; the final cut is ONE rank window
    PARTITIONED BY query_id (keyed — never a global sort).  EAGER:
    collects the 1-row (N, Σdl) corpus stats.  Output: ``query_id,
    doc_id, score (double, 6 dp), rank``."""
    if not queries or any(not ts for ts in queries.values()):
        raise ValueError("queries must be non-empty term lists")
    from pyspark.sql import Window

    toks = (docs.select(F.col(id_col).alias("_doc"),
                        F.explode(F.filter(
                            F.split(F.lower(F.trim(F.col(text_col))),
                                    r"\s+"),
                            lambda w: w != "")).alias("tok")))
    dl = toks.groupBy("_doc").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("dl").alias("sdl")).collect()[0]
    n_docs, sum_dl = int(stats["n"] or 0), int(stats["sdl"] or 0)
    if n_docs == 0:
        raise ValueError("bm25: empty corpus")
    avgdl = sum_dl / n_docs                 # one IEEE division, shared
    terms = sorted({t for ts in queries.values() for t in ts})
    tf = (toks.where(F.col("tok").isin(terms))
          .groupBy("_doc", "tok").agg(F.count(F.lit(1)).alias("tf")))
    dfx = tf.groupBy("tok").agg(F.countDistinct("_doc").alias("df"))
    j = tf.join(F.broadcast(dfx), "tok").join(dl, "_doc")
    idf = F.log(((F.lit(float(n_docs)) - F.col("df") + 0.5)
                 / (F.col("df") + 0.5)) + 1.0)
    denom = (F.col("tf") + F.lit(float(k1))
             * (F.lit(1.0 - b) + F.lit(float(b))
                * (F.col("dl").cast("double") / F.lit(float(avgdl)))))
    contrib = j.select(
        "_doc", "tok",
        (idf * ((F.col("tf") * F.lit(float(k1) + 1.0)) / denom))
        .alias("c"))
    parts = []
    for qid, qterms in queries.items():
        sub = contrib.where(F.col("tok").isin(list(qterms)))
        cells = [F.coalesce(
            F.max(F.when(F.col("tok") == t, F.col("c"))), F.lit(0.0))
            for t in qterms]
        score = cells[0]
        for cexp in cells[1:]:
            score = score + cexp            # fixed written-order sum
        parts.append(sub.groupBy("_doc")
                     .agg(score.alias("_score"))
                     .select(F.lit(qid).alias("query_id"),
                             F.col("_doc").alias("doc_id"), "_score"))
    allq = parts[0]
    for p in parts[1:]:
        allq = allq.unionAll(p)
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("_score"), 6).desc(), F.col("doc_id").asc())
    return (allq.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= top_k)
            .select("query_id", "doc_id",
                    F.round("_score", 6).alias("score"), "rank"))


def phrase_search(df: DataFrame, phrases: list[str],
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Exact phrase search against POSITIONAL postings — the retrieval
    capability token-level :func:`inverted_index` cannot answer
    ("which documents contain these words ADJACENT, in order?").

    Each phrase is a space-separated token sequence (≥ 1 token).  The
    corpus is exploded once into (token, doc, pos) posting rows
    FILTERED to the phrase vocabulary AT THE SCAN — the classic
    positional-index trade: postings materialize only for query terms,
    never for the whole vocabulary.  A phrase of m terms is then m−1
    equi-joins on (doc, pos + offset) — each join keyed on (doc, pos),
    no cartesian anywhere, candidate size bounded by the rarest term's
    postings.  Duplicate terms in a phrase self-join the same posting
    subset correctly (positions must differ by construction).

    Output: (phrase, doc_id, n_matches) — one row per document per
    phrase with ≥ 1 occurrence, n_matches counting overlapping
    occurrences (standard positional-search semantics)."""
    terms = sorted({t for p in phrases for t in p.split()})
    if not terms:
        raise ValueError("phrases must contain at least one token")
    post = (df.select(F.col(id_col).alias("_id"),
                      F.posexplode(F.array_remove(
                          F.split(F.trim(F.col(text_col)), _WS), ""))
                      .alias("pos", "token"))
            .where(F.col("token").isin(terms))
            .localCheckpoint())
    outs = []
    for phrase in phrases:
        toks = phrase.split()
        cur = (post.where(F.col("token") == toks[0])
               .select("_id", F.col("pos").alias("p0")))
        for i, t in enumerate(toks[1:], start=1):
            nxt = (post.where(F.col("token") == t)
                   .select(F.col("_id").alias("_id2"),
                           F.col("pos").alias(f"p{i}")))
            cur = (cur.join(nxt,
                            (cur["_id"] == nxt["_id2"])
                            & (nxt[f"p{i}"] == cur["p0"] + i))
                   .drop("_id2"))
        outs.append(cur.groupBy("_id")
                    .agg(F.count(F.lit(1)).alias("n_matches"))
                    .select(F.lit(phrase).alias("phrase"),
                            F.col("_id").alias(id_col),
                            F.col("n_matches").cast("long")
                            .alias("n_matches")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def winnowing_fingerprints(df: DataFrame, ngram: int = 4,
                           window: int = 5, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every word ``ngram``-gram, slide a
    window of ``window`` consecutive gram hashes, and keep the minimum
    of each window — the guarantee is that any shared substring of
    ``window + ngram - 1`` tokens produces at least one shared
    fingerprint, at ~2/(window+1) the density of the full gram set.
    The fingerprint SET (doc, hash, pos) is what plagiarism /
    copy-detection pipelines index.

    Engine-exactness: the gram hash is the first 12 hex chars of md5
    (48 bits), packed with the gram position into ONE int64
    ``hash * 2^15 + pos`` so the window minimum is a plain BIGINT
    ``min`` (ties impossible: pos is unique) — both the tie rule
    (smallest hash, then LEFTMOST position — the deterministic variant
    of the paper's rightmost rule) and the k-cut are integer-exact in
    any engine.  Documents with more than 2^15 grams are rejected (the
    pos packing bound; chunk first — ``chunk_windows``).

    Scale shape: gram hashing is a pure map (index-zip, no self-join);
    the window min is a per-doc keyed window ordered by pos (ROWS
    CURRENT..window-1 FOLLOWING, full windows only — never a global
    sort); the distinct is a keyed agg.  Output: ``(doc_id, fp_hash,
    pos)`` — one row per selected fingerprint."""
    if window < 1:
        raise ValueError("window must be >= 1")
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.array_remove(F.split(F.trim(F.col(text_col)), r"\s+"), "")
        .alias("ws"))
    grams = toks.select(
        "_id",
        F.expr(
            f"transform(sequence(1, greatest(size(ws) - {ngram} + 1, 0)),"
            f" j -> struct(j - 1 AS pos, "
            f"conv(substring(md5(concat_ws(' ', slice(ws, j, {ngram}))),"
            f" 1, 12), 16, 10) AS h))").alias("gs"),
        F.size("ws").alias("_n"))
    grams = grams.where(F.col("_n") - ngram + 1 <= (1 << 15))
    g = (grams.select("_id", F.explode("gs").alias("g"),
                      (F.col("_n") - ngram + 1).alias("n_grams"))
         .select("_id", F.col("g.pos").alias("pos"),
                 (F.col("g.h").cast("long") * (1 << 15)
                  + F.col("g.pos")).alias("comb"),
                 "n_grams"))
    w = (Window.partitionBy("_id").orderBy("pos")
         .rowsBetween(0, window - 1))
    sel = (g.withColumn("sel", F.min("comb").over(w))
           .where(F.col("pos") <= F.col("n_grams") - window)
           .select("_id", "sel").dropDuplicates())
    return sel.select(
        F.col("_id").alias(id_col),
        F.expr(f"sel DIV {1 << 15}").alias("fp_hash"),
        (F.col("sel") % (1 << 15)).cast("int").alias("pos"))


RAKE_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "is",
    "are", "was", "be", "that", "it", "for", "as", "with", "at",
    "by", "from", "this", "but", "not", "we", "you", "they", "he",
    "she", "his", "her", "its", "has", "have", "had", "will", "can")


def rake_keywords(df: DataFrame, k: int = 15, max_len: int = 4,
                  stopwords: tuple = RAKE_STOPWORDS,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are MAXIMAL runs of non-stopword tokens (found with the
    gaps-and-islands trick — pos minus non-stop rank is constant
    within a run); each word scores ``deg/freq`` where ``freq`` is its
    occurrence count inside candidates and ``deg = Σ phrase_len`` over
    its candidate occurrences (the within-phrase co-occurrence
    degree); a phrase scores the sum of its words' scores.  The
    ranking statistic is restated exactly:

        score_e6 = Σ_words (deg_w · 10^6 DIV freq_w)

    — an integer sum of per-word truncating divisions, so the top-``k``
    cut (score desc, phrase asc) can never flip on a float ulp.
    Candidates longer than ``max_len`` words are dropped (standard RAKE
    hygiene: unbounded runs are junk, not keywords).

    Scale shape: tokenize + island assignment are one posexplode and
    ONE per-doc keyed window (never global); phrase assembly is a
    (doc, island) keyed agg; word stats are ONE word-keyed map-side
    -combined agg joined back onto the words of the DISTINCT phrase
    strings (vocabulary-sized, not corpus-sized); the final cut is
    TakeOrdered.  Output: ``(phrase, n_occ, n_words, score_e6)``."""
    toks = (df.select(F.col(id_col).alias("_id"),
                      F.posexplode(F.array_remove(
                          F.split(F.lower(F.trim(F.col(text_col))),
                                  r"\s+"), ""))
                      .alias("pos", "token")))
    ns = toks.where(~F.col("token").isin(*stopwords))
    w = Window.partitionBy("_id").orderBy("pos")
    runs = ns.withColumn("island",
                         F.col("pos") - F.row_number().over(w))
    occ = (runs.groupBy("_id", "island")
           .agg(F.array_sort(
               F.collect_list(F.struct("pos", "token"))).alias("ts"))
           .select(F.concat_ws(
               " ", F.expr("transform(ts, t -> t.token)")).alias("phrase"),
               F.size("ts").alias("plen"))
           .where(F.col("plen") <= max_len))
    wstats = (occ.select(F.explode(F.split("phrase", " ")).alias("word"),
                         "plen")
              .groupBy("word")
              .agg(F.sum("plen").alias("deg"),
                   F.count(F.lit(1)).alias("freq")))
    uniq = occ.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ"),
                                     F.max("plen").alias("n_words"))
    scored = (uniq.select("phrase", "n_occ", "n_words",
                          F.explode(F.split("phrase", " ")).alias("word"))
              .join(wstats, "word")
              .groupBy("phrase", "n_occ", "n_words")
              .agg(F.sum(F.expr("(deg * 1000000) DIV freq"))
                   .alias("score_e6")))
    return (scored.orderBy(F.col("score_e6").desc(),
                           F.col("phrase").asc())
            .limit(int(k))
            .select("phrase", F.col("n_occ").cast("long").alias("n_occ"),
                    F.col("n_words").cast("long").alias("n_words"),
                    F.col("score_e6").cast("long").alias("score_e6")))


def charclass_stats(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Per-document character-class profile: printable-ASCII, digit,
    uppercase and whitespace counts plus exact millionth ratios — the
    encoding/noise quality gate (mojibake, number dumps, SHOUTING)
    beside the token-level quality_score.  Counted by the
    delete-and-measure idiom ``len(x) − len(regexp_replace(x, cls,
    ''))`` with classes restricted to explicit ASCII ranges, which Java
    regex and RE2 read identically byte-for-byte (the redact_pii
    portability rule).

    Scale shape: pure column expressions — a map-only stage, no
    shuffle.  Output: ``(doc_id, n_chars, n_ascii, n_digit, n_upper,
    n_space, ascii_e6)``."""
    n = F.length(F.col(text_col))

    def cnt(cls: str):
        return n - F.length(F.regexp_replace(F.col(text_col), cls, ""))

    out = df.select(
        F.col(id_col),
        n.cast("long").alias("n_chars"),
        cnt("[ -~]").cast("long").alias("n_ascii"),
        cnt("[0-9]").cast("long").alias("n_digit"),
        cnt("[A-Z]").cast("long").alias("n_upper"),
        cnt("[ ]").cast("long").alias("n_space"))
    return out.withColumn(
        "ascii_e6",
        F.when(F.col("n_chars") > 0,
               F.expr("(n_ascii * 1000000) DIV n_chars")))


def sentence_stats(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document sentence segmentation profile: sentences = runs
    split on ``[.!?]+`` (the regex-portable heuristic segmenter; both
    engines' regex dialects read this class identically), counting only
    sentences with ≥ 1 whitespace token.  Emits sentence count, total
    tokens across sentences, the longest sentence's token count, and
    an exact mean ``avg_tokens_e6 = tokens·10^6 DIV sentences`` — the
    readability/garbage gate (wall-of-text vs staccato noise) beside
    line_filters.

    Scale shape: one sentence explode + one doc-keyed map-side-combined
    agg; empty documents keep a row via the left join back.  Output:
    ``(doc_id, n_sentences, n_tokens, max_tokens, avg_tokens_e6)``."""
    sent = (df.select(F.col(id_col).alias("_id"),
                      F.explode(F.split(F.col(text_col), r"[.!?]+"))
                      .alias("s"))
            .select("_id", F.size(F.array_remove(
                F.split(F.trim("s"), r"\s+"), "")).alias("tk"))
            .where(F.col("tk") > 0))
    agg = sent.groupBy("_id").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum("tk").alias("n_tokens"),
        F.max("tk").alias("max_tokens"))
    return (df.select(F.col(id_col).alias("_id"))
            .join(agg, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("n_sentences", F.lit(0)).cast("long")
                    .alias("n_sentences"),
                    F.coalesce("n_tokens", F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.coalesce("max_tokens", F.lit(0)).cast("long")
                    .alias("max_tokens"))
            .withColumn("avg_tokens_e6",
                        F.when(F.col("n_sentences") > 0,
                               F.expr("(n_tokens * 1000000) "
                                      "DIV n_sentences"))))


def flesch_stats(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Flesch reading-ease profile per document — the classic
    readability quality gate (Flesch 1948), restated integer-exact.

    Syllables are approximated as VOWEL GROUPS per word (maximal runs
    of ``[aeiouyAEIOUY]`` — the standard portable heuristic; no
    lowercasing so no locale-sensitive case mapping can differ across
    engines).  Sentences are the ``[.!?]+``-split segments with ≥ 1
    token — the :func:`sentence_stats` discipline.  The score::

        flesch_e3 = 206835 - (1015·W) DIV S - (84600·syll) DIV W

    — Flesch's 206.835 − 1.015·(W/S) − 84.6·(syll/W) scaled by 10^3
    with two truncating integer divisions, so both engines agree
    bit-for-bit (NULL when the doc has no sentence or no word).

    Scale shape: pure column expressions over one scan — the split /
    transform / aggregate folds run inside codegen; no explode, no
    shuffle.  Output: ``(doc_id, n_words, n_sentences, n_syllables,
    flesch_e3)``."""
    words = F.array_remove(F.split(F.trim(F.col(text_col)), r"\s+"), "")
    syll = F.expr(
        "aggregate(transform({w}, w -> CAST(size("
        "regexp_extract_all(w, '[aeiouyAEIOUY]+', 0)) AS BIGINT)), "
        "0L, (acc, x) -> acc + x)".format(
            w="array_remove(split(trim({t}), '\\\\s+'), '')".format(
                t=text_col)))
    sents = F.expr(
        "size(filter(split({t}, '[.!?]+'), s -> "
        "size(array_remove(split(trim(s), '\\\\s+'), '')) > 0))"
        .format(t=text_col))
    out = df.select(
        F.col(id_col),
        F.size(words).cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        syll.alias("n_syllables"))
    return out.withColumn(
        "flesch_e3",
        F.when((F.col("n_words") > 0) & (F.col("n_sentences") > 0),
               F.expr("206835 - (1015 * n_words) DIV n_sentences "
                      "- (84600 * n_syllables) DIV n_words")))


# Cavnar–Trenkle-style character-trigram language profiles (public
# method: "N-Gram-Based Text Categorization", 1994; profiles hand-pinned
# here, simplified to DISJOINT distinctive-trigram hit counting so the
# score is a plain integer and any engine computes it identically).
# Grams are matched on the space-padded lowercased text, so word-initial
# (" th") and word-final ("ng ") shapes are first-class.
LANG_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "en": (" th", "the", "he ", "and", " an", "ing", "ng ", " of",
           "of ", "ion"),
    "de": ("der", "die", "und", "ein", "ich", "sch", "cht", "ung",
           "ber", " ge"),
    "fr": (" le", "le ", "les", " la", "ent", "eur", "ais", "oir",
           " et", "une"),
    "es": (" el", "el ", "los", "las", "ión", "ció", "ado", " y ",
           "rro", "nte"),
}


def langid_ngram(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", cjk_pct: int = 10) -> DataFrame:
    """Character-n-gram language ID (Cavnar–Trenkle family): every
    trigram of the space-padded lowercased text is probed against the
    pinned per-language profile sets (:data:`LANG_TRIGRAM_PROFILES` —
    DISJOINT by construction, asserted here), score = total profile-hit
    occurrences, prediction = argmax with the deterministic
    ``(score DESC, lang ASC)`` tiebreak; ``und`` when nothing hits.
    CJK needs no trigram profile — a script rule fires first: when
    ≥ ``cjk_pct`` % of characters sit in the CJK Unified block
    (U+4E00–U+9FFF, matched as a literal char range so Java regex and
    RE2 agree), the doc is ``zh`` with score = CJK char count.
    The stopword sibling is :func:`language_id`; this is the profile
    version the brief's "language-ID (n-gram heuristic)" names.

    Scale shape: the trigram explode feeds a BROADCAST join against the
    40-row profile dim that filters ~97 % of grams INSIDE the map stage
    (no shuffle sees the explode); the shuffle carries only the
    map-side-combined (doc, lang) partials (≤ 4/doc), and the argmax is
    a ``min(struct(-score, lang))`` keyed agg — no window.  Output:
    ``(doc_id, pred_lang, score)``, one row per input row."""
    rows = [(g, lang) for lang in sorted(LANG_TRIGRAM_PROFILES)
            for g in LANG_TRIGRAM_PROFILES[lang]]
    assert len({g for g, _ in rows}) == len(rows), \
        "profile trigram sets must be disjoint"
    prof = df.sparkSession.createDataFrame(rows, "gram string, lang string")
    base = df.select(
        F.col(id_col).alias("_id"),
        F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
        .alias("_t"),
        F.length(F.regexp_replace(F.col(text_col), "[^一-鿿]",
                                  "")).alias("_cjk"),
        F.length(F.col(text_col)).alias("_n"))
    tri = base.select(
        "_id",
        F.explode(F.expr(
            "transform(sequence(1, greatest(length(_t) - 2, 0)),"
            " i -> substring(_t, i, 3))")).alias("gram"))
    best = (tri.join(F.broadcast(prof), "gram")
            .groupBy("_id", "lang")
            .agg(F.count(F.lit(1)).alias("score"))
            .groupBy("_id")
            .agg(F.min(F.struct((-F.col("score")).alias("ns"),
                                F.col("lang").alias("lang"))).alias("b")))
    is_cjk = (F.col("_n") > 0) & (F.col("_cjk") * 100
                                  >= F.lit(cjk_pct) * F.col("_n"))
    return (base.join(best, "_id", "left")
            .select(
                F.col("_id").alias(id_col),
                F.when(is_cjk, F.lit("zh"))
                .when(F.col("b").isNotNull(), F.col("b.lang"))
                .otherwise(F.lit("und")).alias("pred_lang"),
                F.when(is_cjk, F.col("_cjk"))
                .when(F.col("b").isNotNull(), -F.col("b.ns"))
                .otherwise(F.lit(0)).cast("long").alias("score")))


def novelty_rate(df: DataFrame, batch_col: str, id_col: str = "doc_id",
                 text_col: str = "text", n: int = 8) -> DataFrame:
    """Per-batch corpus novelty — the freshness metric an incremental
    training-data pipeline watches (is the new crawl adding content or
    re-fetching?): for each ingest batch, the share of its DISTINCT
    word ``n``-grams whose FIRST occurrence (smallest batch id) is that
    batch.  ``novelty_e6 = n_new·10^6 DIV n_grams`` — integer exact.

    Scale shape: one gram pass → distinct (batch, gram) keyed agg →
    two aggregations of THAT relation (per-gram min batch, per-batch
    gram count; hot grams combine map-side) → a batch-keyed join of two
    batch-sized sides.  No stage is wider than the distinct
    (batch, gram) relation.  Batches with zero grams are absent
    (nothing to measure).  Output: ``(batch, n_grams, n_new,
    novelty_e6)``."""
    from .dedup import _shingle_expr
    g = (df.select(F.col(batch_col).cast("long").alias("batch"),
                   F.explode(_shingle_expr(text_col, n, None))
                   .alias("gram"))
         .where("gram <> ''")
         .dropDuplicates(["batch", "gram"]))
    first = g.groupBy("gram").agg(F.min("batch").alias("fb"))
    per_batch = g.groupBy("batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"))
    news = first.groupBy(F.col("fb").alias("batch")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new"))
    return (per_batch.join(news, "batch", "left")
            .select("batch", "n_grams",
                    F.coalesce("n_new", F.lit(0)).cast("long")
                    .alias("n_new"),
                    F.expr("(CAST(coalesce(n_new, 0) AS DECIMAL(38,0)) "
                           "* 1000000) DIV n_grams").cast("long")
                    .alias("novelty_e6")))


# UTF-8-decoded-as-Latin-1 artifact markers (the classic mojibake
# shapes: 'Ã©' = é, 'â€™' = ’, NBSP → 'Â ') plus the U+FFFD
# replacement char a lossy transcode leaves behind.
MOJIBAKE_MARKERS = ("Ã©", "Ã¨", "Ã¼", "Ã±", "â€", "Â ", "�")


def encoding_audit(df: DataFrame, group_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Per-source encoding-health audit — the ingest gate that catches
    a crawler or converter double-decoding its bytes: a document is
    flagged when it carries any pinned mojibake marker
    (:data:`MOJIBAKE_MARKERS` — plain ``contains`` probes, no regex, so
    any engine agrees byte-for-byte).  ``bad_e6`` is the flagged share
    per source as one truncating division.

    Scale shape: pure map (a handful of substring probes fused in one
    codegen stage) + ONE map-side-combined keyed agg.  Output:
    ``(source, n_docs, n_bad, bad_e6)``."""
    bad = F.lit(False)
    for m in MOJIBAKE_MARKERS:
        bad = bad | F.col(text_col).contains(m)
    return (df.groupBy(F.col(group_col).alias("source"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(bad.cast("long")).cast("long").alias("n_bad"))
            .withColumn("bad_e6",
                        F.expr("(CAST(n_bad AS DECIMAL(38,0)) "
                               "* 1000000) DIV n_docs").cast("long")))


def vocab_drift(df: DataFrame, k: int = 100, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Top-``k`` vocabulary turnover between the first and second half
    of the corpus (id-midpoint split — the arrival-order proxy): the
    drift audit that catches a crawl whose LEXICON shifted even when
    volume and length profiles stayed flat.  Jaccard of the two top-k
    token sets, integer-exact; the top-k cut is deterministic
    (count DESC, token ASC — :func:`group_top_terms`).

    Scale shape: one (half, token) keyed count feeding the two-level
    partial top-k of :func:`group_top_terms` (a half never sorts in one
    task); the set comparison runs over ≤ 2k surviving rows.  Output:
    one row ``(k, n_top_a, n_top_b, n_common, jaccard_e6)``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    mx = df.groupBy().agg(F.max(F.col(id_col)).alias("_mx"))
    halves = (df.crossJoin(F.broadcast(mx))
              .withColumn("half",
                          F.when(F.col(id_col) * 2 <= F.col("_mx"),
                                 "a").otherwise("b")))
    top = group_top_terms(halves, "half", k, text_col)
    m = (top.groupBy("token")
         .agg(F.max((F.col("half") == "a").cast("long")).alias("ia"),
              F.max((F.col("half") == "b").cast("long")).alias("ib")))
    return (m.groupBy()
            .agg(F.lit(int(k)).cast("long").alias("k"),
                 F.sum("ia").cast("long").alias("n_top_a"),
                 F.sum("ib").cast("long").alias("n_top_b"),
                 F.sum(F.col("ia") * F.col("ib")).cast("long")
                 .alias("n_common"))
            .withColumn("jaccard_e6", F.when(
                F.col("n_top_a") + F.col("n_top_b")
                - F.col("n_common") > 0,
                F.expr("(CAST(n_common AS DECIMAL(38,0)) * 1000000) "
                       "DIV (n_top_a + n_top_b - n_common)")
                .cast("long"))))


def coverage_curve(df: DataFrame, ks: tuple = (10, 100, 1000),
                   text_col: str = "text") -> DataFrame:
    """Token-mass coverage of the top-``k`` vocabulary at several rank
    cuts — the Zipf companion every tokenizer-budget decision reads
    (how much of the corpus do 10 / 100 / 1000 types cover?):
    ``mass_e6 = covered·10^6 DIV total``, integer-exact.

    Scale shape: ONE token-keyed count; ranks ride the
    range-partitioned :func:`~frogocr_spark.operators.ranking
    .global_rank` (EAGER — see its note) under (count DESC, token)
    and are FILTERED to
    ``rank <= max(ks)`` before the tiny ks cross — the curve math
    touches ≤ max(ks) rows however large the vocabulary; the total is
    a 1-row broadcast agg.  Output: one row per cut
    ``(k, n_types, covered, total, mass_e6)``."""
    from .ranking import global_rank
    ks = sorted(int(x) for x in ks)
    toks = df.select(
        F.explode(F.array_remove(
            F.split(F.trim(F.col(text_col)), _WS), "")).alias("tok"))
    counts = (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
              .withColumn("_negc", -F.col("c")))
    r = global_rank(counts, ["_negc", "tok"], rank_col="rank")
    tot = counts.groupBy().agg(F.sum("c").cast("long").alias("total"))
    surv = r.where(F.col("rank") <= ks[-1])
    kdf = df.sparkSession.createDataFrame([(x,) for x in ks], "k long")
    return (surv.crossJoin(F.broadcast(kdf))
            .where(F.col("rank") <= F.col("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("n_types"),
                 F.sum("c").cast("long").alias("covered"))
            .crossJoin(F.broadcast(tot))
            .withColumn("mass_e6",
                        F.expr("(CAST(covered AS DECIMAL(38,0)) "
                               "* 1000000) DIV total").cast("long")))


def context_fit(df: DataFrame, cuts: tuple = (512, 2048, 8192),
                text_col: str = "text") -> DataFrame:
    """Context-window fit report — the packing/truncation planning
    number for each candidate sequence length: per cut, how many
    documents fit whole, and what fraction of the token mass a
    hard truncation at that cut would discard
    (``loss_e6 = (total − Σ min(tokens, cut))·10^6 DIV total``) —
    all integer-exact on whitespace token counts.

    Scale shape: token counting is a pure map; the per-cut report is
    ONE map-side-combined agg over the 3-row broadcast cuts cross
    (3 rows per doc, never a token explode).  Output: one row per cut
    ``(cut, n_docs, n_fit, fit_e6, tokens_total, tokens_kept,
    loss_e6)``."""
    if not cuts or min(int(c) for c in cuts) < 1:
        raise ValueError(f"cuts must all be >= 1, got {cuts}")
    cuts = sorted(int(c) for c in cuts)
    base = df.select(token_count(F.col(text_col)).cast("long")
                     .alias("t"))
    kdf = df.sparkSession.createDataFrame([(c,) for c in cuts],
                                          "cut long")
    return (base.crossJoin(F.broadcast(kdf))
            .groupBy("cut")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum((F.col("t") <= F.col("cut")).cast("long"))
                 .cast("long").alias("n_fit"),
                 F.sum("t").cast("long").alias("tokens_total"),
                 F.sum(F.least("t", "cut")).cast("long")
                 .alias("tokens_kept"))
            .select("cut", "n_docs", "n_fit",
                    F.expr("(CAST(n_fit AS DECIMAL(38,0)) * 1000000) "
                           "DIV n_docs").cast("long").alias("fit_e6"),
                    "tokens_total", "tokens_kept",
                    F.when(F.col("tokens_total") > 0, F.expr(
                        "(CAST(tokens_total - tokens_kept AS "
                        "DECIMAL(38,0)) * 1000000) DIV tokens_total")
                        .cast("long")).alias("loss_e6")))


def tokenizer_fertility(df: DataFrame, group_col: str = "source",
                        text_col: str = "text") -> DataFrame:
    """Tokenizer fertility per corpus slice — BPE-style pre-tokens per
    whitespace word (``fertility_e6 = Σpre·10^6 DIV Σwords``): the
    compression audit that catches a source whose punctuation/digit mix
    blows up the token budget (fertility ≫ 1 = expensive slice).  Both
    counts are the pinned portable definitions (:func:`token_count`,
    :func:`bpe_token_count`), so the ratio is integer-exact.

    Scale shape: two fused regex/split counts in ONE map stage + ONE
    keyed agg.  Slices with zero words are NULL (nothing to tokenize).
    Output: ``(group, n_docs, words, pre_tokens, fertility_e6)``."""
    base = df.select(F.col(group_col).alias("group"),
                     token_count(F.col(text_col)).cast("long")
                     .alias("w"),
                     bpe_token_count(F.col(text_col)).cast("long")
                     .alias("p"))
    return (base.groupBy("group")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("w").cast("long").alias("words"),
                 F.sum("p").cast("long").alias("pre_tokens"))
            .withColumn("fertility_e6", F.when(
                F.col("words") > 0,
                F.expr("(CAST(pre_tokens AS DECIMAL(38,0)) * 1000000) "
                       "DIV words").cast("long"))))


def max_token_run(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Longest consecutive repeated-token run per document — the
    degenerate-repetition audit (looping generators and scraped
    navigation boilerplate both leave ``foo foo foo …`` runs that
    per-token frequency stats miss).  Runs are gaps-and-islands:
    island id = pos − rank-within-token (both per-doc window
    row_numbers), winner = the deterministic
    ``(run DESC, token ASC, start ASC)`` argmin-struct.  Empty docs
    keep a row with ``max_run = 0``.

    Scale shape: posexplode → two per-doc keyed windows (full
    parallelism across docs, never a global sort) → (doc, token,
    island) keyed agg → per-doc min-struct agg.  Output:
    ``(doc_id, max_run, run_token, run_start)``."""
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.array_remove(
            F.split(F.trim(F.col(text_col)), _WS), ""))
        .alias("pos", "tok"))
    w_all = Window.partitionBy("_id").orderBy("pos")
    w_tok = Window.partitionBy("_id", "tok").orderBy("pos")
    isl = (toks.withColumn("_isl", F.row_number().over(w_all)
                           - F.row_number().over(w_tok)))
    runs = (isl.groupBy("_id", "tok", "_isl")
            .agg(F.count(F.lit(1)).alias("run"),
                 F.min("pos").alias("start")))
    best = (runs.groupBy("_id")
            .agg(F.min(F.struct((-F.col("run")).alias("nr"),
                                F.col("tok").alias("tok"),
                                F.col("start").alias("start")))
                 .alias("b")))
    return (df.select(F.col(id_col).alias("_id"))
            .join(best, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce(-F.col("b.nr"), F.lit(0)).cast("long")
                    .alias("max_run"),
                    F.col("b.tok").alias("run_token"),
                    F.col("b.start").cast("long").alias("run_start")))


def bloom_false_positive_rate(df: DataFrame, eval_df: DataFrame,
                              text_col: str = "text", n: int = 8,
                              m_bits: int = 65536,
                              min_parallelism: int | None = None) -> DataFrame:
    """MEASURED Bloom false-positive rate against exact truth — the
    audit that turns :func:`bloom_decontaminate`'s theoretical
    ``(1-e^{-kn/m})^k`` bound into a number for THIS corpus and filter:
    corpus grams provably NOT in the eval set (exact anti-join) are
    probed against the filter; every hit is by definition a false
    positive.  ``fpr_e6 = n_fp·10^6 DIV n_probes`` — what the
    decontamination pipeline over-discards at the chosen ``m_bits``.

    Scale shape: the filter is built once (driver-bounded ≤ m_bits
    set-bit rows — EAGER, see :func:`bloom_build`); truth is ONE
    gram-keyed anti-join of distinct corpus grams against distinct
    eval grams; the probe is a pure map over surviving grams; the
    report is two 1-row aggregates.  Output: one row
    ``(m_bits, k, n_members, n_probes, n_fp, fpr_e6)``.

    ``min_parallelism``: same defensive repartition as
    :func:`bloom_decontaminate` — gram explosion + k bit-probes per
    gram cost far more compute per input byte than the scan, so when
    the parquet layout yields fewer scan partitions than this (one row
    group can never split), round-robin the raw rows first.  A
    well-laid-out 100 TB corpus has thousands of row groups and skips
    the exchange (the default)."""
    from .dedup import _shingle_expr
    if min_parallelism is not None:
        if df.rdd.getNumPartitions() < min_parallelism:
            df = df.repartition(min_parallelism)
        if eval_df.rdd.getNumPartitions() < min_parallelism:
            eval_df = eval_df.repartition(min_parallelism)
    bloom = bloom_build(eval_df, text_col, n, m_bits)
    members = (eval_df.select(
        F.explode(_shingle_expr(text_col, n, None)).alias("gram"))
        .where("gram <> ''").distinct())
    corpus = (df.select(
        F.explode(_shingle_expr(text_col, n, None)).alias("gram"))
        .where("gram <> ''").distinct())
    probes = corpus.join(members, "gram", "left_anti")
    h = F.md5(F.col("gram"))
    hit = None
    # BINARY literal probe — see bloom_decontaminate: string substring
    # is O(position) per probe, binary substring is O(1)
    blit = F.lit(bloom.encode("ascii"))
    for j in range(BLOOM_K):
        p = (F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10)
             .cast("long") % m_bits).cast("int")
        c = F.substring(blit, p + 1, F.lit(1)) == F.lit(b"1")
        hit = c if hit is None else (hit & c)
    pagg = probes.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum(hit.cast("long")).cast("long").alias("n_fp"))
    magg = members.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_members"))
    return (magg.crossJoin(F.broadcast(pagg))
            .select(F.lit(int(m_bits)).cast("long").alias("m_bits"),
                    F.lit(int(BLOOM_K)).cast("long").alias("k"),
                    "n_members", "n_probes",
                    F.coalesce("n_fp", F.lit(0)).cast("long")
                    .alias("n_fp"),
                    F.when(F.col("n_probes") > 0, F.expr(
                        "(CAST(coalesce(n_fp, 0) AS DECIMAL(38,0)) "
                        "* 1000000) DIV n_probes").cast("long"))
                    .alias("fpr_e6")))


# NDCG@10 discount table: floor(10^6 / log2(r+1)) for rank r = 1..10,
# and its inclusive prefix sums (the binary-relevance ideal-DCG table).
# Hardcoded e6 integer constants (the benford/dp_counts discipline: no
# runtime libm, so the irrational log2 values cannot differ across
# engines in the last ulp); tests/test_session31_ops.py recomputes the
# table from math.log2.
NDCG_DISC_E6 = (1000000, 630929, 500000, 430676, 386852,
                356207, 333333, 315464, 301029, 289064)
NDCG_IDCG_CUM_E6 = (1000000, 1630929, 2130929, 2561605, 2948457,
                    3304664, 3637997, 3953461, 4254490, 4543554)


def ir_eval(docs: DataFrame, queries: dict[str, list[str]], *,
            id_col: str = "doc_id", text_col: str = "text",
            top_k: int = 10) -> DataFrame:
    """Retrieval-quality report of the BM25 ranker — MRR@k and binary
    NDCG@k per query against DETERMINISTIC relevance labels (a doc is
    relevant to q iff it contains ALL of q's terms — the conjunctive
    containment both engines can recompute exactly; no human qrels in
    this sandbox).  The evaluation layer every ranker change needs
    before shipping: bm25 alone proves the scores, this proves the
    RANKING QUALITY.

        rr_e6   = 10^6 DIV rank of first relevant in top-k (0 = miss)
        dcg_e6  = Σ_{hits} NDCG_DISC_E6[rank]        (exact int sum)
        idcg_e6 = NDCG_IDCG_CUM_E6[min(n_rel, k)]
        ndcg_e6 = dcg_e6 · 10^6 DIV idcg_e6          (NULL if n_rel=0)

    Scale shape: the run list is :func:`bm25_scores`' audited plan
    (term-filtered scan, keyed rank window); qrels come from ONE
    distinct (doc, term) pass over the term-filtered tokens joined to
    the broadcast literal (query, term) map — a doc is relevant when
    its matched-distinct-term count equals the query's term count; the
    per-query report joins the k-row run lists to the qrel relation on
    (query, doc).  Output: ``query_id, n_rel, hits, rr_e6, dcg_e6,
    idcg_e6, ndcg_e6``."""
    if top_k > len(NDCG_DISC_E6):
        raise ValueError(f"top_k must be <= {len(NDCG_DISC_E6)} "
                         f"(discount table), got {top_k}")
    runs = bm25_scores(docs, queries, id_col=id_col, text_col=text_col,
                       top_k=top_k).select("query_id", "doc_id", "rank")
    terms = sorted({t for ts in queries.values() for t in ts})
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(F.array_distinct(F.filter(
                            F.split(F.lower(F.trim(F.col(text_col))),
                                    r"\s+"),
                            lambda w: w != ""))).alias("tok"))
            .where(F.col("tok").isin(terms)))
    qt = docs.sparkSession.createDataFrame(
        [(q, t) for q, ts in queries.items() for t in ts],
        "query_id string, tok string")
    need = docs.sparkSession.createDataFrame(
        [(q, len(set(ts))) for q, ts in queries.items()],
        "query_id string, n_terms int")
    qrels = (toks.join(F.broadcast(qt), "tok")
             .groupBy("query_id", "doc_id")
             .agg(F.countDistinct("tok").alias("_m"))
             .join(F.broadcast(need), "query_id")
             .where(F.col("_m") == F.col("n_terms"))
             .select("query_id", "doc_id"))
    n_rel = qrels.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rel"))
    disc = "array({})".format(", ".join(
        str(x) for x in NDCG_DISC_E6[:top_k]))
    cum = "array({})".format(", ".join(
        str(x) for x in NDCG_IDCG_CUM_E6[:top_k]))
    j = (runs.join(qrels.withColumn("_rel", F.lit(1)),
                   ["query_id", "doc_id"], "left")
         .withColumn("_rel", F.coalesce("_rel", F.lit(0))))
    per = (j.groupBy("query_id")
           .agg(F.sum(F.when(F.col("_rel") == 1,
                             F.expr(f"element_at({disc}, rank)"))
                      .otherwise(F.lit(0))).cast("long").alias("dcg_e6"),
                F.sum("_rel").cast("long").alias("hits"),
                F.min(F.when(F.col("_rel") == 1, F.col("rank")))
                .alias("_fr")))
    return (per.join(n_rel, "query_id", "left")
            .withColumn("n_rel", F.coalesce("n_rel", F.lit(0)))
            .withColumn("rr_e6", F.when(
                F.col("_fr").isNotNull(),
                F.expr("CAST(1000000 AS BIGINT) DIV _fr"))
                .otherwise(F.lit(0)).cast("long"))
            .withColumn("idcg_e6", F.when(
                F.col("n_rel") > 0,
                F.expr(f"element_at({cum}, CAST(least(n_rel, "
                       f"{top_k}) AS INT))")).otherwise(F.lit(0))
                .cast("long"))
            .withColumn("ndcg_e6", F.when(
                F.col("n_rel") > 0,
                F.expr("(CAST(dcg_e6 AS DECIMAL(38,0)) * 1000000) "
                       "DIV idcg_e6").cast("long")))
            .select("query_id", "n_rel", "hits", "rr_e6",
                    "dcg_e6", "idcg_e6", "ndcg_e6"))
