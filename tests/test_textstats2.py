"""Rolling fingerprint, BPE-ish token count, embedding near-dup."""

import numpy as np
import pytest

from frogocr_spark.operators import textstats
from frogocr_spark.operators.dedup import embedding_near_dup_pairs
from frogocr_spark.operators.textstats import (ROLL_BASE, ROLL_MOD,
                                               hash_token,
                                               rolling_fingerprint)


def _py_roll(text: str) -> int:
    acc = 0
    for tok in text.split():
        acc = (acc * ROLL_BASE + hash_token(tok)) % ROLL_MOD
    return acc


def test_rolling_fingerprint_matches_python_and_is_order_sensitive(spark):
    rows = [(0, "alpha beta gamma"), (1, "gamma beta alpha"), (2, ""),
            (3, "alpha beta gamma")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.roll_fp for r in rolling_fingerprint(df).collect()}
    for i, t in rows:
        assert got[i] == _py_roll(t), i
    assert got[0] == got[3]          # identical text → identical fp
    assert got[0] != got[1]          # reordered tokens → different fp
    assert got[2] == 0


def test_bpe_token_count(spark):
    import pyspark.sql.functions as F
    df = spark.createDataFrame(
        [(0, "hello, world! x2"), (1, ""), (2, "a.b.c")],
        "id long, text string")
    got = {r.id: r.n for r in df.select(
        "id", textstats.bpe_token_count(F.col("text")).alias("n")).collect()}
    # hello , world ! x 2 → 6 ; a . b . c → 5
    assert got == {0: 6, 1: 0, 2: 5}


@pytest.fixture(scope="module")
def near_dup_emb(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(size=(20, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    # plant near-dups: 100/101 ≈ copies of 0/1 with tiny noise
    for src, nid in ((0, 100), (1, 101)):
        v = base[src] + rng.normal(scale=0.01, size=16).astype(np.float32)
        rows.append((nid, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()


def test_embedding_near_dup_exact(spark, near_dup_emb):
    got = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(
        near_dup_emb, threshold=0.95, use_lsh=False).collect()}
    assert (0, 100) in got and (1, 101) in got
    # random 16-dim pairs never reach .95
    assert all(b in (100, 101) for _, b in got)


def test_embedding_near_dup_lsh_finds_planted(spark, near_dup_emb):
    got = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(
        near_dup_emb, threshold=0.95, dim=16, use_lsh=True).collect()}
    assert (0, 100) in got and (1, 101) in got
    exact = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(
        near_dup_emb, threshold=0.95, use_lsh=False).collect()}
    assert got <= exact  # LSH candidates verified by exact cosine


# ---------------------------------------------------------------------------
# repetition_stats / stratified_sample / cross_doc_ngrams
# ---------------------------------------------------------------------------

def test_repetition_stats_hand_computed(spark):
    rows = [
        (0, "a b\na b\nc d"),        # 3 lines, 2 distinct; grams: "a b"x2,
                                     # "b c"? NO — grams are per-doc over the
                                     # WHOLE text: tokens a b a b c d →
                                     # grams: a b, b a, a b, b c, c d →
                                     # top "a b" 2 of 5
        (1, "x"),                    # 1 line, no bigram
        (2, ""),                     # no lines, no bigram
        (3, "  \n  \n"),             # whitespace-only → no lines
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_lines"], r["dup_line_frac"],
                         r["top_2gram_frac"])
           for r in textstats.repetition_stats(df).collect()}
    assert got[0] == (3, round(1 - 2 / 3, 6), round(2 / 5, 6))
    assert got[1] == (1, 0.0, 0.0)
    assert got[2] == (0, 0.0, 0.0)
    assert got[3] == (0, 0.0, 0.0)


def test_stratified_sample_cap_and_determinism(spark):
    rows = [(i, "s%d" % (i % 3)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, stratum string")
    out1 = sorted((r["stratum"], r["doc_id"]) for r in
                  textstats.stratified_sample(
                      df, ["stratum"], 5, id_col="doc_id").collect())
    out2 = sorted((r["stratum"], r["doc_id"]) for r in
                  textstats.stratified_sample(
                      df, ["stratum"], 5, id_col="doc_id").collect())
    assert out1 == out2                       # deterministic
    from collections import Counter
    per = Counter(s for s, _ in out1)
    assert per == {"s0": 5, "s1": 5, "s2": 5}  # exact per-stratum cap
    # md5 order: verify against a python recomputation
    import hashlib
    want = set()
    for s in ("s0", "s1", "s2"):
        ids = [i for i, st in rows if st == s]
        ids.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        want |= {(s, i) for i in ids[:5]}
    assert set(out1) == want


def test_stratified_sample_small_stratum_kept_whole(spark):
    df = spark.createDataFrame([(1, "rare"), (2, "rare")],
                               "doc_id long, stratum string")
    assert textstats.stratified_sample(
        df, ["stratum"], 10, id_col="doc_id").count() == 2


def test_cross_doc_ngrams_hand_computed(spark):
    shared = "one two three four"
    rows = [(0, f"A {shared} B"),
            (1, f"C {shared} D"),
            (2, f"E {shared} F"),
            (3, "totally different text here now ok")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["gram"]: r["n_docs"] for r in
           textstats.cross_doc_ngrams(df, n=4, min_docs=2).collect()}
    # only the shared interior 4-gram appears in >= 2 docs
    assert got == {"one two three four": 3}


def test_cross_doc_ngrams_within_doc_repeat_counts_once(spark):
    df = spark.createDataFrame(
        [(0, "p q r s p q r s"),      # gram "p q r s" twice IN one doc
         (1, "p q r s")],
        "doc_id long, text string")
    got = {r["gram"]: r["n_docs"] for r in
           textstats.cross_doc_ngrams(df, n=4, min_docs=2).collect()}
    assert got["p q r s"] == 2        # distinct DOCS, not occurrences


def test_dup_gram_fraction_hand_computed(spark):
    shared = "q w e r"
    rows = [(0, f"{shared} one"),        # grams: "q w e r","w e r one"
            (1, f"{shared} two"),        # grams: "q w e r","w e r two"
            (2, "totally unrelated words here"),  # 1 gram, unique
            (3, "x")]                    # no 4-gram
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"],
                         r["dup_gram_frac"])
           for r in textstats.dup_gram_fraction(df, n=4,
                                                min_docs=2).collect()}
    assert got[0] == (2, 1, 0.5)
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (1, 0, 0.0)
    assert got[3] == (0, 0, 0.0)


def test_decontaminate_hand_computed(spark):
    bench = "a b c d"
    cand = spark.createDataFrame(
        [(0, f"{bench} x"),              # grams "a b c d","b c d x" → 1 hit
         (1, "clean text with no overlap at all"),  # 0 hits
         (2, "ab")],                     # no grams
        "doc_id long, text string")
    eval_df = spark.createDataFrame([(100, bench)],
                                    "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_overlap"], r["overlap_frac"],
                         r["contaminated"])
           for r in textstats.decontaminate(cand, eval_df, n=4).collect()}
    assert got[0] == (2, 1, 0.5, 1)
    assert got[1] == (4, 0, 0.0, 0)
    assert got[2] == (0, 0, 0.0, 0)


def test_stratified_sample_degenerate_stratum_exact(spark):
    # one stratum holds 95% of rows, spread over many input partitions —
    # the partial top-k prune must still produce the exact global answer
    rows = ([(i, "hot") for i in range(950)]
            + [(1000 + i, "cold") for i in range(50)])
    df = spark.createDataFrame(rows, "doc_id long, stratum string") \
        .repartition(16)
    got = sorted((r["stratum"], r["doc_id"]) for r in
                 textstats.stratified_sample(
                     df, ["stratum"], 7, id_col="doc_id").collect())
    import hashlib
    want = []
    for s, ids in (("hot", range(950)), ("cold", range(1000, 1050))):
        order = sorted(ids, key=lambda i: (
            hashlib.md5(str(i).encode()).hexdigest(), i))
        want += [(s, i) for i in order[:7]]
    assert got == sorted(want)


def test_redact_pii_hand_computed(spark):
    rows = [
        (0, "mail me at a.b+x@foo-bar.org or c@d.io thanks"),
        (1, "call +47 22 11 33 55 or 900 12 345 now"),
        (2, "digits 1234567890 in an email x1234567890y@z.com"),
        (3, "clean text no pii"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_emails"], r["n_phones"], r["scrubbed"])
           for r in textstats.redact_pii(df).collect()}
    assert got[0] == (2, 0, "mail me at <EMAIL> or <EMAIL> thanks")
    assert got[1] == (0, 2, "call <PHONE> or <PHONE> now")
    # the 10-digit run inside the address must NOT count as a phone
    assert got[2] == (1, 1, "digits <PHONE> in an email <EMAIL>")
    assert got[3] == (0, 0, "clean text no pii")


def test_redact_pii_randomized_no_residual_and_idempotent(spark):
    """Seeded-random PII-spiked corpus: after the scrub no email/phone
    pattern matches remain (checked with the SAME patterns in python
    re), and a second scrub is a no-op (the replacement tokens contain
    no '@' and no digits)."""
    import random
    import re

    from pyspark.sql import functions as F

    rng = random.Random(7)
    words = ["alpha", "beta", "x9", "foo.bar", "-", "+47", "(a)", "z"]
    pii = ["bob@corp.example.com", "a.b+c@x-y.org", "+47 22 33 44 55",
           "900 12 345 67", "not@an", "@@", "12-34"]
    rows = []
    for i in range(400):
        n = rng.randint(0, 12)
        toks = [rng.choice(words + pii) for _ in range(n)]
        rows.append((i, " ".join(toks)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = textstats.redact_pii(df)
    again = textstats.redact_pii(
        out.select("doc_id", F.col("scrubbed").alias("text")))
    got = {r["doc_id"]: r for r in out.collect()}
    got2 = {r["doc_id"]: r for r in again.collect()}
    email = re.compile(textstats.EMAIL_RE)
    phone = re.compile(textstats.PHONE_RE)
    for i, _t in rows:
        s = got[i]["scrubbed"]
        assert not email.search(s), s
        assert not phone.search(s), s
        assert got2[i]["scrubbed"] == s          # idempotent
        assert got2[i]["n_emails"] == 0 and got2[i]["n_phones"] == 0


def test_dup_gram_fraction_randomized_vs_python(spark):
    import random

    rng = random.Random(11)
    vocab = [f"w{j}" for j in range(30)]
    rows = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(0, 20))))
            for i in range(120)]
    n = 5
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_dup_grams"],
                         r["dup_gram_frac"])
           for r in textstats.dup_gram_fraction(df, n=n,
                                                min_docs=2).collect()}
    per_doc = {}
    for i, t in rows:
        ws = [w for w in t.split() if w]
        per_doc[i] = {" ".join(ws[j:j + n])
                      for j in range(len(ws) - n + 1)}
    from collections import Counter
    freq = Counter(g for gs in per_doc.values() for g in gs)
    for i, _t in rows:
        gs = per_doc[i]
        dup = sum(1 for g in gs if freq[g] >= 2)
        frac = round(dup / len(gs), 6) if gs else 0.0
        assert got[i] == (len(gs), dup, frac), i


def test_chunk_windows_hand_computed(spark):
    rows = [(0, 0), (1, 1), (2, 512), (3, 513), (4, 1300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    got = {}
    for r in textstats.chunk_windows(df, window=512, stride=256).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["tok_start"], r["tok_end"]))
    for v in got.values():
        v.sort()
    assert 0 not in got                         # zero-token doc: no rows
    assert got[1] == [(0, 0, 1)]
    assert got[2] == [(0, 0, 512), (1, 256, 512)]
    assert got[3] == [(0, 0, 512), (1, 256, 513), (2, 512, 513)]
    # 1300 tokens: starts 0,256,...,1280 (floor(1299/256)=5 -> 6 chunks)
    assert got[4] == [(0, 0, 512), (1, 256, 768), (2, 512, 1024),
                      (3, 768, 1280), (4, 1024, 1300), (5, 1280, 1300)]


def test_chunk_windows_nonoverlapping_covers_exactly(spark):
    import random
    rng = random.Random(13)
    rows = [(i, rng.randint(0, 2000)) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok int")
    got = {}
    for r in textstats.chunk_windows(df, window=128, stride=128).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["tok_start"], r["tok_end"]))
    for i, n in rows:
        chunks = sorted(got.get(i, []))
        # disjoint, contiguous, exact cover of [0, n)
        covered = sum(e - s for s, e in chunks)
        assert covered == n, i
        assert all(chunks[j][1] == chunks[j + 1][0]
                   for j in range(len(chunks) - 1)), i
        if n:
            assert chunks[0][0] == 0 and chunks[-1][1] == n


def test_top_vocabulary_hand_computed(spark):
    rows = [(0, "a a a b b c"), (1, "b c c d"), (2, "  "), (3, "a d")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.token, r.t_count)
           for r in textstats.top_vocabulary(df, 3).collect()]
    # counts: a=4, b=3, c=3, d=2 → top-3 with (count desc, token asc)
    assert got == [("a", 4), ("b", 3), ("c", 3)]


def test_top_vocabulary_tiebreak_is_token_asc(spark):
    rows = [(0, "z y x"), (1, "z y"), (2, "z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [r.token for r in textstats.top_vocabulary(df, 2).collect()]
    assert got == ["z", "y"]


def test_in_vocab_ratio_hand_computed(spark):
    rows = [(0, "a b junk1 junk2"), (1, ""), (2, "a a a"), (3, "q w e")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tok, r.n_invocab, r.invocab_ratio)
           for r in textstats.in_vocab_ratio(df, ["a", "b"]).collect()}
    assert got[0] == (4, 2, 0.5)
    assert got[1] == (0, 0, 0.0)
    assert got[2] == (3, 3, 1.0)
    assert got[3] == (3, 0, 0.0)


def test_mix_sample_caps_and_determinism(spark):
    import hashlib
    # stratum A: 100 docs → cap ceil(sqrt(100)) = 10;
    # stratum B: 5 docs  → cap ceil(sqrt(5))  = 3
    rows = [(i, "A") for i in range(100)] + [(100 + i, "B") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = textstats.mix_sample(df, ["src"]).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.src, []).append(r.doc_id)
        assert r.stratum_cap == (10 if r.src == "A" else 3)
    assert len(by_src["A"]) == 10 and len(by_src["B"]) == 3
    # exact expected pick: smallest md5(str(id))
    for src, ids, cap in (("A", range(100), 10), ("B", range(100, 105), 3)):
        exp = sorted(ids, key=lambda i: (
            hashlib.md5(str(i).encode()).hexdigest(), i))[:cap]
        assert sorted(by_src[src]) == sorted(exp), src
    # deterministic across repartition
    out2 = textstats.mix_sample(df.repartition(7), ["src"]).collect()
    assert sorted((r.src, r.doc_id) for r in out2) \
        == sorted((r.src, r.doc_id) for r in out)


def test_group_top_terms_hand_computed(spark):
    rows = [(0, "s1", "a a b"), (1, "s1", "b c"), (2, "s2", "x y y")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {(r.source, r.rank): (r.token, r.t_count)
           for r in textstats.group_top_terms(df, "source", 2).collect()}
    # s1: a=2, b=2, c=1 → [("a",2), ("b",2)]; s2: y=2, x=1
    assert got[("s1", 1)] == ("a", 2)
    assert got[("s1", 2)] == ("b", 2)
    assert got[("s2", 1)] == ("y", 2)
    assert got[("s2", 2)] == ("x", 1)


def test_hash_split_deterministic_and_exhaustive(spark):
    import hashlib
    rows = [(i,) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long")
    got = {r.doc_id: r.split
           for r in textstats.hash_split(df).collect()}
    for i in range(3000):
        p = hashlib.md5(str(i).encode()).hexdigest()[:2]
        exp = "train" if p < "e6" else ("val" if p < "f3" else "test")
        assert got[i] == exp, i
    # proportions near 230/13/13 of 256
    from collections import Counter
    c = Counter(got.values())
    assert 0.85 < c["train"] / 3000 < 0.93
    assert c["val"] > 0 and c["test"] > 0
    # stable under repartition
    got2 = {r.doc_id: r.split
            for r in textstats.hash_split(df.repartition(13)).collect()}
    assert got2 == got


def test_normalize_text_hand_computed(spark):
    rows = [
        (0, "caf" + "é" + " x"),       # NFC composes e+combining
        (1, "a\x00b\x07c\x7fd"),             # C0/DEL controls stripped
        (2, "  a \t\n b   "),                # ws runs collapse + trim
        (3, "café"),                          # already NFC: unchanged
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.norm_text
           for r in textstats.normalize_text(df).collect()}
    assert got[0] == "café x"
    assert got[1] == "abcd"
    assert got[2] == "a b"
    assert got[3] == "café"
    assert got[4] == ""
    # idempotent
    df2 = spark.createDataFrame([(k, v) for k, v in got.items()],
                                "doc_id long, text string")
    again = {r.doc_id: r.norm_text
             for r in textstats.normalize_text(df2).collect()}
    assert again == got


def test_in_vocab_ratio_empty_vocab(spark):
    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    r = textstats.in_vocab_ratio(df, []).collect()[0]
    assert (r.n_tok, r.n_invocab, r.invocab_ratio) == (3, 0, 0.0)


def test_mix_sample_null_stratum_not_dropped(spark):
    rows = [(i, "A" if i < 9 else None) for i in range(18)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    out = textstats.mix_sample(df, ["src"]).collect()
    # 9 docs per stratum → cap 3 each; NULL is a legitimate stratum
    by = {}
    for r in out:
        by.setdefault(r.src, []).append(r.doc_id)
    assert len(by["A"]) == 3
    assert len(by[None]) == 3


def test_hash_split_validates_thresholds(spark):
    import pytest
    df = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        textstats.hash_split(df, train_hex="E6")          # uppercase
    with pytest.raises(ValueError):
        textstats.hash_split(df, train_hex="f3", val_hex="e6")  # inverted
    with pytest.raises(ValueError):
        textstats.hash_split(df, train_hex="xyz")         # not hex


def test_line_filters_hand_computed(spark):
    doc = ("Good first sentence here.\n"      # kept
           "short.\n"                         # < 3 words
           "enable javascript to continue.\n"  # boilerplate phrase
           "Our cookie policy applies here.\n"  # boilerplate phrase
           "if (x) { return y; }\n"            # brace
           "no terminal punctuation at all\n"  # no [.!?] ending
           "   Trimmed line also counts!   \n"  # kept (trimmed, '!')
           "\n"                                 # empty
           "Is this a question?")               # kept ('?')
    df = spark.createDataFrame([(0, doc), (1, "")],
                               "doc_id long, text string")
    got = {r.doc_id: r for r in textstats.line_filters(df).collect()}
    assert got[0].n_lines == 9
    assert got[0].n_kept == 3
    # kept lines keep their ORIGINAL bytes: gates evaluate on the
    # trimmed line, but the output is the raw line (byte-faithful)
    assert got[0].kept_text == ("Good first sentence here.\n"
                                "   Trimmed line also counts!   \n"
                                "Is this a question?")
    assert got[0].line_kept_frac == round(3 / 9, 6)
    # empty doc: split('') → [''] → 1 line, 0 kept
    assert (got[1].n_lines, got[1].n_kept, got[1].kept_text) == (1, 0, "")


def test_line_filters_kept_lines_preserve_order_and_bytes(spark):
    lines = [f"Sentence number {i} stands complete." for i in range(10)]
    noise = ["{ skip }", "tiny.", "cookie banner text here."]
    doc = "\n".join(v for pair in zip(lines, noise * 4) for v in pair)
    df = spark.createDataFrame([(0, doc)], "doc_id long, text string")
    out = textstats.line_filters(df).collect()[0]
    assert out.kept_text == "\n".join(lines)


def test_bloom_decontaminate_no_false_negatives_and_exact_twin(spark):
    bench = "a b c d"
    cand = spark.createDataFrame(
        [(0, f"{bench} x"), (1, "clean text with no overlap at all"),
         (2, "ab")],
        "doc_id long, text string")
    eval_df = spark.createDataFrame([(100, bench)],
                                    "doc_id long, text string")
    bloom = textstats.bloom_build(eval_df, n=4, m_bits=4096)
    assert len(bloom) == 4096 and set(bloom) <= {"0", "1"}
    # 1 eval gram × 3 probes → at most 3 set bits, at least 1
    assert 1 <= bloom.count("1") <= 3
    got = {r["doc_id"]: (r["n_grams"], r["n_hits"], r["flagged"])
           for r in textstats.bloom_decontaminate(
               cand, bloom, n=4).collect()}
    exact = {r["doc_id"]: (r["n_grams"], r["n_overlap"], r["contaminated"])
             for r in textstats.decontaminate(cand, eval_df, n=4).collect()}
    for d in (0, 1, 2):
        assert got[d][0] == exact[d][0]            # same distinct-gram count
        assert got[d][1] >= exact[d][1]            # no false negatives
        assert got[d][2] >= exact[d][2]
    assert got[0] == (2, 1, 1)  # the true hit is found, "b c d x" misses


def test_bloom_decontaminate_fp_rate_bounded(spark):
    # 200 eval grams in a 2^16-bit filter: per-gram FP ≈ (600/65536)^3
    # ≈ 7.7e-7 — 500 clean probe grams should see zero false positives
    eval_rows = [(i, f"e{i} f{i} g{i} h{i}") for i in range(200)]
    cand_rows = [(1000 + i, f"p{i} q{i} r{i} s{i}") for i in range(500)]
    eval_df = spark.createDataFrame(eval_rows, "doc_id long, text string")
    cand = spark.createDataFrame(cand_rows, "doc_id long, text string")
    bloom = textstats.bloom_build(eval_df, n=4, m_bits=65536)
    out = textstats.bloom_decontaminate(cand, bloom, n=4).collect()
    assert all(r["flagged"] == 0 for r in out)
    # and every eval doc probed against its own filter must self-flag
    self_hit = textstats.bloom_decontaminate(eval_df, bloom, n=4).collect()
    assert all(r["flagged"] == 1 for r in self_hit)


def test_substring_dedup_cut_hand_computed(spark):
    rows = [
        (1, "a b c d e f g h tail one"),   # min doc_id → owns the gram
        (2, "x a b c d e f g h y"),        # shared gram cut
        (3, "unique words only in this document here now"),
        (4, "a b c d e f g h"),            # exactly the gram → emptied
        (5, "short doc"),                  # < n tokens → no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
           for r in textstats.substring_dedup_cut(
               df, n=8, min_docs=2).collect()}
    assert got[1] == (10, 0, "a b c d e f g h tail one")  # owner untouched
    assert got[2] == (10, 8, "x y")
    assert got[3] == (8, 0, "unique words only in this document here now")
    assert got[4] == (8, 8, "")
    assert got[5] == (2, 0, "short doc")


def test_substring_dedup_cut_overlapping_occurrences(spark):
    # non-owner doc repeats the duplicated gram twice, overlapping ranges
    # union cleanly through the (doc, pos) distinct
    rows = [(1, "a b c d"), (2, "a b c d a b c d tail")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_removed, r.cleaned_text)
           for r in textstats.substring_dedup_cut(
               df, n=4, min_docs=2).collect()}
    assert got[1] == (0, "a b c d")
    assert got[2] == (8, "tail")
