"""Session 36 operators: corpus-wide exact paragraph dedup
(Dolma-style first-occurrence-keeps), the doc-level blocklist gate
(C4 bad-words step), and the deterministic shard export plan
(balanced round-robin over the global md5 order + integrity
manifests)."""

from __future__ import annotations

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from frogocr_spark.operators.layout import shard_plan
from frogocr_spark.operators.textstats import blocklist_gate, \
    paragraph_dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- para_dedup

def test_para_dedup_hand_case(spark):
    # doc 1 owns "shared" (pos 1) and repeats it in-doc (pos 3 drops);
    # doc 2's copy drops (later doc); trailing whitespace differences
    # still match (trimmed key) but the KEPT text is byte-verbatim;
    # the empty paragraph (doc 2) is never a dedup key and survives.
    rows = [(1, "body one\n\nshared para\n\nmiddle\n\nshared para"),
            (2, "body two\n\n shared para \n\n\n\ntail two")]
    got = {r.doc_id: r for r in paragraph_dedup(_docs(spark, rows))
           .collect()}
    assert got[1].n_paras == 4 and got[1].n_dropped == 1
    assert got[1].kept_text == "body one\n\nshared para\n\nmiddle"
    # doc 2: "shared para" (trim-matched) dropped; empty para kept
    assert got[2].n_paras == 4 and got[2].n_dropped == 1
    assert got[2].kept_text == "body two\n\n\n\ntail two"


def test_para_dedup_owner_is_global_min_doc_pos(spark):
    # same paragraph at pos 0 of doc 5 and pos 2 of doc 3: the OWNER is
    # (doc 3, pos 2)'s? No — min(struct(doc, pos)) orders doc first, so
    # doc 3 owns it even though doc 5 has it earlier in-document.
    rows = [(5, "dup para\n\nfive body"),
            (3, "three body\n\nmid\n\ndup para")]
    got = {r.doc_id: r for r in paragraph_dedup(_docs(spark, rows))
           .collect()}
    assert got[3].n_dropped == 0
    assert got[5].n_dropped == 1
    assert got[5].kept_text == "five body"


def test_para_dedup_null_text_is_empty_doc(spark):
    rows = [(1, None), (2, "real body")]
    got = {r.doc_id: r for r in paragraph_dedup(_docs(spark, rows))
           .collect()}
    assert got[1].n_paras == 1 and got[1].n_dropped == 0
    assert got[1].kept_text == ""


def test_para_dedup_random_twin(spark):
    # pure-Python twin: first global occurrence (doc asc, pos asc) of a
    # trimmed non-empty paragraph keeps; whitespace-only always keeps
    rng = random.Random(36)
    pool = [f"para {i}" for i in range(6)] + ["", "  "]
    rows = [(d, "\n\n".join(rng.choice(pool)
                            for _ in range(rng.randint(1, 6))))
            for d in range(20)]
    owner: dict[str, tuple[int, int]] = {}
    for d, t in sorted(rows):
        for p, para in enumerate(t.split("\n\n")):
            k = para.strip()
            if k and k not in owner:
                owner[k] = (d, p)
    want = {}
    for d, t in rows:
        paras = t.split("\n\n")
        kept = [x for p, x in enumerate(paras)
                if not x.strip() or owner[x.strip()] == (d, p)]
        want[d] = (len(paras), len(paras) - len(kept),
                   "\n\n".join(kept))
    got = {r.doc_id: (r.n_paras, r.n_dropped, r.kept_text)
           for r in paragraph_dedup(_docs(spark, rows)).collect()}
    assert got == want


# --------------------------------------------------------------- blockwords

def test_blocklist_gate_hand_case(spark):
    rows = [(1, "Clean text only here"),
            (2, "some SPAM and more spam inside"),
            (3, "  "), (4, None)]
    got = {r.doc_id: r for r in blocklist_gate(
        _docs(spark, rows), ["spam", "banned"]).collect()}
    assert got[1].keep and got[1].n_blocked == 0
    assert got[1].n_tokens == 4
    # case-insensitive: SPAM and spam both count; distinct = 1
    assert not got[2].keep
    assert got[2].n_blocked == 2 and got[2].n_blocked_distinct == 1
    assert got[3].keep and got[3].n_tokens == 0
    assert got[4].keep and got[4].n_tokens == 0


def test_blocklist_gate_guard(spark):
    with pytest.raises(ValueError):
        blocklist_gate(_docs(spark, [(1, "x")]), [])
    # a phrase or empty entry can never match a whitespace token and
    # would silently weaken the gate
    with pytest.raises(ValueError):
        blocklist_gate(_docs(spark, [(1, "x")]), ["two words"])
    with pytest.raises(ValueError):
        blocklist_gate(_docs(spark, [(1, "x")]), [""])


# ----------------------------------------------------------- shard_manifest

def test_shard_plan_balance_and_totals(spark):
    n, s = 103, 8
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    got = shard_plan(df, s).collect()
    assert len(got) == s
    counts = sorted(r.n_rows for r in got)
    # exactly balanced: counts differ by at most 1 and sum to n
    assert counts[-1] - counts[0] <= 1 and sum(counts) == n
    assert {r.shard for r in got} == set(range(s))


def test_shard_plan_matches_python_twin(spark):
    # twin recomputes the md5 order, the round-robin deal, and the
    # exact checksum (python ints are the honest 38-digit arithmetic)
    n, s = 50, 4
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    order = sorted(range(n),
                   key=lambda i: (hashlib.md5(str(i).encode())
                                  .hexdigest(), i))
    want: dict[int, list[int]] = {j: [] for j in range(s)}
    for rk, i in enumerate(order):
        want[rk % s].append(i)
    got = {r.shard: r for r in shard_plan(df, s).collect()}
    for j in range(s):
        ids = want[j]
        assert got[j].n_rows == len(ids)
        assert got[j].id_min == min(ids)
        assert got[j].id_max == max(ids)
        chk = sum(int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)
                  for i in ids)
        assert got[j].checksum == str(chk)


def test_shard_plan_stable_under_repartition(spark):
    df = spark.range(40).select(F.col("id").alias("doc_id"))
    a = {(r.shard, r.n_rows, r.checksum)
         for r in shard_plan(df, 5).collect()}
    b = {(r.shard, r.n_rows, r.checksum)
         for r in shard_plan(df.repartition(13), 5).collect()}
    assert a == b


def test_shard_plan_guard(spark):
    with pytest.raises(ValueError):
        shard_plan(spark.range(3).select(F.col("id").alias("doc_id")), 0)


def test_shard_write_reserved_column_guard(spark, tmp_path):
    # a df already carrying shard/rank/_k would be silently mis-routed
    # or lose data — must fail fast (ADVICE r3)
    from frogocr_spark.operators.layout import shard_write
    df = spark.range(4).select(F.col("id").alias("doc_id"),
                               F.lit(1).alias("shard"))
    with pytest.raises(ValueError, match="reserves"):
        shard_write(df, str(tmp_path / "s"), 2)


def test_shard_write_manifest_matches_plan(spark, tmp_path):
    # manifest is now aggregated from the routed relation itself (no
    # second global_rank pass) — it must still equal shard_plan's
    # output row-for-row on the same input
    from frogocr_spark.operators.layout import shard_write
    df = spark.range(37).select(F.col("id").alias("doc_id"),
                                F.md5(F.col("id").cast("string"))
                                .alias("payload"))
    got = {r.shard: (r.n_rows, r.checksum, r.id_min, r.id_max)
           for r in shard_write(df, str(tmp_path / "s"), 5).collect()}
    want = {r.shard: (r.n_rows, r.checksum, r.id_min, r.id_max)
            for r in shard_plan(df, 5).collect()}
    assert got == want


def test_curation_funnel_empty_input_zero_counters(spark):
    # F.sum over zero rows is NULL — an empty corpus must report 0s
    # in every stage row, not NULL drop counters (ADVICE r3)
    from frogocr_spark.operators.textstats import curation_funnel
    empty = spark.createDataFrame([], "doc_id long, text string")
    rows = curation_funnel(empty).collect()
    assert len(rows) == 4
    for r in rows:
        assert (r.n_in, r.n_dropped, r.n_out) == (0, 0, 0)


# ------------------------------------------------------------- gate_funnel

def test_curation_funnel_hand_case(spark):
    from frogocr_spark.operators.textstats import curation_funnel
    # doc 1: fails lang (Norwegian stopwords); doc 2: good en text;
    # doc 3: fails length (short but english enough);
    # doc 4: fails blocklist only (otherwise clean).
    good = ("the quick brown fox jumps over the lazy dog and it "
            "is a very fine day for running in the park today")
    rows = [(1, "og det er som på til av for med og det er som på"),
            (2, good),
            (3, "the dog runs"),
            (4, good + " spamword")]
    got = {r.stage: r for r in curation_funnel(
        _docs(spark, rows), blocklist=["spamword"]).collect()}
    assert [got[s].stage_idx for s in
            ("lang", "quality", "length", "blocklist")] == [0, 1, 2, 3]
    assert got["lang"].n_in == 4 and got["lang"].n_dropped == 1
    assert got["length"].n_dropped == 1
    assert got["blocklist"].n_dropped == 1
    assert got["blocklist"].n_out == 1
    # conservation: drops + survivors == total at every stage
    for s in ("lang", "quality", "length", "blocklist"):
        assert got[s].n_in - got[s].n_dropped == got[s].n_out


def test_curation_funnel_survivors_equal_curation_gates(spark):
    # first-fail attribution re-expresses the same conjunctive gate:
    # final-stage survivors == curation_gates row count (no blocklist)
    from frogocr_spark.operators.textstats import curation_funnel, \
        curation_gates
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    funnel = {r.stage: r for r in curation_funnel(docs).collect()}
    assert funnel["blocklist"].n_out == curation_gates(docs).count()
    assert funnel["lang"].n_in == docs.count()


def test_curation_funnel_blocklist_guard(spark):
    from frogocr_spark.operators.textstats import curation_funnel
    with pytest.raises(ValueError):
        curation_funnel(_docs(spark, [(1, "x")]), blocklist=["a b"])


# ----------------------------------------------------------- shard_manifest

def test_shard_write_manifest_verifies_on_reread(spark, tmp_path):
    from frogocr_spark.operators.layout import shard_write
    n, s = 120, 6
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    path = str(tmp_path / "shards")
    manifest = {r.shard: r for r in shard_write(df, path, s).collect()}
    assert len(manifest) == s
    total = 0
    for j in range(s):
        shard = spark.read.parquet(f"{path}/shard={j}")
        rows = shard.collect()
        total += len(rows)
        # the independent integrity check a loader would run: recount
        # and re-sum the md5-derived row hashes in arbitrary order
        assert len(rows) == manifest[j].n_rows
        chk = sum(int(hashlib.md5(str(r.doc_id).encode())
                      .hexdigest()[:15], 16) for r in rows)
        assert str(chk) == manifest[j].checksum
        ids = [r.doc_id for r in rows]
        assert min(ids) == manifest[j].id_min
        assert max(ids) == manifest[j].id_max
    assert total == n
    # the manifest itself is persisted alongside the shards
    persisted = {r.shard: r.checksum for r in
                 spark.read.parquet(f"{path}/_MANIFEST").collect()}
    assert persisted == {j: manifest[j].checksum for j in range(s)}


# -------------------------------------------------------------- uniq_lines

def test_collapse_repeated_lines_hand_case(spark):
    from frogocr_spark.operators.textstats import collapse_repeated_lines
    rows = [(1, "a\na\na\nb\na"),      # run of 3 -> 1; later 'a' kept
            (2, "x"),                   # nothing to do
            (3, "\n\nq\n\n"),          # empty-line runs collapse too
            (4, None)]                  # NULL text = one empty line
    got = {r.doc_id: r for r in
           collapse_repeated_lines(_docs(spark, rows)).collect()}
    assert got[1].cleaned_text == "a\nb\na"
    assert got[1].n_lines == 5 and got[1].n_collapsed == 2
    assert got[2].cleaned_text == "x" and got[2].n_collapsed == 0
    assert got[3].cleaned_text == "\nq\n"
    assert got[3].n_lines == 5 and got[3].n_collapsed == 2
    assert got[4].cleaned_text == "" and got[4].n_lines == 1


def test_collapse_repeated_lines_random_twin(spark):
    from frogocr_spark.operators.textstats import collapse_repeated_lines
    rng = random.Random(99)
    rows = [(d, "\n".join(rng.choice(["p", "q", "", "  "])
                          for _ in range(rng.randint(1, 12))))
            for d in range(30)]
    want = {}
    for d, t in rows:
        ls = t.split("\n")
        kept = [x for i, x in enumerate(ls) if i == 0 or x != ls[i - 1]]
        want[d] = (len(ls), len(ls) - len(kept), "\n".join(kept))
    got = {r.doc_id: (r.n_lines, r.n_collapsed, r.cleaned_text)
           for r in collapse_repeated_lines(_docs(spark, rows)).collect()}
    assert got == want
