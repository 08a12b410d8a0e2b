"""End-to-end Spark pipeline: oracle parity, determinism under
repartitioning, resume exactly-once, skew, sidecar reconciliation from
the extraction tasks' tallies, Spark jobs per run (FIXTURES.md §5
invariants 1, 2, 5, 6)."""

from concurrent.futures import ThreadPoolExecutor

import pytest

from frogocr_spark.core.extract import extract_turn
from frogocr_spark.core.sniff import CLASSES
from frogocr_spark.operators.extraction import LastWins, extract_turns
from frogocr_spark.operators.resume import filter_unprocessed
from frogocr_spark.operators.skew import salted_repartition
from frogocr_spark.plans import pipeline
from frogocr_spark.plans.metrics import TOTALS
from frogocr_spark.plans.pipeline import (PipelineConfig, commit_run,
                                          run_extraction)
from frogocr_spark.sources import payloadgen, transcripts
from frogocr_spark.sources.catalog import BucketedTable, Table

N_CONVS = 40


@pytest.fixture(scope="module")
def tdf(spark):
    return transcripts.generate(spark, N_CONVS).cache()


@pytest.fixture(scope="module")
def oracle():
    return {
        (r["conv_id"], r["turn_idx"]): extract_turn(r["text"])
        for r in payloadgen.gen_transcripts(N_CONVS)
    }


def _collect_map(df):
    return {(r.conv_id, r.turn_idx): r for r in df.collect()}


def test_distributed_generator_matches_pure(spark, tdf, oracle):
    rows = tdf.collect()
    assert len(rows) == len(oracle)
    pure = {(r["conv_id"], r["turn_idx"]): r
            for r in payloadgen.gen_transcripts(N_CONVS)}
    for r in rows:
        p = pure[(r.conv_id, r.turn_idx)]
        assert r.text == p["text"] and r.role == p["role"]
        assert r.ts.replace(tzinfo=None) == p["ts"]


def test_spark_extraction_byte_matches_oracle(spark, tdf, oracle):
    got = _collect_map(extract_turns(tdf))
    assert set(got) == set(oracle)
    for k, rec in oracle.items():
        row = got[k]
        assert row.extracted_text == rec["extracted_text"], k
        assert [{"start": s.start, "end": s.end} for s in row.spans] == rec["spans"], k
        assert row.payload_class == rec["payload_class"]
        assert row.confidence == pytest.approx(rec["confidence"], abs=1e-12)


def test_ordering_stable_under_repartition(spark, tdf):
    """Invariant 2: identical output for repartition ∈ {1, 7} with and
    without salting — order comes from data keys, not partitioning."""
    base = {k: r.extracted_text
            for k, r in _collect_map(extract_turns(tdf)).items()}
    for parts in (1, 7):
        re = salted_repartition(tdf, parts, salt_buckets=4)
        got = {k: r.extracted_text
               for k, r in _collect_map(extract_turns(re)).items()}
        assert got == base


def test_pipeline_end_to_end_with_sidecar(spark, tdf, oracle, tmp_path):
    cfg = PipelineConfig(output_dir=str(tmp_path), run_id="r1",
                         num_partitions=6)
    stats = run_extraction(spark, tdf, cfg)
    assert stats["rows_in"] == len(oracle)
    assert stats["rows_in"] == stats["rows_out"]
    # per-class rows from the extraction observe(): they partition rows_in
    assert sum(stats["class_rows"].values()) == stats["observed"]["rows_in"]
    assert stats["class_rows"] == {
        c: sum(rec["payload_class"] == c for rec in oracle.values())
        for c in CLASSES}
    assert set(stats["phase_s"]) == {"resume_check", "extract_append",
                                     "sidecar"}
    assert all(t >= 0 for t in stats["phase_s"].values())
    out = Table(spark, str(tmp_path / "extractions")).read()
    got = _collect_map(out)
    assert len(got) == len(oracle)
    for k, rec in oracle.items():
        assert got[k].extracted_text == rec["extracted_text"]
    # sidecar reconciliation (invariant 6): one row per partition the
    # tasks counted, summing to the rows that entered extraction
    side = Table(spark, str(tmp_path / "metrics")).read().collect()
    assert sorted(r.partition_id for r in side) == sorted(
        {r.partition_id for r in out.select("partition_id").collect()})
    assert sum(r.rows_in for r in side) == stats["observed"]["rows_in"]
    assert sum(r.rows_out for r in side) == len(oracle)
    assert all(r.python_cpu_s > 0 for r in side)
    n_failures = sum(1 for rec in oracle.values() if rec["parse_failed"])
    assert sum(r.parse_failures for r in side) == n_failures
    n_empty = sum(1 for rec in oracle.values() if rec["empty_after_strip"])
    assert sum(r.empty_after_strip for r in side) == n_empty


def test_resume_exactly_once(spark, tdf, oracle, tmp_path):
    """Invariant 6: partial first run → full rerun → no dupes, complete."""
    half = tdf.where("pmod(hash(conv_id), 2) = 0")
    cfg1 = PipelineConfig(output_dir=str(tmp_path), run_id="r1")
    stats1 = run_extraction(spark, half, cfg1)
    assert 0 < stats1["rows_out"] < len(oracle)

    cfg2 = PipelineConfig(output_dir=str(tmp_path), run_id="r2")
    stats2 = run_extraction(spark, tdf, cfg2)
    assert stats2["rows_out"] == len(oracle) - stats1["rows_out"]

    out = Table(spark, str(tmp_path / "extractions")).read()
    assert out.count() == len(oracle)
    assert out.select("conv_id", "turn_idx").distinct().count() == len(oracle)

    # idempotent retry of the same run_id: no duplicates
    stats3 = run_extraction(spark, tdf, PipelineConfig(
        output_dir=str(tmp_path), run_id="r3"))
    # a zero-row run: the sidecar read-back sums to zeros
    assert {k: stats3[k] for k in TOTALS} == dict.fromkeys(TOTALS, 0)
    assert Table(spark, str(tmp_path / "extractions")).read().count() == len(oracle)


def _digest(df):
    """Order-independent digest of every column but ``partition_id``."""
    from pyspark.sql import functions as F

    cols = [c for c in df.columns if c != "partition_id"]
    return df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))).first()


def test_skewed_conversation(spark, tmp_path):
    """Invariant: one conv with 2000 turns among 20 small ones still
    produces exact output under salting, and the same bytes unsalted."""
    skew = transcripts.generate(spark, 20, skew_conv_turns=2000)
    cfg = PipelineConfig(output_dir=str(tmp_path), run_id="r1",
                         num_partitions=8, salt_buckets=8)
    stats = run_extraction(spark, skew, cfg)
    expect = sum(payloadgen.turns_in_conv(c, 2000) for c in range(20))
    assert stats["rows_out"] == expect
    out = Table(spark, str(tmp_path / "extractions")).read()
    big = out.where("conv_id = 'conv_00000000'")
    assert big.count() == 2000
    # salting spread the hot conv across >1 physical partition
    assert big.select("partition_id").distinct().count() > 1
    # spot-check a few turns against the oracle
    sample = {r.turn_idx: r.extracted_text
              for r in big.where("turn_idx in (0, 999, 1999)").collect()}
    for t, text in sample.items():
        assert text == extract_turn(payloadgen.gen_turn(0, t)["text"])["extracted_text"]
    unsalted = tmp_path / "unsalted"
    run_extraction(spark, skew, PipelineConfig(
        output_dir=str(unsalted), run_id="r1", salt_buckets=0))
    assert _digest(out) == _digest(
        Table(spark, str(unsalted / "extractions")).read())


def test_filter_unprocessed_none_passthrough(spark, tdf):
    assert filter_unprocessed(tdf, None) is tdf


def test_blind_retry_of_completed_run_keeps_data(spark, tmp_path):
    """Retrying an already-COMPLETED run_id with resume on must be a
    no-op: the resume anti-join yields zero rows and the staged publish
    must NOT clobber the committed run dir with the empty result
    (regression: the pre-staging append did exactly that)."""
    import os

    from frogocr_spark.plans.pipeline import PipelineConfig, run_extraction
    from frogocr_spark.sources import transcripts as tgen
    from frogocr_spark.sources.catalog import Table

    cfg = PipelineConfig(output_dir=str(tmp_path), run_id="rr", salt_buckets=0)
    df = tgen.generate(spark, 15)
    t = Table(spark, os.path.join(str(tmp_path), "extractions"))
    side_dir = os.path.join(str(tmp_path), "metrics", "data", "run_id=rr")

    def side_files():
        return {f: os.stat(os.path.join(side_dir, f)).st_mtime_ns
                for f in os.listdir(side_dir)}

    first, before = run_extraction(spark, df, cfg), side_files()
    n = t.read().count()
    assert n == df.count()
    stats = run_extraction(spark, df, cfg)   # blind retry, same run_id
    assert t.read().count() == n             # data survived
    assert (stats["observed"]["rows_out"] or 0) == 0   # nothing re-ran
    # the sidecar is left as it was and its totals re-reported
    assert side_files() == before
    assert {k: stats[k] for k in TOTALS} == {k: first[k] for k in TOTALS}
    # staging dir cleaned up
    assert not [d for d in os.listdir(os.path.join(str(tmp_path),
                                                   "extractions"))
                if d.startswith(".staging")]


def test_reconciliation_mismatch_raises(spark, tdf, tmp_path, monkeypatch):
    """Rows lost between the observed extraction and the committed files
    (here: the output append drops turn_idx 3) fail the run loudly — a
    RuntimeError carrying both counts, not an assert ``python -O``
    strips."""
    from pyspark.sql import functions as F

    stage = Table.stage

    def lossy_stage(self, df, run_id):
        if self.path.endswith("extractions"):
            df = df.where(F.col("turn_idx") != 3)
        stage(self, df, run_id)

    monkeypatch.setattr(Table, "stage", lossy_stage)
    cfg = PipelineConfig(output_dir=str(tmp_path), run_id="lossy",
                         salt_buckets=0)
    n = tdf.count()
    lost = tdf.where(F.col("turn_idx") == 3).count()
    assert lost > 0
    with pytest.raises(RuntimeError, match=f"{n} rows.*{n - lost} /"):
        run_extraction(spark, tdf, cfg)


def test_extraction_row_loss_raises_through_rows_in(spark, tdf, tmp_path,
                                                    monkeypatch):
    """rows_in is observed on the frame that enters extraction, so rows
    the extraction itself drops (here: turn_idx 3) fail the
    reconciliation, although the extraction output and the committed
    files agree with each other."""
    from pyspark.sql import functions as F

    extract = pipeline.extract_turns
    monkeypatch.setattr(
        pipeline, "extract_turns",
        lambda df, **kw: extract(df, **kw).where(F.col("turn_idx") != 3))
    cfg = PipelineConfig(output_dir=str(tmp_path), run_id="lossy",
                         num_partitions=4)
    n = tdf.count()
    lost = tdf.where(F.col("turn_idx") == 3).count()
    assert lost > 0
    with pytest.raises(RuntimeError, match=f"{n} rows in.*{n - lost} /"):
        run_extraction(spark, tdf, cfg)


def test_last_wins_merge_counts_a_partition_once(spark):
    """A partition's entry added twice (a re-executed task) counts
    once.  A real task failure cannot be injected: the shared local
    session runs with spark.task.maxFailures=1."""
    acc = spark.sparkContext.accumulator({}, LastWins())
    for pid in (3, 3, 4):
        acc.add({pid: {"rows_in": 5, "rows_out": 5}})
    assert acc.value == {p: {"rows_in": 5, "rows_out": 5} for p in (3, 4)}


def test_tally_is_exact_over_two_actions(spark, tdf, oracle):
    """One extracted frame run by two actions with one tally: every
    partition's second entry replaces its first, so the counts match
    the rows once, not twice.  The salted shuffle sorts each partition
    by conv_id, so its conv_id runs are its distinct conv_ids."""
    acc = spark.sparkContext.accumulator({}, LastWins())
    out = extract_turns(salted_repartition(tdf, 4, salt_buckets=4),
                        tally=acc)
    out.write.format("noop").mode("overwrite").save()
    rows = out.collect()
    convs = {}
    for r in rows:
        convs.setdefault(r.partition_id, set()).add(r.conv_id)
    assert {p: e["n_convs_approx"] for p, e in acc.value.items()} == {
        p: len(c) for p, c in convs.items()}

    def total(col):
        return sum(e[col] for e in acc.value.values())

    assert total("rows_in") == total("rows_out") == len(oracle)
    assert total("parse_failures") == sum(
        rec["parse_failed"] for rec in oracle.values())
    assert total("empty_after_strip") == sum(
        rec["empty_after_strip"] for rec in oracle.values())
    assert total("confidence_sum") == pytest.approx(
        sum(rec["confidence"] for rec in oracle.values()))
    assert all(e["python_cpu_s"] > 0 for e in acc.value.values())


def test_partition_with_no_rows_writes_no_sidecar_row(spark, tdf, tmp_path):
    """Three rows spread over eight partitions: only the three
    partitions that held a row get a sidecar row."""
    out = Table(spark, str(tmp_path / "extractions"))
    side = Table(spark, str(tmp_path / "metrics"))
    stats = commit_run(tdf.limit(3).repartition(8), extract_turns, "r1",
                       out, side)
    assert stats["rows_out"] == stats["observed"]["rows_in"] == 3
    pids = {r.partition_id for r in out.read().collect()}
    rows = side.read().collect()
    assert len(pids) == 3
    assert sorted(r.partition_id for r in rows) == sorted(pids)
    assert all(r.rows_in == 1 for r in rows)


def test_fresh_run_issues_two_spark_jobs(spark, tmp_path, monkeypatch):
    """A fresh run is two Spark jobs, the salted shuffle and the output
    write; nothing after the output write runs one.  A new hidden job
    (a schema inference, a read-back) fails this test."""
    sc = spark.sparkContext
    group = "test-fresh-run-jobs"

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    after_output = []
    stage = Table.stage

    def counting_stage(self, df, run_id):
        stage(self, df, run_id)
        if self.path.endswith("extractions"):
            after_output.append(jobs())

    monkeypatch.setattr(Table, "stage", counting_stage)
    tdf = transcripts.generate(spark, 500)
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        stats = run_extraction(spark, tdf, PipelineConfig(
            output_dir=str(tmp_path), run_id="r1"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats["rows_out"] == stats["observed"]["rows_in"] > 0
    assert after_output == [2]
    assert jobs() == 2


def test_crash_between_publishes_then_retry_commits_the_run(
        spark, tdf, tmp_path, monkeypatch):
    """The output publish raises after the sidecar is published; the
    retry finds the run's turns unprocessed, extracts them again and
    replaces the sidecar, so the run ends with its output and one
    sidecar whose totals equal it."""
    publish = Table.publish

    def crashing_publish(self, run_id):
        if self.path.endswith("extractions"):
            raise OSError("killed before the output publish")
        publish(self, run_id)

    cfg = PipelineConfig(output_dir=str(tmp_path), run_id="r1",
                         salt_buckets=0)
    with monkeypatch.context() as m:
        m.setattr(Table, "publish", crashing_publish)
        with pytest.raises(OSError, match="output publish"):
            run_extraction(spark, tdf, cfg)
    out = Table(spark, str(tmp_path / "extractions"))
    side = Table(spark, str(tmp_path / "metrics"))
    assert (out.snapshots(), side.snapshots()) == ([], ["r1"])

    stats = run_extraction(spark, tdf, cfg)
    n = tdf.count()
    assert stats["observed"]["rows_in"] == n
    assert (out.snapshots(), side.snapshots()) == (["r1"], ["r1"])
    assert stats["rows_in"] == stats["rows_out"] == out.read().count() == n
    assert sum(r.rows_out for r in side.read().collect()) == n


@pytest.mark.parametrize("bucketed", [False, True], ids=["parquet",
                                                         "bucketed"])
def test_rerun_of_committed_run_id_with_new_rows_raises(spark, tmp_path,
                                                        bucketed):
    """A resumed rerun under a committed run_id that finds new rows
    raises before writing: the append replaces a run, so going on would
    leave only the new rows under that run_id."""
    cfg = PipelineConfig(output_dir=str(tmp_path), run_id="r1",
                         salt_buckets=0, buckets=4,
                         bucketed_table="bt_rerun" if bucketed else None)

    def keys():
        out = (BucketedTable(spark, "bt_rerun").read() if bucketed
               else Table(spark, str(tmp_path / "extractions")).read())
        return sorted(out.select("conv_id", "turn_idx").collect())

    try:
        first = transcripts.generate(spark, 20)
        run_extraction(spark, first, cfg)
        committed = keys()
        assert committed == sorted(first.select("conv_id",
                                                "turn_idx").collect())
        with pytest.raises(ValueError, match="'r1'.*new --run-id"):
            run_extraction(spark, transcripts.generate(spark, 40), cfg)
        assert keys() == committed
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_rerun")


OVERSIZED_MB = 50


def _oversized_turns(rows):
    """One ~OVERSIZED_MB turn each of plain, tool_json (a log in
    ``stdout``, escapes included), html and pdf_layout, repeated from
    the generator's own payloads of that class.  markdown and two_pass
    emit a span per word: at 16 MB the reference extract_turn alone
    takes 13-21 s and ~1 GB for them, so they are left out."""
    import json

    from frogocr_spark.core.sniff import sniff
    size = OVERSIZED_MB << 20
    by_class = {}
    for r in rows:
        by_class.setdefault(sniff(r["text"]), []).append(r["text"])

    def fill(unit):
        return (unit * (size // len(unit) + 1))[:size]

    return {
        "plain": fill(" ".join(by_class["plain"])),
        "tool_json": json.dumps({"status": "ok", "stdout": fill(
            "\n".join(by_class["plain"]))}),
        "html": fill("\n".join(by_class["html"])),
        "pdf_layout": fill(" ".join(by_class["pdf_layout"])),
    }


def test_oversized_turns_match_extract_turn(spark, tmp_path):
    """A few OVERSIZED_MB turns mixed with ordinary ones
    go through the operator, in Arrow batches the session bounds by
    bytes as well as rows, and match extract_turn row for row."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from frogocr_spark.session import ARROW_BATCH_BYTES
    assert (spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch")
            == str(ARROW_BATCH_BYTES))
    rows = payloadgen.gen_transcripts(30)
    big = _oversized_turns(rows)
    rows = rows[:200] + [
        {"conv_id": f"big-{cls}", "turn_idx": 0, "role": "tool", "text": t}
        for cls, t in big.items()] + rows[200:]
    pq.write_table(pa.Table.from_pylist(
        [{k: r[k] for k in ("conv_id", "turn_idx", "role", "text")}
         for r in rows]), tmp_path / "in.parquet")
    # the reference runs while the Spark job waits on its workers
    with ThreadPoolExecutor(1) as pool:
        pending = pool.submit(
            lambda: {(r["conv_id"], r["turn_idx"]): extract_turn(r["text"])
                     for r in rows})
        got = extract_turns(spark.read.parquet(str(tmp_path / "in.parquet"))
                            ).toArrow().to_pylist()
        want = pending.result()
    assert len(got) == len(want) == len(rows)
    for row in got:
        key = (row["conv_id"], row["turn_idx"])
        rec = want.pop(key)
        if key[0].startswith("big-"):
            assert key[0] == "big-" + rec["payload_class"]
        for col in ("payload_class", "extracted_text", "spans", "n_blocks",
                    "n_spans", "n_variants", "parse_failed",
                    "empty_after_strip"):
            assert row[col] == rec[col], (key, col)
        assert row["confidence"] == pytest.approx(rec["confidence"],
                                                  abs=1e-12)
    assert not want
