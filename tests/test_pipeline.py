"""End-to-end Spark pipeline: oracle parity, determinism under
repartitioning, resume exactly-once, skew, sidecar reconciliation from
the extraction tasks' tallies, the tasks' own part-file writes (a
retried task's included), the workers' frozen import heap, Spark jobs
per run (FIXTURES.md §5 invariants 1, 2, 5, 6)."""

import gc
import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest

from frogocr_spark.core.extract import extract_turn
from frogocr_spark.core.sniff import CLASSES
from frogocr_spark.operators.extraction import LastWins, extract_turns
from frogocr_spark.operators.resume import filter_unprocessed
from frogocr_spark.operators.skew import (DEFAULT_SALT_BUCKETS,
                                          _local_path, salt_buckets_for,
                                          salted_repartition)
from frogocr_spark.plans import pipeline
from frogocr_spark.plans.metrics import TOTALS
from frogocr_spark.plans.pipeline import (PipelineConfig, commit_run,
                                          run_extraction)
from frogocr_spark.sources import payloadgen, transcripts
from frogocr_spark.sources.catalog import BucketedTable, Table, footer_rows

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
    # per-class rows counted by the extraction tasks: they partition
    # rows_in
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
    assert all(r.python_wall_s >= r.python_cpu_s > 0 for r in side)
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
    """Rows lost between the tasks' write and the committed files (here:
    the staged part files lose turn_idx 3 just before the output
    publish) fail the run loudly — a RuntimeError carrying both counts,
    not an assert ``python -O`` strips."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    publish = Table.publish

    def lossy_publish(self, run_id):
        if self.path.endswith("extractions"):
            staging = self._staging(run_id)
            for f in os.listdir(staging):
                part = os.path.join(staging, f)
                t = pq.read_table(part)
                pq.write_table(t.filter(pc.field("turn_idx") != 3), part)
        publish(self, run_id)

    monkeypatch.setattr(Table, "publish", lossy_publish)
    cfg = PipelineConfig(output_dir=str(tmp_path), run_id="lossy",
                         salt_buckets=0)
    n = tdf.count()
    lost = tdf.where(F.col("turn_idx") == 3).count()
    assert lost > 0
    with pytest.raises(RuntimeError, match=f"{n} rows.*{n - lost} /"):
        run_extraction(spark, tdf, cfg)


def test_extraction_row_loss_raises_through_rows_in(spark, tdf, tmp_path,
                                                    monkeypatch):
    """rows_in is observed in the JVM on the frame that enters
    extraction, so rows lost after that (here: turn_idx 3, dropped
    before the tasks see them) fail the reconciliation, although the
    tasks' counts and the committed files agree with each other."""
    from pyspark.sql import functions as F

    extract = pipeline.extract_turns
    monkeypatch.setattr(
        pipeline, "extract_turns",
        lambda df, **kw: extract(df.where(F.col("turn_idx") != 3), **kw))
    cfg = PipelineConfig(output_dir=str(tmp_path), run_id="lossy",
                         num_partitions=4)
    n = tdf.count()
    lost = tdf.where(F.col("turn_idx") == 3).count()
    assert lost > 0
    with pytest.raises(RuntimeError, match=f"{n} rows in.*{n - lost} /"):
        run_extraction(spark, tdf, cfg)


def test_last_wins_merge_counts_a_partition_once(spark):
    """A partition's entry added twice (a re-executed task) counts
    once.  The shared local session runs with spark.task.maxFailures=1,
    so a real retried task runs in its own session
    (``test_retried_task_commits_each_row_once``)."""
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


def test_task_write_run_twice_leaves_one_part_file(spark, tdf, tmp_path):
    """One partition's write run twice, as a re-executed task would run
    it: the second attempt's file replaces the first under the same
    name, so the dir holds one part file with the partition's rows, no
    temp file, and a footer that agrees with the tally."""
    acc = spark.sparkContext.accumulator({}, LastWins())
    out = extract_turns(tdf.coalesce(1), tally=acc, write_dir=str(tmp_path))
    for _ in range(2):
        out.write.format("noop").mode("overwrite").save()
    assert os.listdir(tmp_path) == ["part-00000.parquet"]
    assert footer_rows(str(tmp_path)) == acc.value[0]["rows_out"] \
        == tdf.count()
    keys = pq.read_table(tmp_path / "part-00000.parquet",
                         columns=["conv_id", "turn_idx"]).to_pydict()
    assert sorted(zip(keys["conv_id"], keys["turn_idx"])) == sorted(
        tdf.select("conv_id", "turn_idx").collect())


# Runs in its own process: a retry needs a local[N,F] master, and the
# shared session's local[N] fails a job at its first task failure.
_RETRY_RUN = """
import json, os, sys
from pyspark.sql import SparkSession
from frogocr_spark.operators.extraction import extract_turns
from frogocr_spark.plans.pipeline import commit_run
from frogocr_spark.sources import payloadgen
from frogocr_spark.sources.catalog import BucketedTable, Table

root, bucketed = sys.argv[1], sys.argv[2] == "bucketed"
spark = (SparkSession.builder.master("local[2,2]").appName("retry")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
path = os.path.join(root, "extractions")
out = (BucketedTable(spark, path, "bt_retry", buckets=4) if bucketed
       else Table(spark, path))
side = Table(spark, os.path.join(root, "metrics"))
staging = out._staging("r1")
seen = os.path.join(root, "failed_attempt_saw.json")


def fail_first_attempt(batches):
    from pyspark import TaskContext
    for _ in batches:        # ends once the extraction task's files are in place
        pass
    ctx = TaskContext.get()
    if ctx.partitionId() == 1 and ctx.attemptNumber() == 0:
        with open(seen, "w") as fh:
            json.dump(sorted(os.listdir(staging)), fh)
        raise RuntimeError("injected failure after the part file was written")
    yield from ()


def extract(df, **kw):
    extracted = extract_turns(df, **kw)
    return extracted.mapInArrow(fail_first_attempt, extracted.schema)


rows = list(payloadgen.gen_transcripts(20))
todo = spark.createDataFrame(rows)
stats = commit_run(todo.repartition(4), extract, "r1", out, side)
buckets = {} if not bucketed else dict(
    todo.select("conv_id", out.bucket).distinct().collect())
print(json.dumps({"keys": [[r["conv_id"], r["turn_idx"]] for r in rows],
                  "buckets": buckets,
                  "rows_out": stats["rows_out"],
                  "rows_in": stats["observed"]["rows_in"],
                  "run_dir": os.path.join(out.data_dir, "run_id=r1")}))
spark.stop()
"""


@pytest.mark.parametrize("layout", ["parquet", "bucketed"])
def test_retried_task_commits_each_row_once(tmp_path, layout):
    """A task whose first attempt fails after it renamed its part files
    into the staging dir runs again and replaces each of them: the run
    commits one part file per partition (per partition and bucket for a
    bucketed table, each holding only its bucket's rows), no temp file,
    and every input row exactly once."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    done = subprocess.run(
        [sys.executable, "-c", _RETRY_RUN, str(tmp_path), layout], cwd=root,
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": root})
    assert done.returncode == 0, done.stderr[-3000:]
    res = json.loads(done.stdout.strip().splitlines()[-1])
    files = sorted(os.listdir(res["run_dir"]))
    with open(tmp_path / "failed_attempt_saw.json") as fh:
        saw = {f for f in json.load(fh) if f.startswith("part-00001")}
    assert saw and saw == {f for f in files if f.startswith("part-00001")}
    if layout == "parquet":
        assert files == [f"part-{p:05d}.parquet" for p in range(4)]
    else:
        assert {f[5:10] for f in files} == {f"{p:05d}" for p in range(4)}
        for f in files:
            convs = pq.read_table(os.path.join(res["run_dir"], f),
                                  columns=["conv_id"])["conv_id"]
            assert f == f"part-{f[5:10]}_{f[11:16]}.parquet"
            assert {res["buckets"][c] for c in convs.to_pylist()} \
                == {int(f[11:16])}
    committed = pq.read_table(res["run_dir"],
                              columns=["conv_id", "turn_idx"]).to_pydict()
    keys = sorted(zip(committed["conv_id"], committed["turn_idx"]))
    assert len(keys) == len(set(keys))
    assert keys == sorted(map(tuple, res["keys"]))
    assert res["rows_out"] == res["rows_in"] == len(keys)


def test_workers_freeze_their_import_heap_and_the_driver_does_not(
        spark, tdf):
    """After an extraction over four partitions, the Python workers that
    ran it report a frozen import heap (``gc.get_freeze_count() > 0``),
    and the driver process, which only plans the operator, froze
    nothing."""
    extract_turns(tdf.repartition(4)).write.format("noop") \
        .mode("overwrite").save()

    def probe(batches):
        import gc

        import pyarrow as pa
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"frozen": [gc.get_freeze_count()]})

    # more probe tasks than the session keeps idle workers, so the
    # workers that ran the extraction are among those probed
    rows = spark.range(32, numPartitions=32).mapInArrow(
        probe, "frozen long").collect()
    assert max(r.frozen for r in rows) > 0
    assert gc.get_freeze_count() == 0


@pytest.mark.parametrize("layout", ["parquet", "bucketed"])
def test_empty_run_commits_a_schema_only_part_file(spark, tdf, tmp_path,
                                                   layout):
    """A run whose tasks wrote nothing commits one schema-only part
    file, as Spark's writer did, with the schema the tasks give theirs
    (in bucket 0 for a bucketed table, whose reader refuses a file with
    no bucket id): the run reads as an empty table and the resume check
    finds no keys in it."""
    path = str(tmp_path / "extractions")
    out = (BucketedTable(spark, path, "bt_empty", buckets=4)
           if layout == "bucketed" else Table(spark, path))
    side = Table(spark, str(tmp_path / "metrics"))
    try:
        stats = commit_run(tdf.limit(0), extract_turns, "empty", out, side)
        assert stats["rows_out"] == stats["observed"]["rows_in"] == 0
        assert out.snapshots() == ["empty"]
        empty_dir = os.path.join(out.data_dir, "run_id=empty")
        assert os.listdir(empty_dir) == [
            "part-00000_00000.parquet" if layout == "bucketed"
            else "part-00000.parquet"]
        assert out.read().count() == 0
        assert [c for c in out.read().columns if c != "run_id"] \
            == extract_turns(tdf).columns
        keys = out.processed_keys("conv_id", "turn_idx")
        assert keys is not None and keys.count() == 0

        commit_run(tdf.limit(5), extract_turns, "full", out, side)
        full_dir = os.path.join(out.data_dir, "run_id=full")
        schemas = {str(pq.read_schema(os.path.join(d, f)))
                   for d in (empty_dir, full_dir) for f in os.listdir(d)}
        assert len(schemas) == 1
        assert out.read().count() == 5
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_empty")


def test_fresh_run_issues_two_spark_jobs(spark, tmp_path, monkeypatch):
    """A fresh run over a generated input is two Spark jobs, the salted
    shuffle and the noop action whose tasks write the output; nothing
    after it runs one.  The input is not a file scan, so no scan splits
    bound its tasks and the run salts (a fresh run over parquet is one
    job: test_fresh_run_over_parquet_is_one_map_only_spark_job).  A new
    hidden job (a schema inference, a read-back) fails this test."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    group = "test-fresh-run-jobs"

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    after_output = []
    save = DataFrameWriter.save

    def counting_save(self, *args, **kwargs):
        save(self, *args, **kwargs)
        after_output.append(jobs())

    monkeypatch.setattr(DataFrameWriter, "save", counting_save)
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


def _parquet_input(spark, path, rows, row_group_size=None):
    """``rows`` as one parquet file under ``path``, written with pyarrow,
    read back under TRANSCRIPT_SCHEMA (no schema-inference job)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(path)
    pq.write_table(pa.Table.from_pylist(
        rows, schema=to_arrow_schema(transcripts.TRANSCRIPT_SCHEMA)),
        os.path.join(path, "part-0.parquet"), row_group_size=row_group_size)
    return spark.read.schema(transcripts.TRANSCRIPT_SCHEMA).parquet(str(path))


@pytest.fixture
def salt_calls(monkeypatch):
    """The salt_buckets of every salted_repartition the pipeline makes,
    looked up through the module name the pipeline benchmark patches."""
    calls = []
    salted = pipeline.salted_repartition

    def recording(df, num_partitions=None,
                  salt_buckets=DEFAULT_SALT_BUCKETS):
        calls.append(salt_buckets)
        return salted(df, num_partitions, salt_buckets)

    monkeypatch.setattr(pipeline, "salted_repartition", recording)
    return calls


def _output_digest(spark, out_dir):
    return _digest(Table(spark, os.path.join(out_dir, "extractions")).read())


def test_fresh_run_over_parquet_is_one_map_only_spark_job(
        spark, tmp_path, salt_calls):
    """A fresh run over parquet whose row groups fit the scan's splits
    extracts straight from the splits: no salted shuffle, so one Spark
    job (the noop action), and the same rows as the salted plan."""
    sc = spark.sparkContext
    group = "test-fresh-parquet-run-jobs"
    inp = _parquet_input(spark, tmp_path / "in",
                         payloadgen.gen_transcripts(N_CONVS))
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        stats = run_extraction(spark, inp, PipelineConfig(
            output_dir=str(tmp_path / "out"), run_id="r1"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert stats["salt_buckets"] == 0 and salt_calls == []
    assert stats["rows_out"] == stats["observed"]["rows_in"] == inp.count()
    salted = run_extraction(spark, inp, PipelineConfig(
        output_dir=str(tmp_path / "salted"), run_id="r1", salt_buckets=8))
    assert salted["salt_buckets"] == 8 and salt_calls == [8]
    assert _output_digest(spark, str(tmp_path / "out")) == _output_digest(
        spark, str(tmp_path / "salted"))


def test_row_group_larger_than_a_split_takes_the_salted_plan(
        spark, tmp_path, salt_calls):
    """With the split size between the row-group sizes of two inputs of
    the same rows, the input of small row groups stays map-only (its
    file, larger than a split, has its footer read) and the input whose
    one row group is larger than a split salts; both give the same
    rows."""
    rows = payloadgen.gen_transcripts(N_CONVS)
    fine = _parquet_input(spark, tmp_path / "fine", rows, row_group_size=8)
    coarse = _parquet_input(spark, tmp_path / "coarse", rows)

    def row_groups(path):
        meta = pq.read_metadata(os.path.join(path, "part-0.parquet"))
        return [sum(rg.column(c).total_compressed_size
                    for c in range(rg.num_columns))
                for rg in map(meta.row_group, range(meta.num_row_groups))]

    small, (big,) = (max(row_groups(tmp_path / "fine")),
                     row_groups(tmp_path / "coarse"))
    split = (small + big) // 2
    assert os.path.getsize(tmp_path / "fine" / "part-0.parquet") > split
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, str(split))
    try:
        runs = [run_extraction(spark, inp, PipelineConfig(
                    output_dir=str(tmp_path / name), run_id="r1"))
                for name, inp in (("fine_out", fine), ("coarse_out", coarse))]
    finally:
        spark.conf.set(key, saved)
    assert [r["salt_buckets"] for r in runs] == [0, DEFAULT_SALT_BUCKETS]
    assert salt_calls == [DEFAULT_SALT_BUCKETS]
    assert runs[0]["rows_out"] == runs[1]["rows_out"] == len(rows)
    assert _output_digest(spark, str(tmp_path / "fine_out")) == \
        _output_digest(spark, str(tmp_path / "coarse_out"))


def test_resume_over_committed_keys_takes_the_salted_plan(
        spark, tmp_path, salt_calls):
    """A resume run that finds committed keys salts, so AQE can pack the
    anti-join's survivors into few output files; the fresh base run
    before it is map-only.  Base plus resume hold the salted fresh
    run's rows."""
    rows = payloadgen.gen_transcripts(N_CONVS)
    base = _parquet_input(spark, tmp_path / "base", rows[: len(rows) // 2])
    full = _parquet_input(spark, tmp_path / "full", rows)
    out = str(tmp_path / "out")
    first = run_extraction(spark, base, PipelineConfig(output_dir=out,
                                                       run_id="base"))
    resumed = run_extraction(spark, full, PipelineConfig(output_dir=out,
                                                         run_id="inc"))
    assert (first["salt_buckets"], resumed["salt_buckets"]) == (
        0, DEFAULT_SALT_BUCKETS)
    assert salt_calls == [DEFAULT_SALT_BUCKETS]
    assert resumed["rows_out"] == len(rows) - len(rows) // 2
    run_extraction(spark, full, PipelineConfig(
        output_dir=str(tmp_path / "salted"), run_id="r1", salt_buckets=8))
    assert _output_digest(spark, out) == _output_digest(
        spark, str(tmp_path / "salted"))


def test_input_the_driver_cannot_stat_takes_the_salted_plan(spark, tmp_path):
    """The plan fails safe: an input file deleted after the scan was
    built, or one on a file system the driver cannot stat, salts."""
    inp = _parquet_input(spark, tmp_path / "in",
                         payloadgen.gen_transcripts(N_CONVS))
    assert salt_buckets_for(inp, None, False) == 0
    os.remove(tmp_path / "in" / "part-0.parquet")
    assert salt_buckets_for(inp, None, False) == DEFAULT_SALT_BUCKETS
    with pytest.raises(ValueError, match="not a local file"):
        _local_path("hdfs://namenode:8020/in/part-0.parquet")


def test_parquet_input_under_a_path_with_a_space_stays_map_only(
        spark, tmp_path, salt_calls):
    """The scan lists ``%20`` for a space in the input path; the driver
    decodes it to stat the file, so the run stays map-only."""
    inp = _parquet_input(spark, tmp_path / "in put",
                         payloadgen.gen_transcripts(N_CONVS))
    assert all("in%20put" in f for f in inp.inputFiles())
    assert _local_path(inp.inputFiles()[0]) == str(
        tmp_path / "in put" / "part-0.parquet")
    stats = run_extraction(spark, inp, PipelineConfig(
        output_dir=str(tmp_path / "out"), run_id="r1"))
    assert stats["salt_buckets"] == 0 and salt_calls == []
    assert stats["rows_out"] == inp.count()


def test_explicit_salt_buckets_are_honoured(spark, tmp_path, salt_calls):
    """salt_buckets=N salts a run the rules would leave map-only, and
    salt_buckets=0 keeps map-only a resume run the rules would salt."""
    rows = payloadgen.gen_transcripts(N_CONVS)
    base = _parquet_input(spark, tmp_path / "base", rows[: len(rows) // 2])
    full = _parquet_input(spark, tmp_path / "full", rows)
    out = str(tmp_path / "out")
    forced = run_extraction(spark, base, PipelineConfig(
        output_dir=out, run_id="base", salt_buckets=4))
    unsalted = run_extraction(spark, full, PipelineConfig(
        output_dir=out, run_id="inc", salt_buckets=0))
    assert (forced["salt_buckets"], unsalted["salt_buckets"]) == (4, 0)
    assert salt_calls == [4]
    assert forced["rows_out"] + unsalted["rows_out"] == len(rows)


def test_blind_retry_runs_only_the_resume_check(spark, tmp_path):
    """A blind retry of a committed run is two Spark jobs, both of them
    the resume check's anti-join emptiness probe (the committed keys'
    types come from a part file's footer, so no job infers their
    schema); no extraction or write follows.  It still removes the dirs a
    crashed publish of the run left, and returns the committed totals in
    the shape a fresh run reports."""
    import os

    sc = spark.sparkContext
    group = "test-blind-retry-jobs"

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    tdf = transcripts.generate(spark, 500)
    cfg = PipelineConfig(output_dir=str(tmp_path), run_id="r1")
    first = run_extraction(spark, tdf, cfg)
    tables = [tmp_path / "extractions", tmp_path / "metrics"]
    for table in tables:
        for leftover in (".staging-run_id=r1", ".replaced-run_id=r1"):
            os.makedirs(table / leftover / "sub")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        stats = run_extraction(spark, tdf, cfg)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs() == 2
    assert [os.listdir(table) for table in tables] == [["data"], ["data"]]
    assert {k: stats[k] for k in TOTALS} == {k: first[k] for k in TOTALS}
    assert stats["observed"]["rows_in"] == 0
    assert stats["class_rows"] == dict.fromkeys(CLASSES, 0)
    assert set(stats["phase_s"]) == set(first["phase_s"])


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
        path = str(tmp_path / "extractions")
        out = (BucketedTable(spark, path, "bt_rerun", buckets=4).read()
               if bucketed else Table(spark, path).read())
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
