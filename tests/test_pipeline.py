"""End-to-end Spark pipeline: oracle parity, determinism under
repartitioning, resume exactly-once, skew, sidecar reconciliation
(FIXTURES.md §5 invariants 1, 2, 5, 6)."""

import pytest

from frogocr_spark.core.extract import extract_turn
from frogocr_spark.operators.extraction import extract_turns
from frogocr_spark.operators.resume import filter_unprocessed
from frogocr_spark.operators.skew import salted_repartition
from frogocr_spark.plans.pipeline import PipelineConfig, run_extraction
from frogocr_spark.sources import payloadgen, transcripts
from frogocr_spark.sources.catalog import Table

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
    out = Table(spark, str(tmp_path / "extractions")).read()
    got = _collect_map(out)
    assert len(got) == len(oracle)
    for k, rec in oracle.items():
        assert got[k].extracted_text == rec["extracted_text"]
    # sidecar reconciliation (invariant 6)
    side = Table(spark, str(tmp_path / "metrics")).read().collect()
    assert sum(r.rows_out for r in side) == len(oracle)
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
    assert stats3["rows_out"] == 0
    assert Table(spark, str(tmp_path / "extractions")).read().count() == len(oracle)


def test_skewed_conversation(spark, tmp_path):
    """Invariant: one conv with 2000 turns among 20 small ones still
    produces exact output under salting."""
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
    run_extraction(spark, df, cfg)
    t = Table(spark, os.path.join(str(tmp_path), "extractions"))
    n = t.read().count()
    assert n == df.count()
    stats = run_extraction(spark, df, cfg)   # blind retry, same run_id
    assert t.read().count() == n             # data survived
    assert (stats["observed"]["rows_out"] or 0) == 0   # nothing re-ran
    # staging dir cleaned up
    assert not [d for d in os.listdir(os.path.join(str(tmp_path),
                                                   "extractions"))
                if d.startswith(".staging")]
