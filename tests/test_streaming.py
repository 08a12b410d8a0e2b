"""Streaming drain mode == batch extraction output; checkpoint resume."""

import os

from frogocr_spark.operators.extraction import extract_turns
from frogocr_spark.plans.metrics import sidecar_totals
from frogocr_spark.plans.pipeline import commit_run
from frogocr_spark.sources import transcripts
from frogocr_spark.sources.catalog import Table
from frogocr_spark.streaming import stream


def test_drain_matches_batch(spark, tmp_path):
    tdf = transcripts.generate(spark, 15)
    input_dir = str(tmp_path / "in")
    tdf.write.parquet(input_dir)

    out_dir = str(tmp_path / "out")
    stream.run_drain(spark, input_dir, out_dir)

    streamed = {(r.conv_id, r.turn_idx): r.extracted_text
                for r in Table(spark, os.path.join(out_dir, "extractions"))
                .read().collect()}
    batch = {(r.conv_id, r.turn_idx): r.extracted_text
             for r in extract_turns(spark.read.parquet(input_dir)).collect()}
    assert streamed == batch


def test_checkpoint_no_reprocessing(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    transcripts.generate(spark, 10).write.parquet(input_dir)
    stream.run_drain(spark, input_dir, out_dir)
    table = Table(spark, os.path.join(out_dir, "extractions"))
    n1 = table.read().count()

    # drain again with the SAME checkpoint: nothing new to process
    stream.run_drain(spark, input_dir, out_dir)
    assert table.read().count() == n1

    # add more input files → only the delta is processed
    transcripts.generate(spark, 14).where("conv_id >= 'conv_00000010'") \
        .write.mode("append").parquet(input_dir)
    stream.run_drain(spark, input_dir, out_dir)
    n2 = table.read().count()
    assert n2 > n1
    keys = table.read().select("conv_id", "turn_idx")
    assert keys.count() == keys.distinct().count()  # exactly-once


def test_drain_writes_one_sidecar_per_epoch(spark, tmp_path):
    """Every non-empty epoch is committed with its own sidecar run,
    whose totals add up to the input; committing the same epoch again
    replaces its output and sidecar instead of adding to them, and
    leaves the totals as they were."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    tdf = transcripts.generate(spark, 12)
    tdf.repartition(3).write.parquet(input_dir)
    n = tdf.count()
    q = stream.start_stream(spark, input_dir, out_dir,
                            max_files_per_trigger=1)
    q.awaitTermination()
    epochs = [f"epoch_{p['batchId']}" for p in q.recentProgress
              if p["numInputRows"] > 0]
    assert len(epochs) == 3

    side = Table(spark, os.path.join(out_dir, "metrics"))
    assert side.snapshots() == sorted(epochs)

    assert sum(sidecar_totals(side, e)["rows_out"] for e in epochs) == n
    assert sum(sidecar_totals(side, e)["rows_in"] for e in epochs) == n

    # replay the first epoch's input under its own epoch id, twice
    out = Table(spark, os.path.join(out_dir, "extractions"))
    first = sidecar_totals(side, epochs[0])
    # the keys are collected first: the replay overwrites the files
    # they come from
    epoch_keys = spark.createDataFrame(
        spark.read.parquet(os.path.join(out.data_dir, f"run_id={epochs[0]}"))
        .select("conv_id", "turn_idx").collect())
    replay = spark.read.parquet(input_dir).join(
        epoch_keys, ["conv_id", "turn_idx"], "left_semi")
    for _ in range(2):
        stats = commit_run(replay, extract_turns, epochs[0], out, side)
        assert stats["observed"]["rows_in"] == first["rows_out"]
    assert side.snapshots() == sorted(epochs)
    assert sidecar_totals(side, epochs[0]) == first
    # each epoch's sidecar comes from its tasks' own counts
    assert all(r.python_cpu_s > 0 for r in side.read().collect())
    keys = out.read().select("conv_id", "turn_idx")
    assert keys.count() == keys.distinct().count() == n
