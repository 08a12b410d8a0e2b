"""Bucketed-layout resume: storage-partitioned anti-join (NOTES_r1 §3).

The F1 output-exists skip (reference ``Source/TaskProcessor.cpp:191-209``)
at 10^12-row scale cannot broadcast the committed keys; the bucketed
layout must give a ZERO-Exchange plan and byte-identical semantics to the
plain anti-join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frogocr_spark.operators.resume import filter_unprocessed
from frogocr_spark.sources.catalog import BucketedTable


@pytest.fixture(scope="module")
def bucketed_pair(spark):
    # default warehouse dir (spark.sql.warehouse.dir is a static conf);
    # DROP TABLE on these managed tables removes their files afterwards
    inp = spark.range(0, 20000).select(
        F.concat(F.lit("c"), (F.col("id") % 401).cast("string")).alias("conv_id"),
        (F.col("id") % 37).cast("int").alias("turn_idx"),
        F.concat(F.lit("payload "), F.col("id").cast("string")).alias("text"),
    )
    done = inp.filter(F.crc32(F.concat_ws("#", "conv_id", "turn_idx")) % 2 == 0)

    t_in = BucketedTable(spark, "bt_transcripts", buckets=8)
    t_done = BucketedTable(spark, "bt_done", buckets=8)
    t_in.append(inp, run_id="r0")
    t_done.append(done.select("conv_id", "turn_idx"), run_id="r0")
    yield inp, done, t_in, t_done
    spark.sql("DROP TABLE IF EXISTS bt_transcripts")
    spark.sql("DROP TABLE IF EXISTS bt_done")


def _executed_plan(df) -> str:
    df.collect()  # materialize so AQE finalizes the plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_anti_join_has_zero_exchanges(spark, bucketed_pair):
    _inp, _done, t_in, t_done = bucketed_pair
    out = filter_unprocessed(
        t_in.read().drop("run_id"), t_done.processed_keys("conv_id", "turn_idx"))
    plan = _executed_plan(out)
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan


def test_bucketed_anti_join_matches_plain(spark, bucketed_pair):
    inp, done, t_in, t_done = bucketed_pair
    expected = sorted(
        filter_unprocessed(inp, done.select("conv_id", "turn_idx"))
        .select("conv_id", "turn_idx").collect())
    got = sorted(
        filter_unprocessed(
            t_in.read(), t_done.processed_keys("conv_id", "turn_idx"))
        .select("conv_id", "turn_idx").collect())
    assert got == expected
    assert len(got) > 0  # the split is non-degenerate


def test_bucketed_append_is_run_id_idempotent(spark, bucketed_pair):
    _inp, done, _t_in, t_done = bucketed_pair
    n_before = t_done.read().count()
    # re-running the same run_id (failed-job retry) must not duplicate
    t_done.append(done.select("conv_id", "turn_idx"), run_id="r0")
    assert t_done.read().count() == n_before
    # a NEW run_id appends
    extra = spark.createDataFrame([("zz", 0)], "conv_id string, turn_idx int")
    t_done.append(extra, run_id="r1")
    assert t_done.read().count() == n_before + 1
    # and retrying r1 still doesn't duplicate, nor touch r0
    t_done.append(extra, run_id="r1")
    assert t_done.read().count() == n_before + 1


def test_pipeline_bucketed_mode_resume(spark, tmp_path):
    """Full pipeline with bucketed output: second run over a superset
    input extracts ONLY the new rows; totals reconcile."""
    from frogocr_spark.plans.pipeline import PipelineConfig, run_extraction
    from frogocr_spark.sources import transcripts as tgen

    cfg = PipelineConfig(output_dir=str(tmp_path), run_id="b0",
                         salt_buckets=0, bucketed_table="bt_pipe", buckets=8)
    try:
        first = tgen.generate(spark, 30)
        stats1 = run_extraction(spark, first, cfg)
        assert stats1["rows_in"] == first.count()

        both = tgen.generate(spark, 45)  # superset: convs 0..44
        cfg2 = PipelineConfig(output_dir=str(tmp_path), run_id="b1",
                              salt_buckets=0, bucketed_table="bt_pipe",
                              buckets=8)
        stats2 = run_extraction(spark, both, cfg2)
        # only the 15 new conversations' turns were processed
        assert stats2["rows_in"] == both.count() - first.count()

        from frogocr_spark.sources.catalog import BucketedTable
        total = BucketedTable(spark, "bt_pipe").read().count()
        assert total == both.count()
        # blind retry of the COMPLETED run b1: nothing is re-extracted
        # (observed counters ran with the write = 0 rows), the committed
        # partition survives (dynamic overwrite with no output partitions
        # is a no-op), and the sidecar re-reports its intact state
        stats3 = run_extraction(spark, both, cfg2)
        assert (stats3["observed"]["rows_out"] or 0) == 0
        assert stats3["rows_in"] == both.count() - first.count()
        assert BucketedTable(spark, "bt_pipe").read().count() == both.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_pipe")
