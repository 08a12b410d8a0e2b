"""Bucketed-layout resume: storage-partitioned anti-join (NOTES_r1 §3).

The F1 output-exists skip (reference ``Source/TaskProcessor.cpp:191-209``)
at 10^12-row scale cannot broadcast the committed keys; the bucketed
layout must give a ZERO-Exchange plan and byte-identical semantics to the
plain anti-join.  The committed-key side is the pipeline's own output,
written by the extraction tasks in buckets; the input side is laid out
by Spark's ``bucketBy`` write, as an upstream producer would lay it out.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from frogocr_spark.operators.resume import filter_unprocessed
from frogocr_spark.plans.pipeline import PipelineConfig, run_extraction
from frogocr_spark.sources import transcripts as tgen
from frogocr_spark.sources.catalog import BucketedTable


def _bucketed_cfg(root, run_id, name, **kw):
    return PipelineConfig(output_dir=str(root), run_id=run_id,
                          bucketed_table=name, buckets=8, **kw)


@pytest.fixture(scope="module")
def bucketed_pair(spark, tmp_path_factory):
    inp = spark.range(0, 20000).select(
        F.concat(F.lit("c"), (F.col("id") % 401).cast("string")).alias("conv_id"),
        (F.col("id") % 37).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("payload "), F.col("id").cast("string")).alias("text"),
    )
    done = inp.filter(F.crc32(F.concat_ws("#", "conv_id", "turn_idx")) % 2 == 0)

    # default warehouse dir (spark.sql.warehouse.dir is a static conf);
    # DROP TABLE on this managed table removes its files afterwards
    inp.write.bucketBy(8, "conv_id").mode("overwrite") \
        .saveAsTable("bt_transcripts")
    root = tmp_path_factory.mktemp("bt_done")
    run_extraction(spark, done, _bucketed_cfg(root, "r0", "bt_done"))
    t_done = BucketedTable(spark, str(root / "extractions"), "bt_done",
                           buckets=8)
    yield inp, done, spark.table("bt_transcripts"), t_done, root
    spark.sql("DROP TABLE IF EXISTS bt_transcripts")
    spark.sql("DROP TABLE IF EXISTS bt_done")


def _executed_plan(df) -> str:
    df.collect()  # materialize so AQE finalizes the plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_anti_join_has_zero_exchanges(spark, bucketed_pair):
    _inp, _done, t_in, t_done, _root = bucketed_pair
    out = filter_unprocessed(t_in, t_done.processed_keys("conv_id",
                                                         "turn_idx"))
    plan = _executed_plan(out)
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan


def test_bucketed_anti_join_matches_plain(spark, bucketed_pair):
    inp, done, t_in, t_done, _root = bucketed_pair
    expected = sorted(
        filter_unprocessed(inp, done.select("conv_id", "turn_idx"))
        .select("conv_id", "turn_idx").collect())
    got = sorted(
        filter_unprocessed(
            t_in, t_done.processed_keys("conv_id", "turn_idx"))
        .select("conv_id", "turn_idx").collect())
    assert got == expected
    assert len(got) > 0  # the split is non-degenerate


def test_bucketed_rerun_is_run_id_idempotent(spark, bucketed_pair):
    _inp, done, _t_in, t_done, root = bucketed_pair
    n_before = t_done.read().count()
    # re-running the same run_id (failed-job retry) must not duplicate
    run_extraction(spark, done, _bucketed_cfg(root, "r0", "bt_done",
                                              resume=False))
    assert t_done.read().count() == n_before
    # a NEW run_id appends
    extra = spark.createDataFrame([("zz", 0, "user", "payload zz")],
                                  "conv_id string, turn_idx int, "
                                  "role string, text string")
    run_extraction(spark, extra, _bucketed_cfg(root, "r1", "bt_done"))
    assert t_done.read().count() == n_before + 1
    # and retrying r1 still doesn't duplicate, nor touch r0
    run_extraction(spark, extra, _bucketed_cfg(root, "r1", "bt_done",
                                               resume=False))
    assert t_done.read().count() == n_before + 1
    assert t_done.read().where("run_id = 'r0'").count() == n_before


def test_pipeline_bucketed_mode_resume(spark, tmp_path):
    """Full pipeline with bucketed output: second run over a superset
    input extracts ONLY the new rows; totals reconcile."""
    cfg = _bucketed_cfg(tmp_path, "b0", "bt_pipe", salt_buckets=0)
    out = BucketedTable(spark, str(tmp_path / "extractions"), "bt_pipe",
                        buckets=8)
    try:
        first = tgen.generate(spark, 30)
        stats1 = run_extraction(spark, first, cfg)
        assert stats1["rows_in"] == first.count()

        both = tgen.generate(spark, 45)  # superset: convs 0..44
        cfg2 = _bucketed_cfg(tmp_path, "b1", "bt_pipe", salt_buckets=0)
        stats2 = run_extraction(spark, both, cfg2)
        # only the 15 new conversations' turns were processed
        assert stats2["rows_in"] == both.count() - first.count()

        assert out.read().count() == both.count()
        # blind retry of the COMPLETED run b1: nothing is re-extracted
        # (the run stops after the resume check, observing 0 rows), the
        # committed partition survives, and the sidecar re-reports its
        # intact state
        stats3 = run_extraction(spark, both, cfg2)
        assert (stats3["observed"]["rows_out"] or 0) == 0
        assert stats3["rows_in"] == both.count() - first.count()
        assert out.read().count() == both.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_pipe")


def test_bucketed_resume_in_a_session_that_lost_the_entry(spark, tmp_path):
    """A session whose catalog does not know the table (here: its entry
    dropped; the table is external, so its files stay) registers it again
    from the committed files on first use: a resume over a superset input
    extracts only the new turns, the totals reconcile, and the anti-join
    still reads the committed keys as a bucketed table."""
    bucketed_in = "bt_lost_in"
    try:
        first = tgen.generate(spark, 30)
        run_extraction(spark, first, _bucketed_cfg(tmp_path, "b0", "bt_lost"))
        spark.sql("DROP TABLE bt_lost")
        assert not spark.catalog.tableExists("bt_lost")
        assert os.listdir(tmp_path / "extractions" / "data") == ["run_id=b0"]

        tgen.generate(spark, 45).write.bucketBy(8, "conv_id") \
            .mode("overwrite").saveAsTable(bucketed_in)
        both = spark.table(bucketed_in)
        stats = run_extraction(spark, both,
                               _bucketed_cfg(tmp_path, "b1", "bt_lost"))
        n_new = both.count() - first.count()
        assert stats["observed"]["rows_in"] == stats["rows_out"] == n_new
        out = BucketedTable(spark, str(tmp_path / "extractions"), "bt_lost",
                            buckets=8)
        assert out.snapshots() == ["b0", "b1"]
        assert out.committed_rows("b1") == n_new
        assert sorted(out.read().select("conv_id", "turn_idx").collect()) \
            == sorted(both.select("conv_id", "turn_idx").collect())
        plan = _executed_plan(filter_unprocessed(
            both, out.processed_keys("conv_id", "turn_idx")))
        assert "Exchange" not in plan, plan
        assert any("default.bt_lost[" in line and "Bucketed: true" in line
                   for line in plan.splitlines()), plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {bucketed_in}")
        spark.sql("DROP TABLE IF EXISTS bt_lost")


def test_bucketed_output_under_a_path_sql_must_quote(spark, tmp_path):
    """The catalog entry's DDL carries the output path, the table name
    and the run_id: a space, a ``'`` and a ``\\`` in the path and the
    run_id, and a name that parses only quoted, reach the table intact."""
    root = tmp_path / "out dir's \\ here"
    name = "1234"
    try:
        first = tgen.generate(spark, 10)
        run_extraction(spark, first, _bucketed_cfg(root, "b'0", name))
        both = tgen.generate(spark, 15)
        stats = run_extraction(spark, both, _bucketed_cfg(root, "b'1", name))
        assert stats["rows_out"] == both.count() - first.count()
        out = BucketedTable(spark, str(root / "extractions"), name,
                            buckets=8)
        assert out.snapshots() == ["b'0", "b'1"]
        assert out.read().count() == both.count()
        assert out.read().where(F.col("run_id") == "b'1").count() \
            == stats["rows_out"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_bucket_count_is_checked_before_the_run(spark, tmp_path):
    with pytest.raises(ValueError, match="buckets must be in 1"):
        BucketedTable(spark, str(tmp_path), "bt_zero", buckets=0)
    with pytest.raises(ValueError, match="buckets must be in 1"):
        run_extraction(spark, tgen.generate(spark, 2),
                       PipelineConfig(output_dir=str(tmp_path),
                                      bucketed_table="bt_zero", buckets=0))
    assert not os.path.exists(tmp_path / "extractions")

    # a run hashing with another count than the committed runs would
    # file a key under a bucket the anti-join never reads for it, and
    # commit its turns twice: refused with the catalog entry and without
    name = "bt_count"
    try:
        run_extraction(spark, tgen.generate(spark, 10),
                       _bucketed_cfg(tmp_path, "b0", name))
        out = BucketedTable(spark, str(tmp_path / "extractions"), name,
                            buckets=8)
        committed = sorted(out.read().collect())
        for drop_entry in (False, True):
            if drop_entry:
                spark.sql(f"DROP TABLE {name}")
            with pytest.raises(ValueError, match="written with 8 buckets"):
                run_extraction(spark, tgen.generate(spark, 15),
                               PipelineConfig(output_dir=str(tmp_path),
                                              run_id="b1",
                                              bucketed_table=name,
                                              buckets=4))
            assert out.snapshots() == ["b0"]
            assert sorted(out.read().collect()) == committed
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
