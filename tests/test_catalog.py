"""Catalog snapshot semantics: log, scoped reads, crash-safe publish."""

import os

import pytest

from frogocr_spark.sources.catalog import Table


def test_snapshots_and_time_travel(spark, tmp_path):
    t = Table(spark, str(tmp_path / "tbl"))
    assert t.snapshots() == [] and t.processed_keys("id") is None
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    df3 = spark.createDataFrame([(3, "c")], "id long, v string")
    t.append(df1, "r1")
    t.append(df2, "r2")
    t.append(df3, "r3")
    assert t.snapshots() == ["r1", "r2", "r3"]
    assert t.read().count() == 3
    r2 = spark.read.parquet(os.path.join(t.data_dir, "run_id=r2"))
    assert [r.id for r in r2.collect()] == [2]
    # idempotent re-append of the same run_id replaces, never duplicates
    t.append(df2, "r2")
    assert t.read().count() == 3


def test_append_truncated_part_file_raises(spark, tmp_path, monkeypatch):
    """A staged part file with a broken footer is an error, never an
    empty result: a retry of a committed run_id must not silently keep
    the old data and drop the staged rows."""
    import os

    import pyarrow as pa
    from pyspark.sql.readwriter import DataFrameWriter

    t = Table(spark, str(tmp_path / "tbl"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t.append(df, "r1")

    write = DataFrameWriter.parquet

    def truncating_write(self, path, *args, **kwargs):
        write(self, path, *args, **kwargs)
        for f in os.listdir(path):
            if f.endswith(".parquet") and not f.startswith("."):
                p = os.path.join(path, f)
                os.truncate(p, os.path.getsize(p) // 2)

    monkeypatch.setattr(DataFrameWriter, "parquet", truncating_write)
    with pytest.raises(pa.ArrowException):
        t.append(df, "r1")
    monkeypatch.undo()
    assert t.read().count() == 2     # the committed run is untouched


def test_append_publish_crash_never_shows_part_of_a_run(spark, tmp_path,
                                                         monkeypatch):
    """A crash at any filesystem step of a replacing append leaves the
    run's rows all old, all new or absent (resume re-extracts an absent
    run) — never part of either — and the next append of that run_id
    publishes cleanly and leaves no staged or set-aside dir behind."""
    import os
    import shutil

    old = spark.createDataFrame([(i, "old") for i in range(8)],
                                "id long, v string").repartition(4)
    new = spark.createDataFrame([(i, "new") for i in range(8)],
                                "id long, v string").repartition(4)
    want_old = [(i, "old") for i in range(8)]
    want_new = [(i, "new") for i in range(8)]
    real_replace, real_rmtree = os.replace, shutil.rmtree

    def rows(t):
        if not t.snapshots():
            return []
        return sorted((r.id, r.v) for r in t.read().collect())

    def append_crashing_at(t, fail_at):
        """Append ``new`` as r1, raising at the ``fail_at``-th rename or
        rmtree under the table root; False if the append finished."""
        steps = 0

        def crash_here(path):
            nonlocal steps
            if not str(path).startswith(t.path):
                return False
            steps += 1
            return steps - 1 == fail_at

        def replace(src, dst):
            if crash_here(src):
                raise OSError("injected crash before rename")
            real_replace(src, dst)

        def rmtree(path, *args, **kwargs):
            if crash_here(path):
                # killed part-way through: one part file gone, rest left
                for root, _dirs, files in os.walk(path):
                    for f in files:
                        if f.endswith(".parquet"):
                            os.remove(os.path.join(root, f))
                            raise OSError("injected crash mid-rmtree")
                raise OSError("injected crash mid-rmtree")
            real_rmtree(path, *args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(os, "replace", replace)
            m.setattr(shutil, "rmtree", rmtree)
            try:
                t.append(new, "r1")
            except OSError:
                return True
        return False

    fail_at = 0
    while True:
        t = Table(spark, str(tmp_path / f"tbl{fail_at}"))
        t.append(old, "r1")
        assert rows(t) == want_old
        if not append_crashing_at(t, fail_at):
            break
        assert rows(t) in (want_old, want_new, []), fail_at
        t.append(new, "r1")
        assert rows(t) == want_new, fail_at
        assert os.listdir(t.path) == ["data"], fail_at
        fail_at += 1
    assert rows(t) == want_new
    assert fail_at >= 3      # both renames and the cleanup were each hit


def test_publish_deletes_a_failed_attempts_temp_file(spark, tmp_path):
    """A part file a task attempt left under its dot-prefixed temp name
    (it failed or was killed before its rename) is deleted by the
    publish: only renamed part files reach the committed run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = Table(spark, str(tmp_path / "tbl"))
    staging = t.stage_dir("r1")
    for name, ids in (("part-00000.parquet", [1, 2]),
                      (".part-00001-0123abcd.parquet", [3])):
        pq.write_table(pa.table({"id": ids}), os.path.join(staging, name))
    t.publish("r1")
    assert os.listdir(os.path.join(t.data_dir, "run_id=r1")) == [
        "part-00000.parquet"]
    assert t.committed_rows("r1") == 2
