"""Catalog snapshot semantics: log, scoped reads, time travel."""

import pytest

from frogocr_spark.sources.catalog import Table


def test_snapshots_and_time_travel(spark, tmp_path):
    t = Table(spark, str(tmp_path / "tbl"))
    assert t.snapshots() == [] and not t.exists()
    df1 = spark.createDataFrame([(1, "a")], "id long, v string")
    df2 = spark.createDataFrame([(2, "b")], "id long, v string")
    df3 = spark.createDataFrame([(3, "c")], "id long, v string")
    t.append(df1, "r1")
    t.append(df2, "r2")
    t.append(df3, "r3")
    assert t.snapshots() == ["r1", "r2", "r3"]
    assert t.read().count() == 3
    assert [r.id for r in t.read_snapshot("r2").collect()] == [2]
    assert sorted(r.id for r in t.read_until("r2").collect()) == [1, 2]
    with pytest.raises(ValueError):
        t.read_until("nope")
    # idempotent re-append of the same run_id replaces, never duplicates
    t.append(df2, "r2")
    assert t.read().count() == 3


def _file_count(root):
    import os
    n = 0
    for _r, _d, files in os.walk(root):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def test_compact_merges_snapshots_and_preserves_data(spark, tmp_path):
    t = Table(spark, str(tmp_path / "tbl"))
    for i in range(5):
        t.append(spark.createDataFrame(
            [(i * 10 + j, f"v{i}") for j in range(4)],
            "id long, v string").repartition(4), f"r{i}")
    before = sorted((r.id, r.v) for r in t.read().collect())
    assert _file_count(t.data_dir) >= 10
    cid = t.compact(num_files=2)
    assert cid is not None
    assert t.snapshots() == [cid]
    assert sorted((r.id, r.v) for r in t.read().collect()) == before
    assert _file_count(t.data_dir) <= 2
    # resume key set unchanged
    assert t.processed_keys("id").count() == 20
    # nothing further to compact
    assert t.compact() is None


def test_compact_crash_window_never_shows_duplicates(spark, tmp_path):
    """Simulate a crash between publish (phase 2) and source deletion
    (phase 3): the superseded dirs are still on disk but the manifest
    excludes them — read/snapshots stay exact; vacuum cleans up."""
    import os
    import shutil

    t = Table(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"), "r1")
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"), "r2")
    # preserve the sources, compact, then restore them = crashed phase 3
    backup = str(tmp_path / "backup")
    shutil.copytree(t.data_dir, backup)
    cid = t.compact()
    for n in ("run_id=r1", "run_id=r2"):
        shutil.copytree(os.path.join(backup, n),
                        os.path.join(t.data_dir, n))
    assert sorted(os.listdir(t.data_dir)) == sorted(
        [f"run_id={cid}", "run_id=r1", "run_id=r2"])
    assert t.snapshots() == [cid]                      # manifest wins
    assert sorted(r.id for r in t.read().collect()) == [1, 2]   # no dupes
    removed = t.vacuum()
    assert sorted(removed) == ["run_id=r1", "run_id=r2"]
    assert sorted(r.id for r in t.read().collect()) == [1, 2]


def test_compact_then_append_then_recompact(spark, tmp_path):
    t = Table(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"), "r1")
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"), "r2")
    c1 = t.compact()
    t.append(spark.createDataFrame([(3, "c")], "id long, v string"), "r9")
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    c2 = t.compact()
    assert t.snapshots() == [c2]
    assert sorted(r.id for r in t.read().collect()) == [1, 2, 3]
    assert c1 != c2


def test_vacuum_reclaims_abandoned_compact_staging(spark, tmp_path):
    """A crash during compaction phase 1 leaves .staging-compact; the
    fixed name means the next vacuum (or compact) reclaims it instead
    of leaking a full-table copy per crashed attempt."""
    import os

    t = Table(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"), "r1")
    staging = os.path.join(t.path, ".staging-compact")
    os.makedirs(staging)
    with open(os.path.join(staging, "junk.parquet"), "w") as fh:
        fh.write("x")
    removed = t.vacuum()
    assert ".staging-compact" in removed
    assert not os.path.isdir(staging)
    assert t.read().count() == 1


def test_schema_evolution_add_column(spark, tmp_path):
    # name-based add-only evolution (Hive/parquet model): a column added
    # in a later snapshot reads as NULL from earlier ones under
    # merge_schema; snapshot-scoped reads keep each run's own schema
    t = Table(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"), "r1")
    t.append(spark.createDataFrame([(2, "b", 7)],
                                   "id long, v string, score long"), "r2")
    got = {r.id: r for r in
           t.read(merge_schema=True).orderBy("id").collect()}
    assert set(t.read(merge_schema=True).columns) == {"id", "v", "score"}
    assert got[1].score is None and got[2].score == 7
    # time travel to the pre-evolution snapshot: old schema only
    assert set(t.read_snapshot("r1").columns) == {"id", "v"}


def test_compact_preserves_evolved_columns(spark, tmp_path):
    # a compaction that inferred one arbitrary footer's schema would
    # silently DROP the evolved column — compact must merge schemas
    t = Table(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"), "r1")
    t.append(spark.createDataFrame([(2, "b", 7)],
                                   "id long, v string, score long"), "r2")
    cid = t.compact()
    assert cid is not None
    out = t.read().orderBy("id").collect()  # one homogeneous snapshot now
    assert set(t.read().columns) == {"id", "v", "score"}
    assert [r.id for r in out] == [1, 2]
    assert out[0].score is None and out[1].score == 7


def test_delete_keeps_null_predicate_rows(spark, tmp_path):
    # SQL DELETE three-valued logic (ADVICE r3): rows where the
    # predicate evaluates NULL must be KEPT, not deleted — on an
    # evolved table every pre-evolution row has NULL in the new column,
    # so `delete("score = 7")` must remove ONLY the score=7 row
    t = Table(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"), "r1")
    t.append(spark.createDataFrame([(2, "b", 7), (3, "c", 8)],
                                   "id long, v string, score long"), "r2")
    t.delete("score = 7")
    got = sorted((r.id, r.score)
                 for r in t.read(merge_schema=True).collect())
    assert got == [(1, None), (3, 8)]


def test_delete_and_merge_on_evolved_table(spark, tmp_path):
    t = Table(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"), "r1")
    t.append(spark.createDataFrame([(2, "b", 7)],
                                   "id long, v string, score long"), "r2")
    t.delete("id = 1")
    got = t.read(merge_schema=True).collect()
    assert [(r.id, r.score) for r in got] == [(2, 7)]
    # upsert against the evolved table keeps the unioned schema
    t.merge(spark.createDataFrame([(2, "b2", 9)],
                                  "id long, v string, score long"),
            ["id"], merge_id="m1")
    got = t.read(merge_schema=True).collect()
    assert [(r.id, r.v, r.score) for r in got] == [(2, "b2", 9)]


def test_merge_null_key_three_valued_logic(spark, tmp_path):
    """VERDICT r4 #4: MERGE's match condition is null-UNSAFE equality
    (SQL MERGE ... ON t.k = s.k — NULL = NULL is NULL, never TRUE).
    On a schema-evolved key column, pre-evolution rows hold NULL and
    must never be 'matched': a NULL-keyed source row INSERTS alongside
    them instead of replacing."""
    t = Table(spark, str(tmp_path / "tbl"))
    # r1 predates the `k` column → its row has k = NULL after evolution
    t.append(spark.createDataFrame([(1, "old")], "id long, v string"),
             "r1")
    t.append(spark.createDataFrame([(2, "b", 10)],
                                   "id long, v string, k long"), "r2")
    # merge on the EVOLVED key: source has one k=10 row (true match)
    # and one NULL-keyed row (matches nothing, inserts)
    src = spark.createDataFrame([(20, "b2", 10), (99, "nullk", None)],
                                "id long, v string, k long")
    t.merge(src, ["k"], merge_id="m1")
    got = sorted(((r.id, r.v, r.k) for r in
                  t.read(merge_schema=True).collect()),
                 key=lambda x: (x[0] or 0))
    # NULL-keyed target row KEPT unchanged, k=10 row REPLACED,
    # NULL-keyed source row INSERTED (both NULL rows coexist)
    assert got == [(1, "old", None), (20, "b2", 10), (99, "nullk", None)]


def test_where_select_vs_delete_null_asymmetry(spark, tmp_path):
    """The documented asymmetry on evolved tables: SELECT ... WHERE p
    drops NULL-predicate rows (standard WHERE), DELETE WHERE p keeps
    them — so read().where(p) and delete(p)'s survivors do NOT
    partition the table; the NULL rows appear in neither/both
    respectively."""
    t = Table(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"),
             "r1")
    t.append(spark.createDataFrame([(2, "b", 7), (3, "c", 8)],
                                   "id long, v string, score long"),
             "r2")
    full = t.read(merge_schema=True)
    # WHERE: the NULL-score row is in NEITHER side of p / NOT p
    sel = {r.id for r in full.where("score > 7").collect()}
    inv = {r.id for r in full.where("NOT (score > 7)").collect()}
    assert sel == {3} and inv == {2} and 1 not in (sel | inv)
    # DELETE: the NULL-score row SURVIVES the same predicate
    t.delete("score > 7")
    assert sorted(r.id for r in
                  t.read(merge_schema=True).collect()) == [1, 2]


def test_merge_null_safe_surrogate_pattern(spark, tmp_path):
    """The documented escape hatch when NULL is a real key value:
    merge on a coalesce surrogate column updates the NULL-keyed row
    instead of duplicating it."""
    from pyspark.sql import functions as F
    t = Table(spark, str(tmp_path / "tbl"))
    t.append(spark.createDataFrame([(1, "x", None), (2, "y", 5)],
                                   "id long, v string, k long"), "r1")
    src = spark.createDataFrame([(10, "x2", None)],
                                "id long, v string, k long")
    surro = lambda df: df.withColumn("_k", F.coalesce("k", F.lit(-1)))
    merged = None
    from frogocr_spark.operators.tables import upsert
    merged = (upsert(surro(t.read(merge_schema=True)), surro(src),
                     ["_k"]).drop("_k"))
    got = sorted((r.id, r.v, r.k) for r in merged.collect())
    # the NULL-keyed row was REPLACED (id 1 gone, id 10 in), k=5 kept
    assert got == [(2, "y", 5), (10, "x2", None)]


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


def test_vacuum_reclaims_crashed_append_debris(spark, tmp_path,
                                               monkeypatch):
    """A crash in an append's final cleanup leaves
    ``.replaced-run_id=<id>`` (a copy of the old run) and a crash before
    its first rename leaves ``.staging-run_id=<id>``; vacuum reclaims
    both without waiting for a rerun of those run_ids, and every run
    still reads whole."""
    import os
    import shutil

    t = Table(spark, str(tmp_path / "tbl"))

    def frame(tag):
        return spark.createDataFrame([(i, tag) for i in range(6)],
                                     "id long, v string").repartition(3)

    t.append(frame("old1"), "r1")
    t.append(frame("old2"), "r2")
    real_replace, real_rmtree = os.replace, shutil.rmtree

    def rmtree(path, *args, **kwargs):
        if (os.path.basename(str(path)) == ".replaced-run_id=r1"
                and os.path.isdir(path)):
            # killed part-way through: one part file gone, rest left
            os.remove(next(os.path.join(path, f) for f in os.listdir(path)
                           if f.endswith(".parquet")))
            raise OSError("injected crash mid-rmtree")
        real_rmtree(path, *args, **kwargs)

    def replace(src, dst):
        if str(src) == os.path.join(t.data_dir, "run_id=r2"):
            raise OSError("injected crash before rename")
        real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(shutil, "rmtree", rmtree)
        m.setattr(os, "replace", replace)
        for tag, run_id in (("new1", "r1"), ("new2", "r2")):
            with pytest.raises(OSError):
                t.append(frame(tag), run_id)
    assert sorted(os.listdir(t.path)) == [
        ".replaced-run_id=r1", ".staging-run_id=r2", "data"]

    assert t.vacuum() == [".replaced-run_id=r1", ".staging-run_id=r2"]
    assert os.listdir(t.path) == ["data"]
    assert t.snapshots() == ["r1", "r2"]
    assert sorted((r.id, r.v) for r in t.read().collect()) == sorted(
        [(i, "new1") for i in range(6)] + [(i, "old2") for i in range(6)])
