"""Table IO: Iceberg when available, parquet + manifest otherwise.

The sandbox image has no Iceberg runtime jar, so the default backend is a
parquet directory with identical *semantics* behind one interface
(SURVEY §7 hard part 4):

- ``append(df, run_id)``  — idempotent append: rows land under
  ``data/run_id=<id>/`` so a re-run of the same run_id overwrites its own
  files instead of duplicating them (the Iceberg
  snapshot-per-commit analog; FrogOCR's at-most-once fetch-then-delete —
  reference ``Source/Application.cpp:62-64,518-521`` — becomes
  exactly-once: checkpointed keys + idempotent writes, SURVEY §2.8 T6).
  ``stage(df, run_id)`` then ``publish(run_id)`` are its two halves, for
  a caller that commits something else between them.
- ``read()``              — full table scan.
- ``snapshots()`` / ``read_snapshot(run_id)`` — committed run_ids / one
  run's rows; ``committed_rows(run_id)`` — its row count from the
  parquet footers (no Spark job).
- ``processed_keys()``    — the committed key set used by the resume
  anti-join (output-exists skip F1 — reference
  ``Source/TaskProcessor.cpp:191-209``).

At 100 TB the backend would be a real Iceberg catalog; every call site
only touches these classes, so the swap is one module.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def footer_rows(run_dir: str) -> int:
    """Rows in the parquet files under ``run_dir`` (0 when it is absent),
    summed from their footers: no data is read and no Spark job runs."""
    return sum(pq.read_metadata(os.path.join(root, f)).num_rows
               for root, _dirs, files in os.walk(run_dir) for f in files
               if f.endswith(".parquet") and not f.startswith((".", "_")))


class Table:
    """One logical table rooted at ``path`` (parquet backend)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.data_dir = os.path.join(path, "data")

    def exists(self) -> bool:
        if not os.path.isdir(self.data_dir):
            return False
        for _root, _dirs, files in os.walk(self.data_dir):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def append(self, df: DataFrame | pa.Table, run_id: str) -> None:
        """Idempotent append: one directory per run_id; re-running a failed
        run_id replaces only that run's files.  ``df`` is a Spark
        DataFrame, or a ``pa.Table`` written by pyarrow as one part file
        (a few driver-built rows need no Spark job).  Replace, not add: the
        rows staged under a run_id become the whole run (a stream's
        replayed epoch relies on this), so ``plans.pipeline.
        run_extraction`` refuses a resumed rerun of a committed run_id
        that finds new rows.  :meth:`stage` then :meth:`publish`; a caller
        that must act between the write and the publish calls the two
        itself."""
        self.stage(df, run_id)
        self.publish(run_id)

    def _staging(self, run_id: str) -> str:
        # staged and set-aside dirs live OUTSIDE data_dir: read() is a
        # recursive lookup and must never see half-written/deleted files
        return os.path.join(self.path, f".staging-run_id={run_id}")

    def stage(self, df: DataFrame | pa.Table, run_id: str) -> None:
        """Write ``df`` as run ``run_id``'s next version into a staging
        dir that no reader sees (any earlier staged write is dropped)."""
        import shutil

        staging = self._staging(run_id)
        shutil.rmtree(staging, ignore_errors=True)
        if isinstance(df, pa.Table):
            os.makedirs(staging)
            pq.write_table(df, os.path.join(staging, "part-00000.parquet"))
        else:
            df.write.mode("overwrite").parquet(staging)

    def publish(self, run_id: str) -> None:
        """Make the staged write of run ``run_id`` the committed run.

        The committed run dir is renamed aside, the staging dir renamed
        into its place, then the set-aside dir deleted (or by the next
        publish of the run_id, after a crash).  Readers see the old run,
        the new run or no run (resume re-extracts it), never part of one.
        The publish is skipped when the staged result is empty and a
        committed run dir already exists.  That case is a blind retry of
        an already-COMPLETED run (the resume anti-join filtered everything
        out); clobbering the committed output with the empty result would
        lose the run's data (found by a retry probe — the pre-staging
        implementation did exactly that).  An empty result with no prior
        dir still publishes (a legitimately-empty run is recorded)."""
        import shutil

        out = os.path.join(self.data_dir, f"run_id={run_id}")
        staging = self._staging(run_id)
        replaced = os.path.join(self.path, f".replaced-run_id={run_id}")
        shutil.rmtree(replaced, ignore_errors=True)
        # footer row counts, no Spark job: an empty DataFrame writes one
        # schema-only part file, and a corrupt footer raises here instead
        # of passing for empty (which would discard real new rows)
        if footer_rows(staging) or not os.path.isdir(out):
            os.makedirs(self.data_dir, exist_ok=True)
            if os.path.isdir(out):
                os.replace(out, replaced)
            os.replace(staging, out)
            shutil.rmtree(replaced, ignore_errors=True)
        else:
            shutil.rmtree(staging, ignore_errors=True)

    def committed_rows(self, run_id: str) -> int:
        """Rows in committed run ``run_id`` (0 if absent), from its parquet
        footers: no Spark job."""
        return footer_rows(os.path.join(self.data_dir, f"run_id={run_id}"))

    def _run_dirs(self) -> list[str]:
        """Live run-dir names, superseded-by-compaction dirs excluded.

        A compacted snapshot carries a ``_COMPACTED_FROM`` manifest (the
        run dirs it rewrote — the scaled-down Iceberg metadata pointer);
        any dir named there is DEAD even while still on disk, so the
        crash window between publishing the compacted snapshot and
        deleting its sources never shows duplicate rows (readers honor
        the manifest, :meth:`vacuum` finishes the cleanup)."""
        if not os.path.isdir(self.data_dir):
            return []
        dirs = [n for n in sorted(os.listdir(self.data_dir))
                if n.startswith("run_id=")]
        dead: set[str] = set()
        for n in dirs:
            m = os.path.join(self.data_dir, n, "_COMPACTED_FROM")
            if os.path.exists(m):
                with open(m) as fh:
                    dead.update(fh.read().split())
        return [n for n in dirs if n not in dead]

    def read(self, merge_schema: bool = False) -> DataFrame:
        """Read the live table.  ``merge_schema=True`` reconciles
        snapshots written under EVOLVED schemas (name-based, add-only —
        the Hive/parquet evolution model: a column added in a later
        snapshot reads as NULL from earlier ones; renames/drops are NOT
        supported, they need Iceberg's field ids, see BucketedTable's
        design note).  Off by default: schema merging reads every
        file footer up front, a real cost on a 100 TB table — callers
        that know the schema is homogeneous skip it."""
        # explicit live-dir paths keep the run_id partition column out of
        # the schema AND exclude compaction-superseded dirs
        paths = [os.path.join(self.data_dir, n) for n in self._run_dirs()]
        return (self.spark.read
                .option("recursiveFileLookup", "true")
                .option("mergeSchema", "true" if merge_schema else "false")
                .parquet(*paths))

    def snapshots(self) -> list[str]:
        """Committed run_ids (the Iceberg snapshot-log analog), sorted.
        A run_id directory is a snapshot: present ⇔ its job committed
        (compaction-superseded dirs excluded)."""
        return [n.split("=", 1)[1] for n in self._run_dirs()]

    def compact(self, compact_id: str | None = None,
                num_files: int | None = None) -> str | None:
        """Full-table file compaction (the small-file maintenance op:
        streaming/incremental appends leave one dir of small files per
        run_id; compaction rewrites them as ONE snapshot — the
        scaled-down ``rewrite_data_files`` of a real Iceberg catalog,
        which at 100 TB would rewrite incrementally per partition).

        Crash-safe two-phase protocol on the rename primitive:

        1. the union of all live snapshots is written to a staging dir
           together with a ``_COMPACTED_FROM`` manifest naming them;
        2. one atomic ``os.replace`` publishes the compacted snapshot —
           from this instant readers exclude the superseded dirs via
           the manifest (:meth:`_run_dirs`), so duplicates are never
           visible;
        3. the superseded dirs are deleted (a crash here leaves dead
           dirs that :meth:`vacuum` removes later).

        Collapses time-travel granularity: the compacted snapshot
        replaces its sources in the log.  Returns the new snapshot id,
        or None when there is nothing to compact."""
        live = self._run_dirs()
        if len(live) <= 1:
            return None
        if compact_id is None:
            compact_id = f"compact-{len(self.snapshots())}-{live[-1].split('=', 1)[1]}"
        out = os.path.join(self.data_dir, f"run_id={compact_id}")
        if os.path.isdir(out):
            raise ValueError(f"snapshot {compact_id!r} already exists")
        # merge_schema: a compaction that read one arbitrary footer's
        # schema would silently DROP columns added by schema evolution
        df = self.read(merge_schema=True)
        if num_files:
            df = df.coalesce(num_files)
        # FIXED staging name (compaction is a single-writer maintenance
        # op): a crash between the staged write and the publish leaves a
        # dir the NEXT compact/vacuum reclaims — a pid-keyed name would
        # leak a full-table copy per crashed attempt
        self._publish_rewrite(df, compact_id, live, ".staging-compact")
        return compact_id

    def merge(self, source: DataFrame, key_cols: list[str],
              merge_id: str | None = None) -> str:
        """MERGE INTO (upsert) as a snapshot operation: the live table is
        rewritten as ``(target ANTI-JOIN source keys) ∪ source`` —
        matched rows replaced, unmatched kept, new rows inserted
        (operators/tables.upsert is the pure-DataFrame combinator) —
        and published with the SAME crash-safe two-phase protocol as
        :meth:`compact`: staged write + ``_COMPACTED_FROM`` manifest
        naming every superseded snapshot, one atomic ``os.replace`` to
        publish (readers flip from old to new state at that instant —
        no window showing both versions of a row), then source-dir
        cleanup that :meth:`vacuum` finishes after a crash.  Returns the
        new snapshot id.  Single-writer maintenance op (fixed staging
        name), like compaction.  A real Iceberg MERGE rewrites only the
        data files containing matches; this full-table rewrite is the
        sandbox-scale analog — the protocol (manifest supersede + atomic
        publish) is the part that transfers."""
        from frogocr_spark.operators.tables import upsert

        live = self._run_dirs()
        if merge_id is None:
            merge_id = f"merge-{self._next_version()}"
        out = os.path.join(self.data_dir, f"run_id={merge_id}")
        if os.path.isdir(out):
            raise ValueError(f"snapshot {merge_id!r} already exists")
        if not live:
            self.append(source, merge_id)
            return merge_id
        merged = upsert(self.read(merge_schema=True), source, key_cols)
        self._publish_rewrite(merged, merge_id, live, ".staging-merge")
        return merge_id

    def delete(self, predicate: str,
               delete_id: str | None = None) -> str | None:
        """DELETE WHERE as a snapshot operation (the third leg of the
        DML triad: :meth:`append`, :meth:`merge`, delete): the live
        table is rewritten WITHOUT the rows matching ``predicate`` (a
        SQL boolean expression over the table's columns — e.g. the
        GDPR/right-to-be-forgotten purge, the retention sweep) and
        published with the same crash-safe two-phase manifest protocol.
        Returns the new snapshot id, or None on an empty table.  A real
        Iceberg DELETE rewrites only files containing matches (or
        writes delete files); the full rewrite is the sandbox-scale
        analog.  Deleting EVERY row leaves a data-less snapshot —
        ``read()`` then raises exactly as on a never-written table.

        SQL DELETE semantics under three-valued logic: only rows where
        the predicate is TRUE are removed — rows where it evaluates
        NULL are KEPT (``(predicate) IS NOT TRUE``, not
        ``NOT (predicate)``, which silently deletes NULL rows).  This
        matters on schema-evolved tables, where every pre-evolution row
        has NULL in an evolved column (ADVICE r3)."""
        live = self._run_dirs()
        if not live:
            return None
        if delete_id is None:
            delete_id = f"delete-{self._next_version()}"
        out = os.path.join(self.data_dir, f"run_id={delete_id}")
        if os.path.isdir(out):
            raise ValueError(f"snapshot {delete_id!r} already exists")
        remaining = (self.read(merge_schema=True)
                     .where(f"({predicate}) IS NOT TRUE"))
        self._publish_rewrite(remaining, delete_id, live,
                              ".staging-delete")
        return delete_id

    def _next_version(self) -> int:
        """Monotonic snapshot-version counter for auto-generated
        merge/delete ids (ids derived from the LIVE snapshot count
        repeat once a rewrite supersedes its sources — the counter
        never reuses a number).  Reserved BEFORE the publish, so a
        crash mid-operation skips a version rather than colliding.
        Single-writer maintenance assumption, like the fixed staging
        names."""
        p = os.path.join(self.path, "_VERSION")
        v = 0
        if os.path.exists(p):
            with open(p) as fh:
                v = int(fh.read().strip() or 0)
        v += 1
        os.makedirs(self.path, exist_ok=True)
        with open(p, "w") as fh:
            fh.write(str(v))
        return v

    def _publish_rewrite(self, df: DataFrame, new_id: str,
                         live: list[str], staging_name: str) -> None:
        """Shared phase-1/2/3 of every full-table rewrite (compact,
        merge, delete): staged write + ``_COMPACTED_FROM`` manifest naming the
        superseded snapshots, one atomic publish, then source cleanup
        (:meth:`vacuum` finishes it after a crash)."""
        import shutil

        staging = os.path.join(self.path, staging_name)
        shutil.rmtree(staging, ignore_errors=True)
        df.write.mode("overwrite").parquet(staging)
        with open(os.path.join(staging, "_COMPACTED_FROM"), "w") as fh:
            fh.write("\n".join(live))
        os.makedirs(self.data_dir, exist_ok=True)
        out = os.path.join(self.data_dir, f"run_id={new_id}")
        os.replace(staging, out)        # publish: old state now dead
        for n in live:
            shutil.rmtree(os.path.join(self.data_dir, n),
                          ignore_errors=True)

    def vacuum(self) -> list[str]:
        """Remove compaction-superseded run dirs still on disk (crash
        recovery for the window between compaction phases 2 and 3), any
        abandoned compaction/merge/delete staging dir (a crash during
        phase 1), and the staged or set-aside dirs a crashed
        :meth:`append` leaves (``.staging-run_id=<id>``,
        ``.replaced-run_id=<id>``), which otherwise wait for an append of
        the same run_id that may never come.  None of these is visible
        to readers.  Single-writer assumption, like the fixed staging
        names: vacuum must not run while an append or rewrite is in
        flight, or it deletes that writer's staging dir.  Returns the
        removed names."""
        import shutil

        if not os.path.isdir(self.path):
            return []
        removed = sorted(
            n for n in os.listdir(self.path)
            if n in (".staging-compact", ".staging-merge", ".staging-delete")
            or n.startswith((".staging-run_id=", ".replaced-run_id=")))
        for n in removed:
            shutil.rmtree(os.path.join(self.path, n), ignore_errors=True)
        if not os.path.isdir(self.data_dir):
            return removed
        on_disk = {n for n in os.listdir(self.data_dir)
                   if n.startswith("run_id=")}
        dead = sorted(on_disk - set(self._run_dirs()))
        for n in dead:
            shutil.rmtree(os.path.join(self.data_dir, n),
                          ignore_errors=True)
        return removed + dead

    def read_snapshot(self, run_id: str,
                      schema: StructType | None = None) -> DataFrame:
        """Read one committed run's rows (snapshot-scoped scan); given the
        schema it was written with, Spark runs no schema-inference job."""
        return self.spark.read.load(
            os.path.join(self.data_dir, f"run_id={run_id}"), "parquet", schema)

    def read_until(self, run_id: str) -> DataFrame:
        """Time travel: union of snapshots up to and including ``run_id``
        (run_ids are ordered by the snapshot log)."""
        snaps = self.snapshots()
        if run_id not in snaps:
            raise ValueError(f"unknown snapshot {run_id!r}; have {snaps}")
        keep = snaps[: snaps.index(run_id) + 1]
        paths = [os.path.join(self.data_dir, f"run_id={r}") for r in keep]
        return self.spark.read.parquet(*paths)

    def processed_keys(self, *key_cols: str) -> DataFrame | None:
        """Committed keys for the F1 resume anti-join (column-pruned scan —
        only the key columns are read from parquet)."""
        if not self.exists():
            return None
        return self.read().select(*key_cols)


class BucketedTable:
    """Bucketed-layout table: the scale path for the resume anti-join.

    At 10^12 rows the committed-key side of the F1 anti-join (reference
    output-exists skip, ``Source/TaskProcessor.cpp:191-209``) is ~16 TB of
    keys — far past broadcast, and a sort-merge join would shuffle BOTH
    the input and the keys on every resume.  Laying both tables out
    bucketed by ``conv_id`` (and sorted by ``(conv_id, turn_idx)``) makes
    the anti-join **storage-partitioned**: each task reads matching
    buckets from both sides and joins with ZERO Exchange (verified by the
    plan test).  This class is the sandbox analog of an Iceberg
    ``bucket(N, conv_id)`` partition transform + storage-partitioned join;
    on a real catalog only this module changes.

    Requires ``spark.sql.requireAllClusterKeysForCoPartition=false`` (set
    in :mod:`frogocr_spark.session`) because the join keys
    ``(conv_id, turn_idx)`` are a superset of the bucket key — hash
    co-location on ``conv_id`` alone already co-locates every join key.

    Writes with ``saveAsTable`` (bucket metadata lives in the session
    catalog) into a staging dir, then publishes by renaming the
    ``run_id`` partition dir into place: the same staged, idempotent
    semantics as :class:`Table.append`, split the same way into
    :meth:`stage` and :meth:`publish`.
    """

    def __init__(self, spark: SparkSession, name: str, *,
                 buckets: int = 32, bucket_col: str = "conv_id",
                 sort_cols: tuple[str, ...] = ("conv_id", "turn_idx")):
        self.spark = spark
        self.name = name
        self.buckets = buckets
        self.bucket_col = bucket_col
        self.sort_cols = sort_cols

    def _location(self) -> str:
        wh = self.spark.conf.get("spark.sql.warehouse.dir")
        return os.path.join(wh.removeprefix("file:"), self.name.lower())

    def _ensure_registered(self) -> None:
        """Session catalogs are in-memory: a NEW session sees the table's
        warehouse directory but no metadata (the sandbox analog of losing
        the metastore; a real Iceberg catalog persists this).  Re-register
        the existing location as an external table with the same bucket
        spec so cross-session retries/resumes keep working (found by a
        fresh-session retry probe — saveAsTable alone fails with
        LOCATION_ALREADY_EXISTS)."""
        if self.spark.catalog.tableExists(self.name):
            return
        loc = self._location()
        if not os.path.isdir(loc):
            return
        df = self.spark.read.parquet(loc)
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                         for f in df.schema.fields if f.name != "run_id")
        self.spark.sql(
            f"CREATE TABLE {self.name} ({cols}, run_id STRING) "
            f"USING PARQUET PARTITIONED BY (run_id) "
            f"CLUSTERED BY ({self.bucket_col}) "
            f"SORTED BY ({', '.join(self.sort_cols)}) "
            f"INTO {self.buckets} BUCKETS "
            f"LOCATION '{loc}'")
        self.spark.sql(f"MSCK REPAIR TABLE {self.name}")

    def exists(self) -> bool:
        self._ensure_registered()
        return self.spark.catalog.tableExists(self.name)

    def append(self, df: DataFrame, run_id: str) -> None:
        """Idempotent append: re-running a failed run_id replaces only that
        run's partition, never duplicating rows; :meth:`stage` then
        :meth:`publish`, like :meth:`Table.append`."""
        self.stage(df, run_id)
        self.publish(run_id)

    def _aside(self, kind: str, run_id: str) -> str:
        """The staging or set-aside dir of ``run_id``: beside the table's
        location, never inside it."""
        return os.path.join(os.path.dirname(self._location()),
                            f".{kind}-{self.name.lower()}-run_id={run_id}")

    def stage(self, df: DataFrame, run_id: str) -> None:
        """Write ``df`` as run ``run_id``'s bucketed files into a staging
        dir outside the table (the bucket layout needs ``saveAsTable``, so
        under a throwaway external table, dropped at once).  The first
        stage also creates the table, empty, with the staged bucket
        spec."""
        import shutil

        from pyspark.sql import functions as F

        staging, tmp = self._aside("staging", run_id), f"{self.name}__staging"
        shutil.rmtree(staging, ignore_errors=True)
        self.spark.sql(f"DROP TABLE IF EXISTS {tmp}")
        (df.withColumn("run_id", F.lit(run_id)).write.partitionBy("run_id")
         .bucketBy(self.buckets, self.bucket_col).sortBy(*self.sort_cols)
         .option("path", staging).saveAsTable(tmp))
        if not self.exists():
            self.spark.sql(f"CREATE TABLE {self.name} LIKE {tmp}")
        self.spark.sql(f"DROP TABLE {tmp}")   # external: the files stay

    def publish(self, run_id: str) -> None:
        """Move the staged partition of run ``run_id`` into the table: the
        committed partition dir is renamed aside, the staged one renamed
        into its place, then the set-aside dir deleted, as in
        :meth:`Table.publish`.  An empty staged write writes no partition
        dir and publishes nothing (a blind retry keeps the committed
        run)."""
        import shutil

        staging = self._aside("staging", run_id)
        staged = os.path.join(staging, f"run_id={run_id}")
        out = os.path.join(self._location(), f"run_id={run_id}")
        replaced = self._aside("replaced", run_id)
        shutil.rmtree(replaced, ignore_errors=True)
        if footer_rows(staged):
            if os.path.isdir(out):
                os.replace(out, replaced)
            os.replace(staged, out)
            self.spark.sql(f"ALTER TABLE {self.name} ADD IF NOT EXISTS "
                           f"PARTITION (run_id = '{run_id}')")
            self.spark.sql(f"REFRESH TABLE {self.name}")
            shutil.rmtree(replaced, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)

    def committed_rows(self, run_id: str) -> int:
        """Rows in committed run ``run_id`` (0 if absent), from the parquet
        footers of its partition dir, like :meth:`Table.committed_rows`."""
        return footer_rows(os.path.join(self._location(), f"run_id={run_id}"))

    def read(self) -> DataFrame:
        return self.spark.table(self.name)

    def snapshots(self) -> list[str]:
        """Committed run_ids, sorted (partition dirs; no Spark job)."""
        loc = self._location()
        if not os.path.isdir(loc):
            return []
        return [n.split("=", 1)[1] for n in sorted(os.listdir(loc))
                if n.startswith("run_id=")]

    def read_snapshot(self, run_id: str,
                      schema: StructType | None = None) -> DataFrame:
        """One committed run's rows, without the ``run_id`` column (the
        catalog holds the schema; ``schema`` is unused)."""
        from pyspark.sql import functions as F

        return (self.read().where(F.col("run_id") == run_id)
                .drop("run_id"))

    def processed_keys(self, *key_cols: str) -> DataFrame | None:
        if not self.exists():
            return None
        return self.read().select(*key_cols)
