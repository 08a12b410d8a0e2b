"""Table IO: Iceberg when available, parquet run directories otherwise.

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
  a caller that commits something else between them.  A crash in
  either leaves the run's ``.staging-``/``.replaced-`` dirs beside
  ``data/``, where no reader looks; rerunning the same run_id removes
  them.
- ``stage_dir(run_id)``   — the emptied staging dir, for writers that
  stage part files themselves: the pipeline's extraction tasks each
  write one with pyarrow (``plans.pipeline.commit_run`` runs them into
  the ``noop`` sink, the run's one Spark action), so a ``Table`` the
  pipeline writes needs a ``path`` every executor can see.  The
  pipeline then checks three counts of the run: the rows observed in
  the JVM entering extraction, the rows the tasks counted, and
  ``committed_rows`` from the published footers.
- ``read()``              — full table scan.
- ``snapshots()``         — committed run_ids; ``committed_rows(run_id)``
  — a run's row count from the parquet footers (no Spark job).
- ``processed_keys()``    — the committed key set used by the resume
  anti-join (output-exists skip F1 — reference
  ``Source/TaskProcessor.cpp:191-209``), typed from one part file's
  footer (no schema-inference Spark job).

At 100 TB the backend would be a real Iceberg catalog; every call site
only touches these classes, so the swap is one module.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _part_files(run_dir: str):
    """Paths of the parquet part files under ``run_dir`` (none when it
    is absent)."""
    for root, _dirs, files in os.walk(run_dir):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                yield os.path.join(root, f)


def footer_rows(run_dir: str) -> int:
    """Rows in the parquet files under ``run_dir`` (0 when it is absent),
    summed from their footers: no data is read and no Spark job runs."""
    return sum(pq.read_metadata(p).num_rows for p in _part_files(run_dir))


class Table:
    """One logical table rooted at ``path`` (parquet backend)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.data_dir = os.path.join(path, "data")

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

    def stage_dir(self, run_id: str) -> str:
        """Run ``run_id``'s staging dir, emptied (any earlier staged write
        is dropped) and created: the dir :meth:`publish` commits.  A
        writer other than :meth:`stage` puts its part files there itself
        (the extraction tasks, ``plans.pipeline.commit_run``), so it must
        be a path every executor can see."""
        import shutil

        staging = self._staging(run_id)
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        return staging

    def stage(self, df: DataFrame | pa.Table, run_id: str) -> None:
        """Write ``df`` as run ``run_id``'s next version into a staging
        dir that no reader sees (any earlier staged write is dropped)."""
        staging = self.stage_dir(run_id)
        if isinstance(df, pa.Table):
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
        implementation did exactly that); with nothing staged at all, the
        publish only removes the run's leftover staged and set-aside
        dirs.  An empty result with no prior dir still publishes (a
        legitimately-empty run is recorded).  A staged part file still
        under a dot-prefixed temp name (a task attempt that failed or was
        killed before its rename) is deleted first: no reader reads it,
        and it must not reach a committed run."""
        import shutil

        out = os.path.join(self.data_dir, f"run_id={run_id}")
        staging = self._staging(run_id)
        replaced = os.path.join(self.path, f".replaced-run_id={run_id}")
        shutil.rmtree(replaced, ignore_errors=True)
        if os.path.isdir(staging):
            for f in os.listdir(staging):
                if f.startswith(".") and f.endswith(".parquet"):
                    os.remove(os.path.join(staging, f))
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
        """Committed run-dir names, sorted."""
        if not os.path.isdir(self.data_dir):
            return []
        return [n for n in sorted(os.listdir(self.data_dir))
                if n.startswith("run_id=")]

    def _run_paths(self) -> list[str]:
        # explicit run-dir paths keep the run_id partition column out of
        # the schema
        return [os.path.join(self.data_dir, n) for n in self._run_dirs()]

    def read(self) -> DataFrame:
        """Read every committed run."""
        return (self.spark.read
                .option("recursiveFileLookup", "true")
                .parquet(*self._run_paths()))

    def snapshots(self) -> list[str]:
        """Committed run_ids (the Iceberg snapshot-log analog), sorted.
        A run_id directory is a snapshot: present ⇔ its job committed."""
        return [n.split("=", 1)[1] for n in self._run_dirs()]

    def processed_keys(self, *key_cols: str) -> DataFrame | None:
        """Committed keys for the F1 resume anti-join (column-pruned scan —
        only the key columns are read from parquet).  Their types come
        from one committed part file's footer, so no Spark job infers
        the table's schema; the table holds no schema of its own."""
        from pyspark.sql.pandas.types import from_arrow_schema

        paths = self._run_paths()
        part = next((f for p in paths for f in _part_files(p)), None)
        if part is None:
            return None
        footer = pq.read_schema(part)
        keys = from_arrow_schema(pa.schema([footer.field(c)
                                            for c in key_cols]))
        return (self.spark.read.schema(keys)
                .option("recursiveFileLookup", "true")
                .parquet(*paths))


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
        run); nor does a publish with nothing staged, which only removes
        the run's leftover dirs."""
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

    def processed_keys(self, *key_cols: str) -> DataFrame | None:
        if not self.exists():
            return None
        return self.read().select(*key_cols)
