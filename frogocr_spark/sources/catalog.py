"""Table IO: parquet run directories.  There is no Iceberg backend; a
parquet directory gives Iceberg's *semantics* behind one interface
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
  write one with pyarrow, one per bucket of the table's ``bucket``
  rule if it has one (``plans.pipeline.commit_run`` runs them into
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

``BucketedTable`` adds a ``conv_id`` bucket rule and a session-catalog
entry, so the resume anti-join reads it as a bucketed table.

At 100 TB the backend would be a real Iceberg catalog; every call site
only touches these classes, so the swap is one module.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema


def part_name(partition_id: int, bucket: int | None = None) -> str:
    """``part-<partition_id:05d>.parquet``; a bucket id goes after an
    underscore, where Spark's bucketed reader parses it."""
    tail = "" if bucket is None else f"_{bucket:05d}"
    return f"part-{partition_id:05d}{tail}.parquet"


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


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

    # each row's bucket id, a Column; None: the table is not bucketed
    bucket: Column | None = None

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
            pq.write_table(df, os.path.join(staging, part_name(0)))
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

    def _committed_schema(self) -> pa.Schema | None:
        """The footer schema of one committed part file (None when no
        run is committed): the table holds no schema of its own."""
        part = next((f for p in self._run_paths() for f in _part_files(p)),
                    None)
        return None if part is None else pq.read_schema(part)

    def processed_keys(self, *key_cols: str) -> DataFrame | None:
        """Committed keys for the F1 resume anti-join (column-pruned scan —
        only the key columns are read from parquet), typed from
        :meth:`_committed_schema`, so no Spark job infers a schema."""
        footer = self._committed_schema()
        if footer is None:
            return None
        keys = from_arrow_schema(pa.schema([footer.field(c)
                                            for c in key_cols]))
        return (self.spark.read.schema(keys)
                .option("recursiveFileLookup", "true")
                .parquet(*self._run_paths()))


class BucketedTable(Table):
    """A :class:`Table` whose files are laid out in ``conv_id`` buckets,
    registered in the session catalog as ``name``: the scale path for the
    resume anti-join.

    At 10^12 rows the committed-key side of the F1 anti-join (reference
    output-exists skip, ``Source/TaskProcessor.cpp:191-209``) is ~16 TB of
    keys — far past broadcast, and a sort-merge join would shuffle BOTH
    the input and the keys on every resume.  Laying both tables out
    bucketed by ``conv_id`` makes the anti-join **storage-partitioned**:
    each task reads matching buckets from both sides and joins with ZERO
    Exchange (verified by the plan test).  This class is the sandbox
    analog of an Iceberg ``bucket(N, conv_id)`` partition transform +
    storage-partitioned join; on a real catalog only this module changes.

    Requires ``spark.sql.requireAllClusterKeysForCoPartition=false`` (set
    in :mod:`frogocr_spark.session`) because the join keys
    ``(conv_id, turn_idx)`` are a superset of the bucket key — hash
    co-location on ``conv_id`` alone already co-locates every join key.

    The extraction tasks write the files, one per bucket they meet
    (:attr:`bucket`); staging, publish, row counts and snapshots are the
    :class:`Table`'s.  The catalog entry is an external table over
    ``data_dir`` partitioned by ``run_id``.  A task's rows are not sorted
    per bucket, so it declares no ``SORTED BY``.  The bucket count is
    kept in a one-line ``buckets`` file beside ``data_dir``, written
    before the first run is published: a run that hashed with another
    count would put a key's rows in a bucket the anti-join never reads
    for it, so a different count is refused before the run starts.
    """

    def __init__(self, spark: SparkSession, path: str, name: str, *,
                 buckets: int = 32):
        super().__init__(spark, path)
        # Spark's own bucketed writer checked this before a run started;
        # the task writer would fail inside the job on pmod(..., 0)
        most = int(spark.conf.get("spark.sql.sources.bucketing.maxBuckets"))
        if not 0 < buckets <= most:
            raise ValueError(f"buckets must be in 1..{most}, got {buckets}")
        self.count_file = os.path.join(path, "buckets")
        if self.snapshots() and os.path.exists(self.count_file):
            with open(self.count_file) as f:
                stored = int(f.read())
            if stored != buckets:
                raise ValueError(f"{path} was written with {stored} buckets, "
                                 f"got {buckets}")
        self.buckets = buckets
        self.ident = "`" + name.replace("`", "``") + "`"

    @property
    def bucket(self) -> Column:
        """Each row's bucket id: ``pmod(hash(conv_id), buckets)``, Spark's
        own bucket function."""
        return F.pmod(F.hash("conv_id"), F.lit(self.buckets))

    def stage(self, df: pa.Table, run_id: str) -> None:
        """Only an empty run's schema-only file, in bucket 0 (Spark's
        bucketed reader refuses a file with no bucket id): the extraction
        tasks stage the rows."""
        if not isinstance(df, pa.Table) or df.num_rows:
            raise ValueError("the extraction tasks stage a bucketed run")
        pq.write_table(df, os.path.join(self.stage_dir(run_id),
                                        part_name(0, 0)))

    def _ensure_registered(self) -> bool:
        """Whether the catalog holds the table, registering it if a run is
        committed.  Session catalogs are in-memory, so a new session sees
        the files but no entry (a real Iceberg catalog persists it): its
        first use creates the entry with the columns of one committed
        footer (no schema-inference job), then finds the runs."""
        if self.spark.catalog.tableExists(self.ident):
            return True
        footer = self._committed_schema()
        if footer is None:
            return False
        self.spark.sql(
            f"CREATE TABLE {self.ident} ({from_arrow_schema(footer).toDDL()}"
            f", run_id STRING) USING PARQUET PARTITIONED BY (run_id) "
            f"CLUSTERED BY (conv_id) INTO {self.buckets} BUCKETS "
            f"LOCATION {_sql_string(self.data_dir)}")
        self.spark.sql(f"MSCK REPAIR TABLE {self.ident}")
        return True

    def publish(self, run_id: str) -> None:
        """:meth:`Table.publish`, after persisting the bucket count for the
        table's first run, then tell the catalog: an entry gets the run's
        partition, at the run dir (Spark would escape the name
        otherwise), and drops its cached file listing; a table with no
        entry is registered."""
        known = self.spark.catalog.tableExists(self.ident)
        if not self.snapshots() or not os.path.exists(self.count_file):
            os.makedirs(self.path, exist_ok=True)
            tmp = os.path.join(self.path, ".buckets")
            with open(tmp, "w") as f:
                f.write(f"{self.buckets}\n")
            os.replace(tmp, self.count_file)
        super().publish(run_id)
        if not known:
            self._ensure_registered()
        elif run_id in self.snapshots():
            out = os.path.join(self.data_dir, f"run_id={run_id}")
            self.spark.sql(
                f"ALTER TABLE {self.ident} ADD IF NOT EXISTS PARTITION "
                f"(run_id = {_sql_string(run_id)}) "
                f"LOCATION {_sql_string(out)}")
            self.spark.sql(f"REFRESH TABLE {self.ident}")

    def read(self) -> DataFrame:
        """Every committed run through the catalog (a bucketed scan), with
        its ``run_id`` partition column."""
        self._ensure_registered()
        return self.spark.table(self.ident)

    def processed_keys(self, *key_cols: str) -> DataFrame | None:
        if not self._ensure_registered():
            return None
        return self.read().select(*key_cols)
