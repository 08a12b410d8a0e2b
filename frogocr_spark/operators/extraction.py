"""The fused extraction operator: one ``mapInArrow`` pass per record batch.

Fuses the reference's per-task chain (sniff → detect → recognize →
second-pass merge → prune → assemble; ``Source/TaskProcessor.cpp:178-373``)
into a single pipelined physical operator.  Catalyst plans the scan /
anti-join / repartition around it; inside, the whole Arrow record batch is
processed by ``frogocr_spark.core.extract.extract_batch`` (vectorized
sniff, then one row scanner per payload class for every row, per-turn
settings included — no per-row Python crossing the JVM boundary), and
the batch boundary itself is raw Arrow: passthrough columns are
forwarded zero-copy and the result frame becomes Arrow in one
``pa.RecordBatch.from_pandas`` call against ``EXTRACTION_FIELDS``.

Given a ``tally`` accumulator, each task also counts its partition in
the same pass (the reference counts per-task provenance where it does
the work, ``Source/TaskProcessor.cpp:19-88``): one entry per non-empty
partition, keyed by ``partition_id`` and merged last-wins
(:class:`LastWins`), which ``plans.metrics.tally_sidecar`` turns into
the lineage sidecar without another Spark job.

Given a ``write_dir``, each task also writes its own output: its Arrow
batches go into one parquet file (one per bucket, given a table's
``bucket`` rule), written with pyarrow from the task that extracted
them (the reference writes each ALTO file from the task that
recognized it, ``Source/TaskProcessor.cpp:356-369``), and the
frame yields no rows.  The rows then never travel back through the JVM,
and no Spark write stage encodes them again; the caller runs the frame
into the ``noop`` sink.  ``write_dir`` must be a path every executor
can see.

Each Python worker also gets two one-time installs from the first
task it runs (``_skip_unchanged_zip_rereads``, ``_freeze_import_heap``):
they remove fixed per-task costs PySpark's worker loop adds outside
the batch body, which no layer of the pipeline shows.

Column pruning matters at 100 TB: the operator selects only the columns it
consumes plus the requested passthrough keys before the UDF, so the Arrow
transfer width stays minimal (SURVEY §4 "column pruning").
"""

from __future__ import annotations

import gc
import os
import sys
import time
import uuid
from collections.abc import Iterator

from pyspark.accumulators import Accumulator, AccumulatorParam
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.extract import extract_batch
from ..sources.catalog import part_name

SPAN_TYPE = T.ArrayType(T.StructType([
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
]))

EXTRACTION_FIELDS = [
    T.StructField("payload_class", T.StringType(), False),
    T.StructField("extracted_text", T.StringType(), False),
    T.StructField("spans", SPAN_TYPE, False),
    T.StructField("n_blocks", T.IntegerType(), False),
    T.StructField("n_spans", T.IntegerType(), False),
    T.StructField("n_variants", T.IntegerType(), False),
    T.StructField("confidence", T.DoubleType(), False),
    T.StructField("parse_failed", T.BooleanType(), False),
    T.StructField("empty_after_strip", T.BooleanType(), False),
]


class LastWins(AccumulatorParam):
    """Accumulator of ``{partition_id: entry}`` dicts merged by
    ``dict.update``: a task that runs again (retry, speculation, a second
    action over the same frame) replaces its partition's entry instead
    of adding to it.  Extraction is deterministic, so only the entry's
    Python time can differ between attempts."""

    def zero(self, value: dict) -> dict:
        return {}

    def addInPlace(self, value1: dict, value2: dict) -> dict:
        value1.update(value2)
        return value1


def _skip_unchanged_zip_rereads() -> None:
    """Make ``importlib.invalidate_caches()`` cheap for zip archives that
    did not change: on CPython < 3.12, re-read an archive's directory only
    when its ``(st_mtime_ns, st_size)`` differs from what it was when this
    importer last read it.

    Why: PySpark 4.1.2's worker calls ``importlib.invalidate_caches()``
    at the start of every task (``pyspark/worker_util.py:
    setup_spark_files``).  Before 3.12, that makes every
    ``zipimport.zipimporter`` re-read its whole archive directory.  A
    worker holds ~16 of them: ``pyspark.zip`` (1,328 entries) once per
    pyspark subpackage loaded from it, the py4j zip, and the
    ``spark-core`` jar (5,359 entries, no ``.py`` file) that Spark puts
    on the worker path.  One call costs 0.11-0.18 s of CPU in a
    ``local[4]`` worker, almost all in ``zipimport._read_directory``;
    over ``agent_resume``'s 51,377 turns an identity ``mapInArrow`` costs
    1.24 s CPU, against 0.54 s for the same rows in one task.  CPython
    3.12 made the invalidation lazy upstream (gh-103200), so there this
    does nothing.

    Limits: it lives in the worker process, so it relies on
    ``spark.python.worker.reuse`` (on by default).  It is installed by
    the first task a worker runs, so that task, and the next one while
    each importer records the stat it read at, still pay the full
    re-read.  Every later task in the worker skips it, whatever its UDF.

    Idempotent: installed once per process, never wrapped twice.
    """
    if sys.version_info >= (3, 12):
        return
    import zipimport
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return

    def invalidate_caches(self):
        # stat before the read: a change during the read shows next time
        try:
            st = os.stat(self.archive)
            seen = (st.st_mtime_ns, st.st_size)
        except OSError:
            seen = None
        if seen is None or getattr(self, "_read_at", None) != seen:
            reread(self)
            self._read_at = seen

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _freeze_import_heap() -> None:
    """Move every object the worker holds so far into the permanent
    generation (``gc.freeze()``), once per process, so later cyclic
    collections skip it.

    Why: in a reused worker, PySpark 4.1.2's daemon runs a full
    ``gc.collect()`` after every task (``pyspark/daemon.py``, the
    ``while True: code = worker(...) ... gc.collect()`` loop).  A full
    collection walks every tracked object, and a worker that has
    imported pandas, pyarrow, numpy, pyspark and this package holds
    ~75k of them: one collection cost 14-23 ms of CPU in such a
    process on a 4-core host, and under 0.1 ms once they were frozen.  Called after the batch body's imports, it leaves each
    later collection only the objects the tasks made since, so every
    task's garbage is still collected.  Reference counting still frees
    frozen objects; only a cycle among them is never freed.

    Once per process: a freeze at every task would also freeze that
    task's own objects, and any of them left in a reference cycle would
    leak once per task.  What the first task holds when it calls this
    (its closure, its batch iterator) is frozen with the imports, once.
    It lives in the worker process, so like
    :func:`_skip_unchanged_zip_rereads` it relies on
    ``spark.python.worker.reuse`` (on by default).
    """
    if getattr(_freeze_import_heap, "done", False):
        return
    gc.freeze()
    _freeze_import_heap.done = True


def extract_turns(df: DataFrame, *,
                  passthrough: tuple[str, ...] = ("conv_id", "turn_idx", "role"),
                  with_partition_id: bool = True,
                  settings_col: str | None = None,
                  tally: Accumulator | None = None,
                  write_dir: str | None = None,
                  bucket: Column | None = None) -> DataFrame:
    """raw transcripts → extraction results (1 row in = 1 row out); the
    payload is column ``text``.

    ``with_partition_id`` stamps ``F.spark_partition_id()`` *before* the UDF
    so the lineage sidecar can key by physical partition (A10/§2.10).
    ``settings_col`` = optional per-turn settings CSV (F9 — tunes
    MinWordConfidence / SecondPass per row).
    ``tally`` = optional :class:`LastWins` accumulator: once a task's
    batches are exhausted, it adds ``{partition_id: entry}``, the entry
    a dict keyed by sidecar column: ``rows_in``, ``rows_out``,
    ``empty_after_strip``, ``parse_failures``, ``n_convs_approx``,
    ``confidence_sum``, ``python_cpu_s`` (the worker's
    ``time.process_time()`` over the task) and ``python_wall_s`` (its
    wall seconds, the write included), plus ``class_rows``: rows per
    payload class.  ``n_convs_approx`` counts
    runs of equal consecutive ``conv_id``s, so a task's state is a few
    numbers whatever its size: it is the exact distinct count when the
    partition is sorted by ``conv_id`` (``salted_repartition`` sorts
    it), an upper bound otherwise (a map-only partition keeps the
    input's row order).  A partition with no rows adds
    nothing.  Needs ``with_partition_id`` and ``conv_id`` among the
    passthrough columns.
    ``write_dir`` = optional directory every executor can see: each task
    writes its output batches into one parquet file there, and the frame
    yields no rows.  The file is written under a dot-prefixed name of
    its own (no reader lists dot files; a new name per attempt) and
    renamed to ``part-<partition_id:05d>.parquet`` once the task's
    batches end, so a task that runs again replaces its partition's
    file with the same rows, and a partition with no rows writes no
    file.  Needs ``with_partition_id``.
    ``bucket`` = optional bucket-id Column (a ``BucketedTable``'s), stamped
    before the UDF: each task then writes one file per bucket it meets,
    named by ``sources.catalog.part_name``.  Needs ``write_dir``.
    """
    cols = [*passthrough, "text"]
    if settings_col:
        cols.append(settings_col)
    narrow = df.select(*cols)
    if with_partition_id:
        narrow = narrow.withColumn("partition_id", F.spark_partition_id())
        cols = [*cols, "partition_id"]
    bucketed = bucket is not None   # the Column itself does not pickle
    if bucketed:
        narrow = narrow.withColumn("bucket_id", bucket)

    pass_cols = [c for c in cols if c not in ("text", settings_col)]
    out_schema = T.StructType([narrow.schema[c] for c in pass_cols]
                              + EXTRACTION_FIELDS)
    # the declared schema, nullability included, so each part file has
    # the schema Spark's writer gave it (and an empty run's file)
    out_arrow = to_arrow_schema(out_schema)

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # the wall interval encloses the CPU one: wall >= CPU while the
        # worker runs one thread
        wall0, cpu0 = time.perf_counter(), time.process_time()
        _skip_unchanged_zip_rereads()
        # mapInArrow, not mapInPandas: the passthrough columns are
        # forwarded zero-copy, and pyarrow converts extract_batch's frame
        # in one call against the declared schema (spans from (start,
        # end) pairs straight to the struct list)
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        res_schema = to_arrow_schema(T.StructType(EXTRACTION_FIELDS))
        _freeze_import_heap()
        pid = last_conv = None
        writers = {}    # bucket id (None: unbucketed) → (temp path, writer)
        t = {"rows_in": 0, "rows_out": 0, "empty_after_strip": 0,
             "parse_failures": 0, "n_convs_approx": 0, "confidence_sum": 0.0,
             "class_rows": {}}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            stngs = (rb.column(settings_col).to_pandas()
                     if settings_col else None)
            frame = extract_batch(rb.column("text").to_pandas(), stngs,
                                  spans_as="pairs")
            res = pa.RecordBatch.from_pandas(frame, schema=res_schema,
                                             preserve_index=False)
            if with_partition_id:
                pid = rb.column("partition_id")[0].as_py()
            if tally is not None:
                t["rows_in"] += rb.num_rows
                t["rows_out"] += res.num_rows
                t["empty_after_strip"] += int(frame["empty_after_strip"].sum())
                t["parse_failures"] += int(frame["parse_failed"].sum())
                t["confidence_sum"] += float(frame["confidence"].sum())
                for c, n in frame["payload_class"].value_counts().items():
                    t["class_rows"][c] = t["class_rows"].get(c, 0) + int(n)
                conv = rb.column("conv_id")
                changes = pc.sum(pc.not_equal(
                    conv.slice(1), conv.slice(0, len(conv) - 1))).as_py()
                t["n_convs_approx"] += ((changes or 0)
                                        + (conv[0].as_py() != last_conv))
                last_conv = conv[-1].as_py()
            out = pa.RecordBatch.from_arrays(
                [rb.column(c) for c in pass_cols] + res.columns,
                schema=out_arrow)
            if write_dir is None:
                yield out
                continue
            bk = rb.column("bucket_id") if bucketed else None
            for b in pc.unique(bk).to_pylist() if bucketed else [None]:
                if b not in writers:
                    tmp = os.path.join(write_dir, f".part-{pid:05d}-"
                                                  f"{uuid.uuid4().hex}.parquet")
                    # snappy and dictionary encoding, as Spark's writer.
                    # No min/max statistics: no reader filters on the keys
                    # (the resume anti-join reads every committed key, and
                    # a salted task's rows span nearly the whole key space
                    # anyway) or on the text and span columns (0.4% of
                    # agent_resume's output bytes).  No Arrow schema in the
                    # footer (1.5%): Spark and pyarrow read the types from
                    # the parquet schema.
                    writers[b] = tmp, pq.ParquetWriter(
                        tmp, out_arrow, compression="snappy",
                        use_dictionary=True, write_statistics=False,
                        store_schema=False)
                writers[b][1].write_batch(
                    out if b is None else out.filter(pc.equal(bk, b)))
        for b, (tmp, writer) in writers.items():
            writer.close()
            os.replace(tmp, os.path.join(write_dir, part_name(pid, b)))
        if tally is not None and pid is not None:
            t["python_cpu_s"] = time.process_time() - cpu0
            t["python_wall_s"] = time.perf_counter() - wall0
            tally.add({pid: t})

    return narrow.mapInArrow(run, schema=out_schema)
