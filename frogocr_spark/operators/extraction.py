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

Column pruning matters at 100 TB: the operator selects only the columns it
consumes plus the requested passthrough keys before the UDF, so the Arrow
transfer width stays minimal (SURVEY §4 "column pruning").
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.extract import extract_batch

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


def extract_turns(df: DataFrame, *, text_col: str = "text",
                  passthrough: tuple[str, ...] = ("conv_id", "turn_idx", "role"),
                  with_partition_id: bool = True,
                  settings_col: str | None = None) -> DataFrame:
    """raw transcripts → extraction results (1 row in = 1 row out).

    ``with_partition_id`` stamps ``F.spark_partition_id()`` *before* the UDF
    so the lineage sidecar can group by physical partition (A10/§2.10).
    ``settings_col`` = optional per-turn settings CSV (F9 — tunes
    MinWordConfidence / SecondPass per row).
    """
    cols = [*passthrough, text_col]
    if settings_col:
        cols.append(settings_col)
    narrow = df.select(*cols)
    if with_partition_id:
        narrow = narrow.withColumn("partition_id", F.spark_partition_id())
        cols = [*cols, "partition_id"]

    pass_cols = [c for c in cols if c != text_col and c != settings_col]
    out_schema = T.StructType([narrow.schema[c] for c in pass_cols]
                              + EXTRACTION_FIELDS)
    out_names = pass_cols + [f.name for f in EXTRACTION_FIELDS]

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        _skip_unchanged_zip_rereads()
        # mapInArrow, not mapInPandas: the passthrough columns are
        # forwarded zero-copy, and pyarrow converts extract_batch's frame
        # in one call against the declared schema (spans from (start,
        # end) pairs straight to the struct list)
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        res_schema = to_arrow_schema(T.StructType(EXTRACTION_FIELDS))
        for rb in batches:
            if rb.num_rows == 0:
                continue
            stngs = (rb.column(settings_col).to_pandas()
                     if settings_col else None)
            res = pa.RecordBatch.from_pandas(
                extract_batch(rb.column(text_col).to_pandas(), stngs,
                              spans_as="pairs"),
                schema=res_schema, preserve_index=False)
            yield pa.RecordBatch.from_arrays(
                [rb.column(c) for c in pass_cols] + res.columns,
                names=out_names)

    return narrow.mapInArrow(run, schema=out_schema)
