"""Per-layer measurements for the traced run.

(a) Prefix plans: successive prefixes of the ``run_extraction`` plan, each
    run into a noop sink; a layer's time is the difference between the
    prefix that ends in it and the prefix before.
(b) Single-thread kernels on one Arrow batch of the workload's input.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from frogocr_spark.core import sniff
from frogocr_spark.core.extract import extract_batch
from frogocr_spark.operators import extraction
from frogocr_spark.operators.extraction import extract_turns
from frogocr_spark.operators.resume import filter_unprocessed
from frogocr_spark.operators.skew import salted_repartition
from frogocr_spark.plans.metrics import build_sidecar
from frogocr_spark.session import ARROW_BATCH_ROWS
from frogocr_spark.sources.catalog import Table

PASSTHROUGH = ("conv_id", "turn_idx", "role")
SCAN_COLUMNS = (*PASSTHROUGH, "text")

# (span name, metric) in plan order; each prefix extends the one before,
# except processed_keys, which is the anti-join's other input
PREFIXES = (
    ("prefix.scan", "sources.scan_s"),
    ("prefix.processed_keys", "catalog.processed_keys_s"),
    ("prefix.anti_join", "resume.anti_join_s"),
    ("prefix.salted_repartition", "skew.salted_repartition_s"),
    ("prefix.arrow_roundtrip", "extraction.arrow_roundtrip_s"),
    ("prefix.extract", "extraction.extract_s"),
    ("prefix.append", "catalog.append_s"),
    ("prefix.sidecar", "metrics.sidecar_s"),
)


def identity_arrow(batches):
    """mapInArrow body with the extraction operator's output schema and
    no extraction: passthrough and text go back zero-copy, the other
    result columns are constant fills."""
    for rb in batches:
        n = rb.num_rows
        zeros = pa.array(np.zeros(n, np.int32))
        spans = pa.ListArray.from_arrays(
            pa.array(np.zeros(n + 1, np.int32)),
            pa.StructArray.from_arrays(
                [pa.array([], pa.int32()), pa.array([], pa.int32())],
                ["start", "end"]))
        yield pa.RecordBatch.from_arrays(
            [rb.column(c) for c in (*PASSTHROUGH, "partition_id")] + [
                pa.repeat(pa.scalar("plain"), n), rb.column("text"), spans,
                zeros, zeros, zeros,
                pa.array(np.ones(n, np.float64)),
                pa.array(np.zeros(n, bool)), pa.array(np.zeros(n, bool))],
            names=[*PASSTHROUGH, "partition_id",
                   *[f.name for f in extraction.EXTRACTION_FIELDS]])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefix_plans(spark, read_input, committed_root: str, scratch: str,
                 tracer, reps: int) -> dict[str, float]:
    """Median self time per layer over ``reps`` round-robin passes.

    ``committed_root`` is the output root a job starts from (it may hold
    nothing); appends go to ``scratch``, so it is never touched."""
    from pyspark.sql import functions as F
    committed = Table(spark, os.path.join(committed_root, "extractions"))
    for _ in range(reps):
        scan = read_input()
        with tracer.span("prefix.scan"):
            _noop(scan.select(*SCAN_COLUMNS))
        with tracer.span("prefix.processed_keys"):
            keys = committed.processed_keys("conv_id", "turn_idx")
            if keys is not None:
                _noop(keys)
        todo = filter_unprocessed(scan, keys)
        with tracer.span("prefix.anti_join"):
            _noop(todo.select(*SCAN_COLUMNS))
        salted = salted_repartition(todo)
        with tracer.span("prefix.salted_repartition"):
            _noop(salted.select(*SCAN_COLUMNS))
        narrow = (salted.select(*SCAN_COLUMNS)
                  .withColumn("partition_id", F.spark_partition_id()))
        ident = narrow.mapInArrow(identity_arrow,
                                  extract_turns(salted).schema)
        with tracer.span("prefix.arrow_roundtrip"):
            _noop(ident)
        with tracer.span("prefix.extract"):
            _noop(extract_turns(salted))
        shutil.rmtree(scratch, ignore_errors=True)
        out = Table(spark, os.path.join(scratch, "extractions"))
        with tracer.span("prefix.append"):
            out.append(extract_turns(salted), "prefix")
        side = Table(spark, os.path.join(scratch, "metrics"))
        with tracer.span("prefix.sidecar"):
            written = spark.read.parquet(
                os.path.join(out.data_dir, "run_id=prefix"))
            side.append(build_sidecar(written, "prefix"), "prefix")
    t = {name: tracer.median(name) for name, _ in PREFIXES}
    before = {"prefix.anti_join":
              t["prefix.scan"] + t["prefix.processed_keys"],
              "prefix.salted_repartition": t["prefix.anti_join"],
              "prefix.arrow_roundtrip": t["prefix.salted_repartition"],
              "prefix.extract": t["prefix.arrow_roundtrip"],
              "prefix.append": t["prefix.extract"]}
    return {metric: t[name] - before.get(name, 0.0)
            for name, metric in PREFIXES}


def kernel_batch(input_dir: str) -> pa.RecordBatch:
    """The first ARROW_BATCH_ROWS rows of the input as one record batch,
    shaped as the operator receives it."""
    files = sorted(os.path.join(input_dir, f) for f in os.listdir(input_dir))
    tbl = pq.read_table(files, columns=list(SCAN_COLUMNS))
    tbl = tbl.slice(0, ARROW_BATCH_ROWS).combine_chunks()
    tbl = tbl.append_column("partition_id",
                            pa.array(np.zeros(tbl.num_rows, np.int32)))
    return tbl.to_batches(max_chunksize=ARROW_BATCH_ROWS)[0]


class _Capture:
    """Stand-in DataFrame: records the function extract_turns hands to
    mapInArrow, so the operator's per-batch body can be timed alone."""

    def __init__(self, schema):
        self.schema = schema
        self.fn = None

    def select(self, *cols):
        return self

    def withColumn(self, name, col):
        return self

    def mapInArrow(self, fn, schema):
        self.fn = fn
        return self


def _timed(tracer, name: str, fn, reps: int) -> float:
    for _ in range(reps):
        with tracer.span(name):
            fn()
    return tracer.median(name)


def kernels(rb: pa.RecordBatch, schema, tracer, reps: int) -> dict[str, float]:
    """Single-thread µs/row: sniff, each class's extract_batch on its own
    rows (sniff included), and output assembly (the operator's batch body
    minus extract_batch).  A class absent from the batch reports the
    fixed cost of a call on zero rows."""
    texts = rb.column("text").to_pandas()
    n = len(texts)
    out = {"sniff.us_per_row":
           _timed(tracer, "kernel.sniff", lambda: sniff.sniff_series(texts),
                  reps) / n * 1e6}
    classes = sniff.sniff_series(texts).to_numpy()
    for cls in sniff.CLASSES:
        sub = texts[classes == cls].reset_index(drop=True)
        t = _timed(tracer, f"kernel.extract.{cls}",
                   lambda: extract_batch(sub, None, spans_as="pairs"), reps)
        out[f"extract.{cls}.us_per_row"] = t / max(1, len(sub)) * 1e6
    cap = _Capture(schema)
    extract_turns(cap)
    for _ in range(reps):    # interleaved, so both see the same caches
        _timed(tracer, "kernel.operator_batch",
               lambda: list(cap.fn(iter([rb]))), 1)
        _timed(tracer, "kernel.extract_batch",
               lambda: extract_batch(texts, None, spans_as="pairs"), 1)
    out["extraction.assemble_us_per_row"] = (
        tracer.median("kernel.operator_batch")
        - tracer.median("kernel.extract_batch")) / n * 1e6
    return out

