"""The fused extraction operator: one ``mapInArrow`` pass per record batch.

Fuses the reference's per-task chain (sniff → detect → recognize →
second-pass merge → prune → assemble; ``Source/TaskProcessor.cpp:178-373``)
into a single pipelined physical operator.  Catalyst plans the scan /
anti-join / repartition around it; inside, the whole Arrow record batch is
processed by ``frogocr_spark.core.extract.extract_batch`` (vectorized
sniff, then one array scanner per payload class for every row, per-turn
settings included — no per-row Python crossing the JVM boundary), and
the batch boundary itself is raw Arrow: passthrough columns are
forwarded zero-copy and result arrays are built directly, skipping the
pandas round-trip ``mapInPandas`` pays on both sides.

Column pruning matters at 100 TB: the operator selects only the columns it
consumes plus the requested passthrough keys before the UDF, so the Arrow
transfer width stays minimal (SURVEY §4 "column pruning").
"""

from __future__ import annotations

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
        # mapInArrow, not mapInPandas: the passthrough columns are sliced
        # out of the incoming record batch ZERO-COPY, and the output
        # arrays are built directly (ints/bools/floats from numpy, spans
        # as ListArray-of-StructArray from flat offset/child arrays)
        # instead of paying pandas block-manager assembly plus pyarrow's
        # slow list-of-dict type inference on the way back.  Measured
        # ~1.5× end-to-end extraction throughput at 32 cores vs the
        # round-1 mapInPandas version; per-turn output is byte-identical
        # (tests/test_extract.py compares against the scalar oracle).
        import pyarrow as pa
        names = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            if names is None:
                names = rb.schema.names
            texts = rb.column(names.index(text_col)).to_pandas()
            stngs = (rb.column(names.index(settings_col)).to_pandas()
                     if settings_col else None)
            res = extract_batch(texts, stngs, spans_as="pairs")

            starts: list[int] = []
            ends: list[int] = []
            offsets = [0]
            for row_spans in res["spans"]:
                for a, b in row_spans:
                    starts.append(a)
                    ends.append(b)
                offsets.append(len(starts))
            spans_arr = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.StructArray.from_arrays(
                    [pa.array(starts, pa.int32()),
                     pa.array(ends, pa.int32())],
                    ["start", "end"]))

            arrays = [rb.column(names.index(c)) for c in pass_cols]
            arrays += [
                pa.array(res["payload_class"].tolist(), pa.string()),
                pa.array(res["extracted_text"].tolist(), pa.string()),
                spans_arr,
                pa.array(res["n_blocks"].to_numpy(), pa.int32()),
                pa.array(res["n_spans"].to_numpy(), pa.int32()),
                pa.array(res["n_variants"].to_numpy(), pa.int32()),
                pa.array(res["confidence"].to_numpy(), pa.float64()),
                pa.array(res["parse_failed"].to_numpy(), pa.bool_()),
                pa.array(res["empty_after_strip"].to_numpy(), pa.bool_()),
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    return narrow.mapInArrow(run, schema=out_schema)
