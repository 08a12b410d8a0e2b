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
