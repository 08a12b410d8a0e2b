"""Per-partition lineage + metrics sidecar (north-rule requirement).

The analog of FrogOCR's per-stage ``Processing`` provenance records
(reference ``Source/TaskProcessor.cpp:19-88,338-355``) and per-processor
counters (``Source/TaskProcessor.hpp:51``, ``Source/Application.cpp:
318-331``), re-expressed as one aggregation over a committed run's
output:

``(run_id, partition_id) → rows_in, rows_out, empty_after_strip,
parse_failures, n_convs_approx, mean_confidence, created_at``

Both row columns count the committed rows (extraction is 1:1), so they
cannot catch a lost row on their own.  The check is the pipeline's
(``plans.pipeline.commit_run``): the rows observed entering extraction
must equal the sidecar's ``rows_out`` total, read back from the few
sidecar rows by :func:`sidecar_totals` (FIXTURES.md §5.6).  Aggregation
is map-side partial (plain ``groupBy().agg`` — Spark does the
partial/final split).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOTALS = ("rows_in", "rows_out", "empty_after_strip", "parse_failures")


def build_sidecar(extracted: DataFrame, run_id: str) -> DataFrame:
    """Aggregate the extraction output into the lineage sidecar table."""
    return (
        extracted
        .groupBy("partition_id")
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.count(F.lit(1)).alias("rows_out"),
            F.sum(F.col("empty_after_strip").cast("long")).alias("empty_after_strip"),
            F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
            F.approx_count_distinct("conv_id").alias("n_convs_approx"),
            F.avg("confidence").alias("mean_confidence"),
        )
        .withColumn("run_id", F.lit(run_id))
        # wall-clock provenance lives ONLY here (C9: timestamps never enter
        # the matched output — reference Processing.dateTime analog,
        # Source/TaskProcessor.cpp:11-13)
        .withColumn("created_at", F.current_timestamp())
    )


def sidecar_totals(side_table, run_id: str) -> dict:
    """The :data:`TOTALS` summed over run ``run_id`` of the sidecar
    ``sources.catalog.Table``, read from the run's directory with pyarrow
    (no Spark job); an empty run sums to zeros."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    t = ds.dataset(os.path.join(side_table.data_dir, f"run_id={run_id}"),
                   format="parquet", partitioning=None,
                   ignore_prefixes=[".", "_"]).to_table(columns=list(TOTALS))
    return {c: pc.sum(t[c]).as_py() or 0 for c in TOTALS}
