"""Per-partition lineage + metrics sidecar (north-rule requirement).

The analog of FrogOCR's per-stage ``Processing`` provenance records
(reference ``Source/TaskProcessor.cpp:19-88,338-355``) and per-processor
counters (``Source/TaskProcessor.hpp:51``, ``Source/Application.cpp:
318-331``), counted, as there, in the pass that does the work:

``(run_id, partition_id) → rows_in, rows_out, empty_after_strip,
parse_failures, n_convs_approx, mean_confidence, created_at,
python_cpu_s``

Each extraction task counts its own partition into a ``LastWins``
accumulator (``operators.extraction.extract_turns(tally=...)``), and
:func:`tally_sidecar` turns those entries into the sidecar rows on the
driver; the pipeline writes them with pyarrow, so no Spark job runs
after the output write.  ``n_convs_approx`` counts runs of equal
consecutive ``conv_id``s (exact within a partition sorted by
``conv_id``, as the salted shuffle leaves it) and ``python_cpu_s`` is
the task's Python worker CPU seconds.

The check is the pipeline's (``plans.pipeline.commit_run``), three
independent counts of one run: the rows observed entering extraction,
the rows the tasks counted (the sidecar's ``rows_out`` total, read back
by :func:`sidecar_totals`, FIXTURES.md §5.6) and the rows in the
committed parquet footers; plus the parse failures observed leaving
extraction against those the tasks counted.  The sidecar is published
before the output, so a committed run always has its sidecar: a crash
between the two leaves a sidecar without output, whose turns the
resume re-extracts, replacing it.

:func:`build_sidecar` is the same table as one Spark aggregation over
an extraction output (``n_convs_approx`` approximate, no
``python_cpu_s``); the pipeline benchmark times it as the cost the
tallies replace.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOTALS = ("rows_in", "rows_out", "empty_after_strip", "parse_failures")

# the sidecar's columns, with the types Spark gave them when it wrote
# the sidecar (int partition_id, long counts)
SIDECAR_SCHEMA = pa.schema([
    ("partition_id", pa.int32()),
    ("rows_in", pa.int64()),
    ("rows_out", pa.int64()),
    ("empty_after_strip", pa.int64()),
    ("parse_failures", pa.int64()),
    ("n_convs_approx", pa.int64()),
    ("mean_confidence", pa.float64()),
    ("run_id", pa.string()),
    ("created_at", pa.timestamp("us", tz="UTC")),
    ("python_cpu_s", pa.float64()),
])


def tally_sidecar(tallies: dict, run_id: str) -> pa.Table:
    """The sidecar rows of run ``run_id`` from the extraction tasks'
    ``{partition_id: entry}`` tallies (entries keyed by sidecar column,
    ``confidence_sum`` in place of ``mean_confidence``), one row per
    partition that held rows."""
    # wall-clock provenance lives ONLY here (C9: timestamps never enter
    # the matched output — reference Processing.dateTime analog,
    # Source/TaskProcessor.cpp:11-13)
    now = datetime.now(timezone.utc)
    return pa.Table.from_pylist(
        [{**e, "partition_id": pid, "run_id": run_id, "created_at": now,
          "mean_confidence": e["confidence_sum"] / e["rows_out"]}
         for pid, e in sorted(tallies.items())], schema=SIDECAR_SCHEMA)


def build_sidecar(extracted: DataFrame, run_id: str) -> DataFrame:
    """Aggregate an extraction output into its lineage sidecar rows."""
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
