"""Streaming extraction: the reference's hand-rolled micro-batch loop
(SURVEY §2.8) re-expressed as Structured Streaming.

Mapping (reference → Spark):
- poll loop + empty-queue sleep (``Source/Application.cpp:287-336``, 30 s
  default) → ``trigger(processingTime=...)``
- ``--exit-if-no-tasks`` drain mode (``:267-274,310-313``) →
  ``Trigger.AvailableNow`` (process the backlog, stop)
- backpressure ``maxTasksPerThread`` (``:318-335``) →
  ``maxFilesPerTrigger``
- at-most-once fetch-then-delete (``:62-64,518-521``) → checkpointed
  offsets + idempotent per-epoch writes = exactly-once (strictly stronger)
- one scheduler loop for both modes → each epoch goes through the batch
  pipeline's commit step (``plans.pipeline.commit_run``): the SAME fused
  extraction operator, the append as run ``epoch_<N>``, and that
  epoch's lineage sidecar in ``<output_dir>/metrics``, reconciled
  against the rows the epoch read.  A replayed epoch replaces its own
  output and sidecar.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.extraction import extract_turns
from ..plans.pipeline import commit_run
from ..sources.catalog import Table
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def start_stream(spark: SparkSession, input_dir: str, output_dir: str,
                 checkpoint_dir: str | None = None,
                 available_now: bool = True,
                 max_files_per_trigger: int | None = None) -> StreamingQuery:
    """Stream transcripts parquet dir → extraction table + per-epoch
    sidecar (exactly-once)."""
    if checkpoint_dir is None:
        checkpoint_dir = os.path.join(output_dir, "_checkpoint")
    reader = (spark.readStream.schema(TRANSCRIPT_SCHEMA)
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.load(input_dir)

    out_table = Table(spark, os.path.join(output_dir, "extractions"))
    side_table = Table(spark, os.path.join(output_dir, "metrics"))

    def write_epoch(batch_df, epoch_id: int) -> None:
        commit_run(batch_df, extract_turns, f"epoch_{epoch_id}", out_table,
                   side_table)

    writer = (stream.writeStream
              .foreachBatch(write_epoch)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="30 seconds")
    return writer.start()


def run_drain(spark: SparkSession, input_dir: str, output_dir: str,
              **kwargs) -> None:
    """--exit-if-no-tasks analog: process everything available, stop."""
    q = start_stream(spark, input_dir, output_dir, available_now=True, **kwargs)
    q.awaitTermination()
