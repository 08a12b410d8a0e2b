"""The batch extraction pipeline (SURVEY §3.1 Spark lifecycle).

    read(transcripts)
      → F1 anti-join committed keys           (resume)
      → conv_id-salted repartition + secondary sort   (skew + ordering)
      → fused mapInArrow extraction           (one Arrow pass)
      → idempotent run_id append              (exactly-once)
      → lineage/metrics sidecar from the committed output (single
        extraction pass: the sidecar aggregates the written parquet, so
        extraction is never recomputed)

Scale notes: every step before the UDF is Catalyst-planned (scan with
column pruning, anti-join broadcast/shuffle via AQE); the UDF itself is
embarrassingly parallel; the only shuffles are the anti-join (resume runs
only) and the salted repartition — both keyed, skew-safe, and independent
of total table size per-partition.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators.extraction import extract_turns
from ..operators.resume import filter_unprocessed
from ..operators.skew import DEFAULT_SALT_BUCKETS, salted_repartition
from ..sources.catalog import BucketedTable, Table
from .metrics import build_sidecar


@dataclass
class PipelineConfig:
    output_dir: str
    run_id: str = "r0"
    num_partitions: int | None = None
    salt_buckets: int = DEFAULT_SALT_BUCKETS
    resume: bool = True
    stage_settings: dict = field(default_factory=dict)
    # bucketed output layout (the 10^12-row resume path): when set, the
    # extraction output lands in a conv_id-bucketed session table of this
    # name and the resume anti-join is storage-partitioned — zero
    # exchanges when the input shares the layout, one otherwise (never
    # wrong; see sources.catalog.BucketedTable)
    bucketed_table: str | None = None
    buckets: int = 32


def run_extraction(spark: SparkSession, transcripts: DataFrame,
                   cfg: PipelineConfig) -> dict:
    """Execute the pipeline; returns run stats from the sidecar."""
    if cfg.bucketed_table:
        out_table = BucketedTable(spark, cfg.bucketed_table,
                                  buckets=cfg.buckets)
    else:
        out_table = Table(spark, os.path.join(cfg.output_dir, "extractions"))
    side_table = Table(spark, os.path.join(cfg.output_dir, "metrics"))

    todo = transcripts
    if cfg.resume:
        todo = filter_unprocessed(
            todo, out_table.processed_keys("conv_id", "turn_idx"))

    # salt_buckets=0 → map-only plan (zero shuffles): correct whenever the
    # input layout already bounds task sizes (parquet maxPartitionBytes
    # splits a hot conversation's files automatically, and extraction is
    # per-row).  The salted shuffle is for pathological layouts and for
    # feeding downstream per-conversation operators.
    if cfg.salt_buckets > 0:
        distributed = salted_repartition(todo, cfg.num_partitions,
                                         cfg.salt_buckets)
    else:
        distributed = todo
    extracted = extract_turns(distributed)
    # A10/X5: global counters piggyback on the write action itself via
    # observe() — no extra job (the per-partition detail lives in the
    # sidecar below)
    from pyspark.sql import functions as F
    from pyspark.sql.observation import Observation
    obs = Observation("extract")
    extracted = extracted.observe(
        obs,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
        F.sum(F.col("empty_after_strip").cast("long")).alias("empty"))
    out_table.append(extracted, cfg.run_id)
    observed = obs.get

    if cfg.bucketed_table:
        this_run = (out_table.read()
                    .where(F.col("run_id") == cfg.run_id).drop("run_id"))
    else:
        this_run = spark.read.parquet(
            os.path.join(out_table.data_dir, f"run_id={cfg.run_id}"))
    sidecar = build_sidecar(this_run, cfg.run_id, cfg.stage_settings)
    side_table.append(sidecar, cfg.run_id)

    agg = sidecar.groupBy().sum("rows_in", "rows_out",
                                "empty_after_strip", "parse_failures").collect()
    if agg and agg[0][0] is not None:
        r = agg[0]
        stats = {"rows_in": r[0], "rows_out": r[1],
                 "empty_after_strip": r[2], "parse_failures": r[3]}
    else:
        stats = {"rows_in": 0, "rows_out": 0,
                 "empty_after_strip": 0, "parse_failures": 0}
    # observe() counters came free with the write; reconcile vs sidecar
    if observed.get("rows_out") and (
            observed["rows_out"] != stats["rows_out"]
            or (observed["parse_failures"] or 0) != stats["parse_failures"]):
        raise RuntimeError(
            f"run {cfg.run_id!r}: extraction observed "
            f"{observed['rows_out']} rows / {observed['parse_failures']} "
            f"parse failures, committed output has {stats['rows_out']} / "
            f"{stats['parse_failures']}")
    stats["observed"] = dict(observed)
    return stats
