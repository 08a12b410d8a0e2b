"""The batch extraction pipeline (SURVEY §3.1 Spark lifecycle).

    read(transcripts)
      → F1 anti-join committed keys           (resume)
      → conv_id-salted repartition + secondary sort   (skew + ordering)
      → commit_run:
          observe rows_in                     (rows entering extraction)
          → fused mapInArrow extraction       (one Arrow pass; each task
                                               also tallies its partition)
          → run_id output staged              (the one Spark action)
          → lineage/metrics sidecar built on the driver from the tallies,
            appended with pyarrow             (no Spark job)
          → the staged output published       (exactly-once; its rows
                                               counted from the footers)
          → three-way check: rows observed entering extraction = rows
            the tasks counted = rows in the committed files

The sidecar is published before the output, so a committed run always
has its sidecar: a crash between the two publishes leaves a sidecar
without output, and the retry's resume finds the run's turns
unprocessed, re-extracts them and replaces that sidecar.  A blind retry
of a completed run counts nothing and stages nothing, so both publishes
keep what is committed and the run's totals are re-reported.

The stream's ``foreachBatch`` calls the same ``commit_run`` per epoch
with ``run_id=epoch_<N>`` — the reference's one scheduler loop for
drain and continuous modes (``Source/Application.cpp:287-336``).

Scale notes: every step before the UDF is Catalyst-planned (scan with
column pruning, anti-join broadcast/shuffle via AQE); the UDF itself is
embarrassingly parallel; the only shuffles are the anti-join (resume runs
only) and the salted repartition — both keyed, skew-safe, and independent
of total table size per-partition.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from ..core.sniff import CLASSES
from ..operators.extraction import LastWins, extract_turns
from ..operators.resume import filter_unprocessed
from ..operators.skew import DEFAULT_SALT_BUCKETS, salted_repartition
from ..sources.catalog import BucketedTable, Table
# build_sidecar is not called here; it stays bound as
# pipeline.build_sidecar, which the pipeline benchmark's traced run wraps
from .metrics import build_sidecar, sidecar_totals, tally_sidecar  # noqa: F401


@dataclass
class PipelineConfig:
    output_dir: str
    run_id: str = "r0"
    num_partitions: int | None = None
    salt_buckets: int = DEFAULT_SALT_BUCKETS
    resume: bool = True
    # bucketed output layout (the 10^12-row resume path): when set, the
    # extraction output lands in a conv_id-bucketed session table of this
    # name and the resume anti-join is storage-partitioned — zero
    # exchanges when the input shares the layout, one otherwise (never
    # wrong; see sources.catalog.BucketedTable)
    bucketed_table: str | None = None
    buckets: int = 32


def commit_run(todo: DataFrame, extract: Callable[..., DataFrame],
               run_id: str, out_table: Table | BucketedTable,
               side_table: Table) -> dict:
    """Extract ``todo`` with ``extract`` and commit it as run ``run_id``.

    Observe → extract, each task tallying its partition → stage the
    output → append the sidecar rows from the tallies with pyarrow →
    publish the output → reconcile; the observe() counters and the
    tallies fill on the staging write, the one Spark action.  ``extract`` takes the frame and a ``tally``
    keyword (``extract_turns``'s).  ``rows_in`` is observed on ``todo``
    as given, after any shuffle: AQE swaps a shuffle stage that produced
    no rows, observe() included, for an empty relation.  Returns the
    sidecar totals of the committed run (a blind retry re-reports the
    run it left intact), plus ``class_rows`` (rows per payload class
    that left extraction) and ``phase_s`` (wall seconds of the
    extract+stage and of the sidecar append, output publish and
    read-back); raises
    RuntimeError when the rows that entered extraction, the rows its
    tasks counted and the rows in the committed files disagree, or the
    parse failures observed and counted do."""
    t0 = time.perf_counter()
    # one accumulator per call, emptied once read: PySpark's driver
    # registry keeps every accumulator for the session's life
    tally = todo.sparkSession.sparkContext.accumulator({}, LastWins())
    obs_in, obs_out = Observation("rows_in"), Observation("extract")
    extracted = extract(
        todo.observe(obs_in, F.count(F.lit(1)).alias("rows_in")),
        tally=tally)
    extracted = extracted.observe(
        obs_out,
        F.count(F.lit(1)).alias("rows_out"),
        F.sum(F.col("parse_failed").cast("long")).alias("parse_failures"),
        F.sum(F.col("empty_after_strip").cast("long")).alias("empty"),
        *(F.count_if(F.col("payload_class") == c).alias(f"class_{c}")
          for c in CLASSES))
    out_table.stage(extracted, run_id)
    observed = {**obs_in.get, **obs_out.get}
    class_rows = {c: observed.pop(f"class_{c}") or 0 for c in CLASSES}
    counted, tally.value = tally.value, {}
    t1 = time.perf_counter()

    side_table.append(tally_sidecar(counted, run_id), run_id)
    out_table.publish(run_id)
    committed = out_table.committed_rows(run_id)
    stats = sidecar_totals(side_table, run_id)
    t2 = time.perf_counter()
    rows_in = observed["rows_in"]
    failures = observed["parse_failures"] or 0
    if committed != stats["rows_out"] or (rows_in and (
            rows_in != committed or failures != stats["parse_failures"])):
        raise RuntimeError(
            f"run {run_id!r}: extraction observed {rows_in} rows in / "
            f"{failures} parse failures, its tasks counted "
            f"{stats['rows_out']} / {stats['parse_failures']}, the "
            f"committed files hold {committed} / {rows_in} rows")
    stats["observed"] = observed
    stats["class_rows"] = class_rows
    stats["phase_s"] = {"extract_append": round(t1 - t0, 3),
                        "sidecar": round(t2 - t1, 3)}
    return stats


def run_extraction(spark: SparkSession, transcripts: DataFrame,
                   cfg: PipelineConfig) -> dict:
    """Execute the pipeline; returns run stats from the sidecar (see
    :func:`commit_run`), with ``phase_s["resume_check"]``: the wall
    seconds of the committed-key lookup and committed-``run_id`` check
    (the anti-join itself runs inside ``extract_append``).

    With resume on, a rerun under an already-committed ``run_id`` that
    still finds new rows raises ValueError before writing anything: the
    append replaces a run, so it would drop the rows committed before.
    A blind retry that finds nothing new stays a no-op."""
    if cfg.bucketed_table:
        out_table = BucketedTable(spark, cfg.bucketed_table,
                                  buckets=cfg.buckets)
    else:
        out_table = Table(spark, os.path.join(cfg.output_dir, "extractions"))
    side_table = Table(spark, os.path.join(cfg.output_dir, "metrics"))

    t0 = time.perf_counter()
    todo = transcripts
    if cfg.resume:
        todo = filter_unprocessed(
            todo, out_table.processed_keys("conv_id", "turn_idx"))
        if cfg.run_id in out_table.snapshots() and not todo.isEmpty():
            raise ValueError(
                f"run {cfg.run_id!r} is already committed and the input "
                f"has turns it does not hold; rerunning it would replace "
                f"its rows with only the new ones. Pass a new --run-id.")
    resume_s = time.perf_counter() - t0

    # salt_buckets=0 → map-only plan (zero shuffles): correct whenever the
    # input layout already bounds task sizes (parquet maxPartitionBytes
    # splits a hot conversation's files automatically, and extraction is
    # per-row).  The salted shuffle is for pathological layouts and for
    # feeding downstream per-conversation operators.
    if cfg.salt_buckets > 0:
        todo = salted_repartition(todo, cfg.num_partitions, cfg.salt_buckets)
    stats = commit_run(todo, extract_turns, cfg.run_id, out_table,
                       side_table)
    stats["phase_s"] = {"resume_check": round(resume_s, 3),
                        **stats["phase_s"]}
    return stats
