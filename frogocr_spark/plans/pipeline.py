"""The batch extraction pipeline (SURVEY §3.1 Spark lifecycle).

    read(transcripts)
      → F1 anti-join committed keys           (resume)
      → the scan's own splits, or a conv_id-salted repartition +
        secondary sort                        (chosen on the driver)
      → commit_run:
          observe rows_in                     (rows entering extraction,
                                               counted in the JVM)
          → fused mapInArrow extraction       (one Arrow pass; each task
                                               tallies its partition and
                                               writes its own part files
                                               into the run's staging
                                               dir with pyarrow)
          → noop sink                         (the one Spark action: no
                                               rows come back through the
                                               JVM, no Spark write stage)
          → lineage/metrics sidecar built on the driver from the tallies,
            appended with pyarrow             (no Spark job)
          → the staged output published       (exactly-once; its rows
                                               counted from the footers)
          → three-way check: rows observed entering extraction = rows
            the tasks counted = rows in the committed files

The tasks write into the output table's staging dir, so ``output_dir``
must be a path every executor can see (any path in local mode; a shared
mount on a cluster).  A bucketed output (``bucketed_table``) lives there
too, at ``<output_dir>/extractions``: the table hands the tasks its
bucket rule, and its catalog entry only names it for the bucketed scan.

The sidecar is published before the output, so a committed run always
has its sidecar: a crash between the two publishes leaves a sidecar
without output, and the retry's resume finds the run's turns
unprocessed, re-extracts them and replaces that sidecar.  A blind retry
of a completed run stops after the resume check: nothing is extracted,
staged or published, and the run's committed totals are re-reported.

The stream's ``foreachBatch`` calls the same ``commit_run`` per epoch
with ``run_id=epoch_<N>`` — the reference's one scheduler loop for
drain and continuous modes (``Source/Application.cpp:287-336``).

Scale notes: every step before the UDF is Catalyst-planned (scan with
column pruning, anti-join broadcast/shuffle via AQE); the UDF itself is
embarrassingly parallel.  A fresh run over parquet whose row groups fit
the scan's splits is map-only: the splits bound every task, so it runs
no shuffle and is one Spark job.  Otherwise the run salts
(``operators.skew.salt_buckets_for``): a resume run, so AQE packs the
anti-join's survivors into few tasks and output files; a row group
larger than a split, or an input that is not a file scan, so no task
gets a hot conversation whole.  The only shuffles are then the
anti-join (resume runs only) and the salted repartition, both keyed and
skew-safe.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation
from pyspark.sql.pandas.types import to_arrow_schema

from ..core.sniff import CLASSES
from ..operators.extraction import LastWins, extract_turns
from ..operators.resume import filter_unprocessed
from ..operators.skew import salt_buckets_for, salted_repartition
from ..sources.catalog import BucketedTable, Table
# build_sidecar is not called here; it stays bound as
# pipeline.build_sidecar, which the pipeline benchmark's traced run wraps
from .metrics import build_sidecar, sidecar_totals, tally_sidecar  # noqa: F401


@dataclass
class PipelineConfig:
    output_dir: str
    run_id: str = "r0"
    num_partitions: int | None = None
    # None: decide per run (operators.skew.salt_buckets_for); N > 0
    # forces the salted shuffle with N buckets, 0 the map-only plan
    salt_buckets: int | None = None
    resume: bool = True
    # bucketed output layout (the 10^12-row resume path): when set, the
    # tasks write the output at <output_dir>/extractions in conv_id
    # buckets, registered in the session catalog under this name, and the
    # resume anti-join is storage-partitioned — zero exchanges when the
    # input shares the layout, one otherwise (never wrong; see
    # sources.catalog.BucketedTable)
    bucketed_table: str | None = None
    buckets: int = 32


def commit_run(todo: DataFrame, extract: Callable[..., DataFrame],
               run_id: str, out_table: Table, side_table: Table) -> dict:
    """Extract ``todo`` with ``extract`` and commit it as run ``run_id``.

    Observe ``rows_in`` → extract, each task tallying its partition and
    writing its own part files into ``out_table``'s staging dir → run
    that frame into the ``noop`` sink, the one Spark action → append the
    sidecar rows from the tallies with pyarrow → publish the output →
    reconcile.  ``extract`` takes the frame and ``tally``, ``write_dir``
    and ``bucket`` keywords (``extract_turns``'s); ``bucket`` is
    ``out_table``'s rule, None for an unbucketed table.  A run whose
    tasks wrote nothing (no rows) stages one schema-only part file, as
    Spark's writer did, so the committed run reads as an empty table.

    ``rows_in`` is observed on ``todo`` as given, after any shuffle: AQE
    swaps a shuffle stage that produced no rows, observe() included, for
    an empty relation.  Returns the sidecar totals of the committed run,
    plus ``observed`` (``rows_in`` observed in the JVM, and the tasks'
    ``rows_out``, ``parse_failures`` and ``empty`` totals),
    ``class_rows`` (rows per payload class, counted by the tasks) and
    ``phase_s`` (wall seconds of the extract+stage, and of the sidecar
    append and output publish); raises RuntimeError when the rows that
    entered extraction, the rows its tasks counted and the rows in the
    committed files disagree."""
    t0 = time.perf_counter()
    # one accumulator per call, emptied once read: PySpark's driver
    # registry keeps every accumulator for the session's life
    tally = todo.sparkSession.sparkContext.accumulator({}, LastWins())
    obs_in = Observation("rows_in")
    todo = todo.observe(obs_in, F.count(F.lit(1)).alias("rows_in"))
    extracted = extract(todo, tally=tally,
                        write_dir=out_table.stage_dir(run_id),
                        bucket=out_table.bucket)
    extracted.write.format("noop").mode("overwrite").save()
    if not tally.value:
        out_table.stage(to_arrow_schema(extracted.schema).empty_table(),
                        run_id)
    counted, tally.value = tally.value, {}

    def total(col: str) -> int:
        return sum(e[col] for e in counted.values())

    observed = {"rows_in": obs_in.get["rows_in"],
                "rows_out": total("rows_out"),
                "parse_failures": total("parse_failures"),
                "empty": total("empty_after_strip")}
    class_rows = {c: sum(e["class_rows"].get(c, 0) for e in counted.values())
                  for c in CLASSES}
    t1 = time.perf_counter()

    side_table.append(tally_sidecar(counted, run_id), run_id)
    out_table.publish(run_id)
    t2 = time.perf_counter()
    return _reconciled(run_id, out_table, side_table, observed, class_rows,
                       {"extract_append": round(t1 - t0, 3),
                        "sidecar": round(t2 - t1, 3)})


def _reconciled(run_id: str, out_table: Table, side_table: Table,
                observed: dict, class_rows: dict, phase_s: dict) -> dict:
    """The sidecar totals of committed run ``run_id`` with ``observed``,
    ``class_rows`` and ``phase_s`` added, once the rows its tasks
    counted (the sidecar's ``rows_out``) agree with the rows in the
    run's committed files and, when any entered, with the rows observed
    entering extraction (no Spark job)."""
    committed = out_table.committed_rows(run_id)
    stats = sidecar_totals(side_table, run_id)
    rows_in = observed["rows_in"]
    if committed != stats["rows_out"] or (rows_in and rows_in != committed):
        raise RuntimeError(
            f"run {run_id!r}: extraction observed {rows_in} rows in, its "
            f"tasks counted {stats['rows_out']}, the committed files hold "
            f"{committed} / {rows_in} rows")
    return {**stats, "observed": observed, "class_rows": class_rows,
            "phase_s": phase_s}


def run_extraction(spark: SparkSession, transcripts: DataFrame,
                   cfg: PipelineConfig) -> dict:
    """Execute the pipeline; returns run stats from the sidecar (see
    :func:`commit_run`), with ``phase_s["resume_check"]``: the wall
    seconds of the committed-key lookup, committed-``run_id`` check and
    plan choice (the anti-join itself runs inside ``extract_append``),
    and, when the run extracted, ``salt_buckets``: the salt it used, 0
    for the map-only plan (``cfg.salt_buckets``, or when that is None
    the choice of :func:`~frogocr_spark.operators.skew.salt_buckets_for`).

    With resume on, a rerun under an already-committed ``run_id`` that
    still finds new rows raises ValueError before writing anything: the
    append replaces a run, so it would drop the rows committed before.
    A blind retry that finds nothing new extracts and writes nothing: it
    removes the run's crash leftovers and re-reports its committed
    totals, with zero counts observed."""
    path = os.path.join(cfg.output_dir, "extractions")
    if cfg.bucketed_table:
        out_table = BucketedTable(spark, path, cfg.bucketed_table,
                                  buckets=cfg.buckets)
    else:
        out_table = Table(spark, path)
    side_table = Table(spark, os.path.join(cfg.output_dir, "metrics"))

    t0 = time.perf_counter()
    todo, committed = transcripts, None
    if cfg.resume:
        committed = out_table.processed_keys("conv_id", "turn_idx")
        todo = filter_unprocessed(todo, committed)
        if cfg.run_id in out_table.snapshots():
            if not todo.isEmpty():
                raise ValueError(
                    f"run {cfg.run_id!r} is already committed and the "
                    f"input has turns it does not hold; rerunning it would "
                    f"replace its rows with only the new ones. Pass a new "
                    f"--run-id.")
            # nothing is staged: a publish only removes the dirs a crash
            # in an earlier publish of this run left beside the tables
            out_table.publish(cfg.run_id)
            side_table.publish(cfg.run_id)
            return _reconciled(
                cfg.run_id, out_table, side_table,
                {"rows_in": 0, "rows_out": 0, "parse_failures": None,
                 "empty": None},
                dict.fromkeys(CLASSES, 0),
                {"resume_check": round(time.perf_counter() - t0, 3),
                 "extract_append": 0.0, "sidecar": 0.0})
    # 0 → map-only (zero shuffles; extraction is per-row, so any plan
    # gives the same rows): the scan's splits bound the tasks.  The
    # salted shuffle packs a resume run's anti-join survivors into few
    # output files and splits oversized row groups and non-file inputs.
    salt = cfg.salt_buckets
    if salt is None:
        salt = salt_buckets_for(transcripts, cfg.num_partitions,
                                resumed=committed is not None)
    resume_s = time.perf_counter() - t0

    if salt > 0:
        todo = salted_repartition(todo, cfg.num_partitions, salt)
    stats = commit_run(todo, extract_turns, cfg.run_id, out_table,
                       side_table)
    stats["phase_s"] = {"resume_check": round(resume_s, 3),
                        **stats["phase_s"]}
    stats["salt_buckets"] = salt
    return stats
