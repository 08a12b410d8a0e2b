"""The run's partitioning: map-only over the scan's own splits, or a
conv_id-salted repartition + secondary sort (SURVEY §4 custom piece a).

Extraction is a pure per-row map, so correctness never depends on
partitioning — ordering comes from the ``(conv_id, turn_idx)`` data keys,
never from partition iteration order (SURVEY §7 hard part 2) — and the
extraction tasks write the output themselves, so no per-conversation
operator reads their partitions.  A parquet scan already bounds each
task: Spark cuts the files into splits of at most
``FilePartition.maxSplitBytes`` and a split reads the row groups whose
midpoint it holds, so a hot conversation in ordinary row groups is
spread over the splits.  :func:`salt_buckets_for` keeps that map-only
plan whenever it holds, and salts otherwise:

- a row group larger than a split would be one oversized task, and an
  input that is not a file scan (a generated frame) has no splits to
  bound it;
- a resume run's anti-join leaves a sparse set of new rows over the
  scan's splits; the shuffle lets AQE pack them into few tasks, so few
  output files, each with its own column dictionaries (map-only spread
  ``agent_resume``'s 5.2k new turns over 3 files, +24% bytes per turn);
- an explicit partition count asks for a repartition.

Salting on ``pmod(turn_idx, salt_buckets)`` splits hot conversations
across ``salt_buckets`` tasks while keeping small conversations
one-task (a hash-repartition on ``conv_id`` alone would put a
10^4-turn conversation into one task);
``sortWithinPartitions(conv_id, turn_idx)`` then gives every task
contiguous turns, so its Arrow batches have deterministic content.

The reference has no cross-task shuffle at all (FIFO thread dispatch —
``Source/Application.cpp:318-335``).
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16


def salted_repartition(df: DataFrame, num_partitions: int | None = None,
                       salt_buckets: int = DEFAULT_SALT_BUCKETS) -> DataFrame:
    """Hash-repartition on (conv_id, salt) then secondary-sort the turns."""
    salt = F.pmod(F.col("turn_idx"), F.lit(salt_buckets))
    if num_partitions:
        out = df.repartition(num_partitions, F.col("conv_id"), salt)
    else:
        out = df.repartition(F.col("conv_id"), salt)
    return out.sortWithinPartitions("conv_id", "turn_idx")


def salt_buckets_for(df: DataFrame, num_partitions: int | None,
                     resumed: bool) -> int:
    """The salt a run over input ``df`` takes when none is given:
    ``DEFAULT_SALT_BUCKETS`` when ``num_partitions`` is set, when the
    run resumes over committed keys (``resumed``) or when the scan's
    splits do not bound its tasks (:func:`_splits_bound_tasks`); 0, the
    map-only plan, otherwise.  Decided on the driver: no Spark job."""
    if num_partitions or resumed or not _splits_bound_tasks(df):
        return DEFAULT_SALT_BUCKETS
    return 0


def _splits_bound_tasks(df: DataFrame) -> bool:
    """Whether ``df`` is a file scan whose every row group fits in one of
    the scan's splits.  The split size is Spark's
    ``FilePartition.maxSplitBytes`` over ``df.inputFiles()``; only files
    larger than it have their parquet footer read, and a row group's
    size is its columns' compressed bytes, the span a split's midpoint
    rule assigns whole.  False for a frame with no input files, and when
    the driver cannot stat or read one (a path it does not see)."""
    files = df.inputFiles()
    if not files:
        return False
    jspark = df.sparkSession._jsparkSession
    conf = jspark.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    min_parts = (min_parts.get() if min_parts.isDefined()
                 else jspark.leafNodeDefaultParallelism())
    try:
        sizes = {path: os.path.getsize(path)
                 for path in map(_local_path, files)}
        split = min(conf.filesMaxPartitionBytes(),
                    max(open_cost,
                        sum(s + open_cost for s in sizes.values())
                        // min_parts))
        return all(_largest_row_group(path) <= split
                   for path, size in sizes.items() if size > split)
    except (OSError, ValueError, pa.ArrowException):
        return False


def _local_path(uri: str) -> str:
    """The local path of an input file URI; ValueError for a file system
    the driver cannot stat."""
    parsed = urlparse(uri)
    if parsed.scheme not in ("", "file"):
        raise ValueError(f"not a local file: {uri}")
    return unquote(parsed.path)


def _largest_row_group(path: str) -> int:
    """Compressed bytes of the largest row group in parquet file ``path``,
    from its footer."""
    meta = pq.read_metadata(path)
    return max((sum(rg.column(c).total_compressed_size
                    for c in range(rg.num_columns))
                for rg in map(meta.row_group, range(meta.num_row_groups))),
               default=0)
