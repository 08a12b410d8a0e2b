"""conv_id-salted repartition + secondary sort (SURVEY §4 custom piece a).

Extraction is a pure per-row map, so correctness never depends on
partitioning — ordering comes from the ``(conv_id, turn_idx)`` data keys,
never from partition iteration order (SURVEY §7 hard part 2).  But at
10^12 turns a hash-repartition on ``conv_id`` alone would put a
10^4-turn conversation (the long-agent-session skew case) into one task.
Salting on ``pmod(turn_idx, salt_buckets)`` splits hot conversations
across ``salt_buckets`` tasks while keeping small conversations one-task;
``sortWithinPartitions(conv_id, turn_idx)`` then restores stable turn
order inside every task so Arrow batches see contiguous turns (locality
for downstream per-conv ops + deterministic batch content).

The reference has no cross-task shuffle at all (FIFO thread dispatch —
``Source/Application.cpp:318-335``); this module is the Spark-native
replacement for that scheduler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 16


def salted_repartition(df: DataFrame, num_partitions: int | None = None,
                       salt_buckets: int = DEFAULT_SALT_BUCKETS,
                       conv_col: str = "conv_id",
                       turn_col: str = "turn_idx") -> DataFrame:
    """Hash-repartition on (conv_id, salt) then secondary-sort the turns."""
    salt = F.pmod(F.col(turn_col), F.lit(salt_buckets))
    if num_partitions:
        out = df.repartition(num_partitions, F.col(conv_col), salt)
    else:
        out = df.repartition(F.col(conv_col), salt)
    return out.sortWithinPartitions(conv_col, turn_col)


def salted_equi_join(fact: DataFrame, dim: DataFrame, key: str,
                     salt_buckets: int = 8, *, fact_salt_col: str,
                     how: str = "inner") -> DataFrame:
    """Skew-salted equi-join: spread a hot join key's fact rows over
    ``salt_buckets`` tasks by joining on ``(key, salt)`` with the dim
    side REPLICATED once per salt value — the standard hand-salting
    remedy when the key cardinality is below the task count or one key
    dominates (the hazard class AQE's byte-based skew split cannot
    always see; cf. the LSH hot-bucket analysis in tests/test_plans.py).

    The salt is DETERMINISTIC — ``pmod(xxhash64(fact_salt_col), B)``
    over a fact-side column (use a unique id) — never ``rand()``, so
    retried/recomputed tasks salt identically (a rand() salt breaks
    exactly-once under task retry).  The dim side explodes a literal
    0..B-1 sequence (B× replication of the SMALL side only).  A
    ``shuffle_hash`` hint pins the non-broadcast path: with a broadcast
    dim the salt would be a no-op; the hint makes the salted shuffle
    the demonstrated plan at any dim size.

    Semantics: exactly an equi-join on ``key`` (every fact row meets
    every matching dim row exactly once — it carries one salt value and
    the dim has exactly one replica per salt).  Output: the plain-join
    columns (salt dropped)."""
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    fact_s = fact.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(fact_salt_col)),
               F.lit(salt_buckets)).cast("int"))
    dim_s = dim.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
    return (fact_s.join(dim_s.hint("shuffle_hash"),
                        [key, "_salt"], how)
            .drop("_salt"))


def skew_report(df: DataFrame, key_col: str,
                top_k: int = 10) -> DataFrame:
    """Key-distribution skew diagnosis for a prospective join/agg key —
    the measurement that DECIDES between a plain join,
    :func:`salted_equi_join`, and a broadcast: top-``top_k`` heavy keys
    plus exact integer Gini ingredients of the whole key distribution.

    Gini numerator over counts sorted ascending (rank i of n keys):
    ``G_num = Σ (2i − n − 1)·c_i`` with ``G = G_num / (n · total)`` —
    all-integer, order-pinned by (count, key), no float summation.

    Scale shape: one map-side-combined key count; the rank comes from
    the range-partitioned :func:`~frogocr_spark.operators.ranking.
    global_rank` (no single-partition window at any key cardinality);
    the heavy-key cut is TakeOrderedAndProject; the 1-row Gini/total
    aggregate cross-joins (broadcast) onto the ``top_k`` rows.  EAGER
    at plan-construction (global_rank).  Output: ``rank, key, cnt,
    n_keys, n_rows, gini_num`` — one row per heavy key."""
    from frogocr_spark.operators.ranking import global_rank

    counts = (df.select(F.col(key_col).alias("key"))
              .groupBy("key").agg(F.count(F.lit(1)).alias("cnt")))
    ranked = global_rank(counts, ["cnt", "key"], "_i")
    # Σ(2i − n − 1)·c = 2Σ(i·c) − (n+1)·Σc — one map-side-combined agg,
    # the (n+1) term folded in afterwards (no global window anywhere)
    summary = (ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(2 * F.col("_i") * F.col("cnt")).cast("long").alias("_s2ic"))
        .select("n_keys", "n_rows",
                (F.col("_s2ic") - (F.col("n_keys") + 1)
                 * F.col("n_rows")).alias("gini_num")))
    # heavy keys: TakeOrdered cut first, the rank stamped on the
    # top_k survivors only (a window over top_k rows, not the universe)
    from pyspark.sql import Window
    heavy = (counts.orderBy(F.desc("cnt"), F.asc("key")).limit(top_k)
             .withColumn("rank", F.row_number().over(
                 Window.orderBy(F.desc("cnt"), F.asc("key"))))
             .select("rank", "key", F.col("cnt").cast("long")
                     .alias("cnt")))
    return heavy.crossJoin(F.broadcast(summary))
