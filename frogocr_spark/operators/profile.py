"""Column profiler — the per-column health report every warehouse runs
before trusting a new 100 TB table: row count, null count, exact
distinct count, min and max, one row per column.

ONE pass over the data: all statistics are computed in a single
``.agg()``; Spark plans the k exact ``count(DISTINCT)`` aggregates via
the Expand operator (each input row is replicated k ways with a
grouping id), which is one scan + one shuffle of the expanded keys —
the standard exact-multi-distinct plan.  For key universes too large
even for that, the HLL sketch in ``operators/sketches`` is the drop-in
bounded-state replacement; this profiler is the exact tier.

The wide 1-row aggregate is then unpivoted driver-free with one
``explode`` of a k-element literal-struct array (no collect, no union
of k scans).

Determinism: min/max are computed on the NATIVE type and cast to
string only for the uniform output schema — restrict profiled columns
to integer/varchar types when hash-comparing across engines (float
string rendering differs).

Reference parity: the reference's per-run counter queries
(Source/Core/Database.cpp) are per-run, not per-column; this is the
table-stakes generalization for the curation surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """Profile ``cols``: output ``column string, n long, n_null long,
    n_distinct long, min_s string, max_s string`` — one row per column,
    one pass over the data."""
    if not cols:
        raise ValueError("cols must be non-empty")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(F.isnull(c).cast("long")).alias(f"_null_{c}"))
        aggs.append(F.countDistinct(c).alias(f"_nd_{c}"))
        aggs.append(F.min(c).cast("string").alias(f"_min_{c}"))
        aggs.append(F.max(c).cast("string").alias(f"_max_{c}"))
    wide = df.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(c).alias("column"),
                 F.col("_n").alias("n"),
                 F.col(f"_null_{c}").alias("n_null"),
                 F.col(f"_nd_{c}").alias("n_distinct"),
                 F.col(f"_min_{c}").alias("min_s"),
                 F.col(f"_max_{c}").alias("max_s"))
        for c in cols])
    return (wide.select(F.explode(rows).alias("r"))
            .select("r.column", F.col("r.n").cast("long").alias("n"),
                    F.col("r.n_null").cast("long").alias("n_null"),
                    F.col("r.n_distinct").cast("long").alias("n_distinct"),
                    "r.min_s", "r.max_s"))
