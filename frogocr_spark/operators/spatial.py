"""Grid-blocked spatial joins — the distance-self-join primitive
(points within radius r) every geo/embedding-2D workload needs, built
with the same blocking discipline as the LSH/SNM dedup family: a
candidate-generation rewrite whose output provably equals the direct
quadratic predicate.

All coordinates are INTEGERS (the caller pre-scales: fixed-point
micro-degrees, pixel coords, quantized embeddings) so every distance
is an exact int64 and the pair set can never differ across engines by
a float ulp.

Reference parity: the reference's nearest-line / closest-box matching
(SURVEY.md §2 J7/J9, Source/Core/Text.cpp argmin joins) is the
k=1 special case of this blocked distance join; this module is the
symmetric within-radius generalization a 100 TB pipeline runs for
geo-dedup or 2D-layout clustering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grid_neighbor_pairs(df: DataFrame, id_col: str, x_col: str,
                        y_col: str, radius: int) -> DataFrame:
    """All unordered pairs (a, b) with squared Euclidean distance
    ``<= radius²``, by uniform-grid blocking (cell side = ``radius``).

    Correctness of the rewrite: if ``dist² <= r²`` then |Δx| <= r and
    |Δy| <= r, so b's cell is one of the 3x3 neighborhood of a's cell
    — probing exactly those 9 cells loses nothing.  Each qualifying
    pair is emitted EXACTLY once: the probe side (a) explodes into its
    9 neighbor cells (distinct by construction), the build side (b)
    sits in its single home cell, so (a, b) meets on exactly one cell
    key; the ``id_a < id_b`` cut removes the mirrored role assignment.

    Scale shape: the probe explode is a pure map (x9), the join is an
    equi-join on the cell key — work is Σ per-cell |probe|x|build|
    over ADJACENT cells only, never the quadratic all-pairs; a
    degenerate hot cell is the LSH hot-bucket hazard class (same
    mitigation applies if a corpus concentrates).  Coordinates must be
    non-negative (integer DIV is used for the cell id; the caller
    shifts signed data first — documented, asserted cheap).

    Output: ``(id_a, id_b, dist2)`` with exact integer ``dist2``.
    """
    if radius <= 0:
        raise ValueError("radius must be a positive integer")
    r = int(radius)
    pts = df.select(F.col(id_col).cast("long").alias("_id"),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y"))
    build = pts.select(F.col("_id").alias("id_b"),
                       F.col("_x").alias("xb"), F.col("_y").alias("yb"),
                       F.expr(f"_x DIV {r}").alias("gcx"),
                       F.expr(f"_y DIV {r}").alias("gcy"))
    offsets = F.expr(
        "explode(array(-1L, 0L, 1L))")
    probe = (pts.select(F.col("_id").alias("id_a"),
                        F.col("_x").alias("xa"), F.col("_y").alias("ya"),
                        F.expr(f"_x DIV {r}").alias("pcx"),
                        F.expr(f"_y DIV {r}").alias("pcy"))
             .withColumn("dx", offsets)
             .withColumn("dy", F.expr("explode(array(-1L, 0L, 1L))"))
             .select("id_a", "xa", "ya",
                     (F.col("pcx") + F.col("dx")).alias("gcx"),
                     (F.col("pcy") + F.col("dy")).alias("gcy")))
    dd = ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
          + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
    return (probe.join(build, ["gcx", "gcy"])
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("dist2", dd)
            .where(F.col("dist2") <= r * r)
            .select("id_a", "id_b", F.col("dist2").cast("long")
                    .alias("dist2")))
