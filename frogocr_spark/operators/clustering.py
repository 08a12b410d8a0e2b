"""Integer-exact distributed k-means (Lloyd's algorithm) — the
clustering primitive of the embedding-curation pipeline (IVF coarse
quantizers, SemDeDup cluster structure, dataset cartography), expressed
so that every iteration is ENGINE-EXACT — an ANSI-SQL engine re-runs
the identical chain bit-for-bit:

- components quantize to integer ten-thousandths (``round(v·10⁴)`` —
  one float→double cast and one correctly-rounded multiply both engines
  agree on), so squared L2 distances are exact int64 sums;
- seeds are the ``k`` vectors with the smallest ``md5(id)`` — the
  repo's standard seedless, engine-portable pick (no RNG; same as
  SemDeDup/PQ seeding in :mod:`~frogocr_spark.operators.similarity`);
- assignment = argmin of the EXACT integer distance, ties → smaller
  cluster index;
- centroid update = element-wise ``floor(sum / count)`` — floor
  division of exact integers (portable: with |sum| < 2⁵³ the
  double-division floor equals the exact rational floor in every IEEE
  engine); an emptied cluster keeps its previous centroid.

Scale shape per iteration: the assignment is a PURE MAP stage (the
k×dim centroid matrix ships as literals — the corpus is never joined
or shuffled for its labels, the SemDeDup assignment argument), and the
update is ONE map-side-combined (cluster, position) aggregation whose
shuffle is bounded by k·dim rows, collected to the driver (k·dim
ints — bounded and documented-eager, the same contract as
``pq_fit``/``bpe_train``).  The corpus-side quantization is
localCheckpointed once so iterations re-scan columnar cached data, not
the lineage.

Reference parity: the reference has no clustering; this is part of the
training-data-pipeline surface the brief adds (SURVEY.md §2 extension,
same family as similarity/IVF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _quantize(vec_col: str, scale: int) -> "F.Column":
    return F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * scale, 0).cast("long"))


def _dist(q: "F.Column", centroid: list[int]) -> "F.Column":
    c = F.array(*[F.lit(int(x)).cast("long") for x in centroid])
    return F.aggregate(
        F.zip_with(q, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def _best(q: "F.Column", centroids: list[list[int]]) -> "F.Column":
    """struct(d, j) of the argmin centroid — least() over (dist, index)
    structs implements 'smallest distance, ties to smaller index'."""
    cands = [F.struct(_dist(q, c).alias("d"),
                      F.lit(j).cast("long").alias("j"))
             for j, c in enumerate(centroids)]
    return cands[0] if len(cands) == 1 else F.least(*cands)


def _prep(corpus: DataFrame, id_col: str, vec_col: str,
          scale: int) -> DataFrame:
    """Quantized (_id, q) corpus, checkpointed once so every Lloyd
    round re-scans columnar cached data, not the lineage."""
    return (corpus.select(F.col(id_col).alias("_id"),
                          _quantize(vec_col, scale).alias("q"))
            .localCheckpoint(eager=True))


def _lloyd(q: DataFrame, k: int, iters: int) -> list[list[int]]:
    """The seed pick + ``iters`` Lloyd rounds of :func:`kmeans_int`,
    returning the final integer centroids (shared by the silhouette
    and agreement audits so every consumer runs the IDENTICAL
    engine-exact chain)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    seeds = (q.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
             .limit(k).collect())
    if len(seeds) < k:
        raise ValueError(f"corpus has {len(seeds)} rows < k={k}")
    centroids = [[int(x) for x in row["q"]] for row in seeds]
    for _ in range(iters):
        assigned = q.withColumn("_j", _best(F.col("q"), centroids)["j"])
        stats = (assigned
                 .select("_j", F.posexplode("q").alias("_i", "_v"))
                 .groupBy("_j", "_i")
                 .agg(F.sum("_v").alias("_s"),
                      F.count(F.lit(1)).alias("_n"))
                 .collect())
        by_j: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_j.setdefault(int(r["_j"]), {})[int(r["_i"])] = (
                int(r["_s"]), int(r["_n"]))
        centroids = [
            [by_j[j][i][0] // by_j[j][i][1]          # Python // floors,
             for i in range(len(centroids[j]))]      # matching the
            if j in by_j else centroids[j]           # SQL floor()
            for j in range(k)]
    return centroids


def kmeans_int(corpus: DataFrame, k: int = 4, iters: int = 3, *,
               id_col: str = "vec_id", vec_col: str = "embedding",
               scale: int = 10_000) -> DataFrame:
    """Run ``iters`` Lloyd rounds (assign → update) then a final
    assignment against the last centroids.  EAGER: runs ~2 Spark jobs
    per round (see module docstring).  Output: one row per NON-EMPTY
    cluster — ``cluster long, n_members long, inertia long (exact Σ
    squared int distance), centroid array<long>``."""
    spark = corpus.sparkSession
    q = _prep(corpus, id_col, vec_col, scale)
    centroids = _lloyd(q, k, iters)
    best = _best(F.col("q"), centroids)
    out = (q.select(best["j"].alias("cluster"), best["d"].alias("_d"))
           .groupBy("cluster")
           .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                F.sum("_d").cast("long").alias("inertia")))
    cdf = F.broadcast(spark.createDataFrame(
        [(j, centroids[j]) for j in range(k)],
        "cluster long, centroid array<long>"))
    return out.join(cdf, "cluster").select(
        "cluster", "n_members", "inertia", "centroid")


def maxmin_coreset(corpus: DataFrame, k: int = 5, *,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   scale: int = 10_000) -> DataFrame:
    """Greedy k-center / farthest-point coreset selection (Gonzalez
    1985) — the diversity-sampling step of embedding curation (pick k
    maximally-spread exemplars; 2-approximation of the optimal
    k-center cover).  Same engine-exact discipline as
    :func:`kmeans_int`: integer ten-thousandths quantization, exact
    int64 squared-L2, smallest-md5(id) seed, argmax ties → smaller id.

    Scale shape: per round the distance-to-selected-set evaluation is
    a PURE MAP stage (the ≤ k selected vectors ship as literals — the
    corpus is never joined/shuffled) followed by one TakeOrdered(1)
    reduction.  EAGER by necessity (each pick depends on the last):
    k−1 driver round-trips of ONE row each — the
    ``kmeans_int``/``bpe_train`` bounded-driver-traffic contract.

    Output: ``(round, vec_id, dist)`` — ``dist`` is the exact integer
    squared distance from the pick to the nearest earlier-selected
    center (0 for the seed; non-increasing over rounds, the classic
    k-center radius curve)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = corpus.sparkSession
    q = (corpus.select(F.col(id_col).alias("_id"),
                       _quantize(vec_col, scale).alias("q"))
         .localCheckpoint(eager=True))
    [seed] = (q.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
              .limit(1).collect())
    picks = [(0, seed["_id"], 0)]
    sel_vecs = [[int(x) for x in seed["q"]]]
    sel_ids = [seed["_id"]]
    for r in range(1, k):
        cand = (q.where(~F.col("_id").isin(sel_ids))
                .select("_id", "q",
                        _best(F.col("q"), sel_vecs)["d"].alias("_d"))
                .orderBy(F.desc("_d"), F.asc("_id")).limit(1).collect())
        if not cand:
            break  # fewer than k distinct rows
        row = cand[0]
        picks.append((r, row["_id"], int(row["_d"])))
        sel_vecs.append([int(x) for x in row["q"]])
        sel_ids.append(row["_id"])
    id_type = corpus.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        picks, f"round long, {id_col} {id_type}, dist long")


def dbscan_grid(pts: DataFrame, eps: int, min_pts: int, *,
                id_col: str = "id", x_col: str = "x",
                y_col: str = "y") -> DataFrame:
    """DBSCAN (Ester 1996) — density clustering with noise, the
    cluster-shape-agnostic complement of :func:`kmeans_int` — composed
    entirely from audited scale pieces and made DETERMINISTIC (classic
    DBSCAN's border assignment is scan-order-dependent; here every tie
    breaks to the SMALLEST cluster id, so the result is a pure function
    of the input):

    - ε-neighbor pairs from the grid-blocked equi-join
      (:func:`~frogocr_spark.operators.spatial.grid_neighbor_pairs` —
      never the quadratic all-pairs);
    - core points: |N_ε(p)| ≥ min_pts COUNTING p itself (the textbook
      definition);
    - clusters: connected components of the core-core ε-graph via
      large-star/small-star
      (:func:`~frogocr_spark.operators.dedup.dup_clusters_star`,
      O(log n) rounds at any diameter); cluster id = min core id, an
      edge-less core is its own singleton cluster;
    - border points: non-core with ≥ 1 core ε-neighbor, assigned the
      MIN cluster id among those neighbors; everything else is noise.

    Scale shape: one blocked neighbor join + two keyed aggs + the CC
    rounds; the border resolve is one id-keyed join of the symmetric
    pair list against the core labels.  Output: ``(id, role ∈
    {core, border, noise}, cluster_id — NULL for noise)``."""
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    from frogocr_spark.operators.dedup import dup_clusters_star
    from frogocr_spark.operators.spatial import grid_neighbor_pairs
    pairs = (grid_neighbor_pairs(pts, id_col, x_col, y_col, eps)
             .select("id_a", "id_b").localCheckpoint())
    sym = pairs.unionByName(
        pairs.select(F.col("id_b").alias("id_a"),
                     F.col("id_a").alias("id_b")))
    cnt = sym.groupBy(F.col("id_a").alias("id")).agg(
        F.count(F.lit(1)).alias("n_nb"))
    ids = pts.select(F.col(id_col).cast("long").alias("id"))
    deg = (ids.join(cnt, "id", "left")
           .withColumn("n_nb", F.coalesce("n_nb", F.lit(0))))
    core = deg.where(F.col("n_nb") + 1 >= int(min_pts)).select("id")
    ce = (pairs
          .join(core.select(F.col("id").alias("id_a")), "id_a")
          .join(core.select(F.col("id").alias("id_b")), "id_b"))
    comp = dup_clusters_star(ce).select(
        F.col("doc_id").alias("id"), "cluster_id")
    core_lab = (core.join(comp, "id", "left")
                .withColumn("cluster_id",
                            F.coalesce("cluster_id", F.col("id"))))
    nb_core = (sym.join(core_lab.select(F.col("id").alias("id_b"),
                                        F.col("cluster_id")), "id_b")
               .groupBy(F.col("id_a").alias("id"))
               .agg(F.min("cluster_id").alias("_bcl")))
    return (deg.select("id")
            .join(core_lab.select("id", F.col("cluster_id")
                                  .alias("_ccl")), "id", "left")
            .join(nb_core, "id", "left")
            .select(
                "id",
                F.when(F.col("_ccl").isNotNull(), F.lit("core"))
                .when(F.col("_bcl").isNotNull(), F.lit("border"))
                .otherwise(F.lit("noise")).alias("role"),
                F.when(F.col("_ccl").isNotNull(), F.col("_ccl"))
                .otherwise(F.col("_bcl")).cast("long")
                .alias("cluster_id")))


def kmeans_silhouette(corpus: DataFrame, k: int = 4, iters: int = 3, *,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      scale: int = 10_000) -> DataFrame:
    """Simplified silhouette (centroid-based, squared-distance form) of
    the :func:`kmeans_int` clustering — the cluster-quality audit that
    decides whether a k is usable before it feeds IVF/SemDeDup: per
    point, a = exact int distance² to its OWN (argmin) centroid, b =
    distance² to the runner-up centroid, s = (b−a)·1e6 DIV b (∈
    [0, 1e6]; b ≥ a by argmin so max(a, b) = b; b = 0 → s = 0, the
    point sits ON two centroids).  The classic all-pairs silhouette is
    O(N²) — this centroid form is the one that scales, and the
    squared-distance variant keeps every step integer-exact (no sqrt
    rounding hazard between engines).  Tie rule everywhere: (d, j)
    lexicographic, identical to :func:`_best`.

    Scale shape: ONE pure-map pass (the k centroids ship as literals
    via the shared :func:`_lloyd` chain — the corpus is never joined or
    shuffled for its labels) + ONE ≤k-row keyed agg.  EAGER like
    ``kmeans_int``.  Output: ``(cluster, n_members, mean_s_e6)`` per
    non-empty cluster, mean floored (all nonneg → floor ≡ DuckDB
    ``//``)."""
    q = _prep(corpus, id_col, vec_col, scale)
    centroids = _lloyd(q, k, iters)
    cands = F.array_sort(F.array(
        *[F.struct(_dist(F.col("q"), c).alias("d"),
                   F.lit(j).cast("long").alias("j"))
          for j, c in enumerate(centroids)]))
    lab = q.select(cands[0]["j"].alias("cluster"),
                   cands[0]["d"].alias("_a"), cands[1]["d"].alias("_b"))
    s_e6 = (F.when(F.col("_b") == 0, F.lit(0).cast("long"))
            .otherwise(F.expr(
                "(( _b - _a ) * CAST(1000000 AS BIGINT)) DIV _b")))
    return (lab.select("cluster", s_e6.alias("_s"))
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                 F.expr("CAST(sum(_s) DIV count(1) AS BIGINT)")
                 .alias("mean_s_e6")))


def kmeans_agreement_ari(corpus: DataFrame, k_a: int = 4, k_b: int = 8,
                         iters: int = 3, *, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         scale: int = 10_000) -> DataFrame:
    """Adjusted Rand Index between two k-means granularities over the
    SAME corpus — the exact pair-counting agreement audit (does k_b
    refine k_a consistently, or do the partitions cut across each
    other?).  ARI = (Index − E[Index]) / (Max − E[Index]) over point
    pairs; everything is exact integer counting:

    - contingency n_ij = |cluster_i(A) ∩ cluster_j(B)|,
    - S_ij = Σ C(n_ij,2), S_a / S_b from the margins, T = C(n,2),
    - ari_e6 = trunc( 2·(T·S_ij − S_a·S_b)·1e6
                      / (T·(S_a+S_b) − 2·S_a·S_b) )

    (the classic formula multiplied through by T so no rational
    intermediate exists; numerator may be negative → TRUNCATING
    division, DuckDB ``//`` semantics; denominator ≥ 0 always, = 0 only
    when both partitions are trivial → ARI defined as 1e6).

    Scale shape: both label passes are pure map (centroids as literals
    from the shared :func:`_lloyd` chain), the contingency is ONE
    (j_a, j_b)-keyed agg bounded by k_a·k_b rows, collected to the
    driver for the exact big-int formula (C(n,2)·S terms overflow
    int64 at ~10^5 rows — Python ints are the honest arithmetic;
    bounded-driver contract as ``kmeans_int``).  Output: one row
    ``(n, s_ij, s_a, s_b, ari_e6)``."""
    from frogocr_spark.operators.similarity import _tdiv
    q = _prep(corpus, id_col, vec_col, scale)
    ca = _lloyd(q, k_a, iters)
    cb = _lloyd(q, k_b, iters)
    cont = (q.select(_best(F.col("q"), ca)["j"].alias("ja"),
                     _best(F.col("q"), cb)["j"].alias("jb"))
            .groupBy("ja", "jb").agg(F.count(F.lit(1)).alias("nij"))
            .collect())

    def c2(x: int) -> int:
        return x * (x - 1) // 2

    n = sum(int(r["nij"]) for r in cont)
    s_ij = sum(c2(int(r["nij"])) for r in cont)
    ra: dict[int, int] = {}
    rb: dict[int, int] = {}
    for r in cont:
        ra[int(r["ja"])] = ra.get(int(r["ja"]), 0) + int(r["nij"])
        rb[int(r["jb"])] = rb.get(int(r["jb"]), 0) + int(r["nij"])
    s_a = sum(c2(x) for x in ra.values())
    s_b = sum(c2(x) for x in rb.values())
    t = c2(n)
    num = 2 * (t * s_ij - s_a * s_b)
    den = t * (s_a + s_b) - 2 * s_a * s_b
    ari = 1_000_000 if den == 0 else _tdiv(num * 1_000_000, den)
    return corpus.sparkSession.createDataFrame(
        [(n, s_ij, s_a, s_b, ari)],
        "n long, s_ij long, s_a long, s_b long, ari_e6 long")
