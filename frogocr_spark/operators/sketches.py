"""Distributed cardinality sketches — a deterministic, engine-portable
HyperLogLog.

Why not ``approx_count_distinct``: Spark's built-in is HLL++ with an
engine-private hash — correct, but unverifiable against any other
engine.  This module builds the classic Flajolet HLL from ``md5`` so
any engine (or a pure-Python twin) recomputes the sketch BIT-FOR-BIT:
same hash, same register values, same estimate.  That turns the usual
"approximate ≈ exact within ε" smoke test into an exact value check,
while keeping the genuine distributed-sketch shape:

- map side: hash → (bucket, rho) is a pure column expression;
- the register table is ``max(rho)`` per (group, bucket) — an
  associative/commutative monoid, so partial aggregation combines
  map-side and the shuffle carries at most ``m`` rows per group no
  matter how many input rows (the whole point of a sketch at 100 TB);
- merge of two sketches = element-wise register max (union semantics),
  which is exactly what the partial aggregation performs.

Determinism details (the cross-engine contract):

- hash = first 15 hex chars of ``md5(key)`` → a 60-bit non-negative
  int64 (same construction as the minhash/simhash operators here);
- bucket = top ``p`` bits, rho = leading-zero count of the remaining
  ``60 - p`` bits + 1, computed EXACTLY via the binary-string length
  (``bin()`` prints no leading zeros in either engine) — no ``log2``
  float call whose last ulp could differ between libms;
- the register sum ``Σ 2^-reg`` is kept as an INTEGER, scaled by
  ``2^(60-p+1)``: each term is ``1 << (maxrho - reg)`` and empty
  registers contribute ``1 << maxrho``; with p ≥ 6 the total stays
  far below 2^63, and integer addition is order-independent — no
  float-summation ambiguity across partitionings or engines;
- the estimate ``alpha_m · m² / Σ 2^-reg`` is then ONE float division
  of two exactly-agreed numbers (the alpha constant is embedded as a
  Python ``repr`` literal both sides parse to the same double).

The raw (no small/large-range correction) estimator is the verified
column; the standard linear-counting small-range correction uses
``ln`` (libm-dependent last ulp) so it is exposed separately and
accuracy-tested in pytest rather than hash-compared.

Reference parity: the reference keeps exact per-run counters
(Source/Core/Database.cpp task-count queries); at 10^12 rows exact
COUNT(DISTINCT) per group is a full shuffle of the key universe —
this sketch is the scale path a 100 TB pipeline actually uses.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HASH_BITS = 60  # 15 md5 hex chars — fits int64, matches dedup/minhash


def _alpha(m: int) -> float:
    """The standard HLL bias constant for m ≥ 128."""
    return 0.7213 / (1.0 + 1.079 / m)


def hll_constants(p: int) -> dict:
    """The derived constants for precision ``p`` — exposed so SQL text
    can embed the IDENTICAL literals (``repr`` round-trips the double
    exactly in both parsers)."""
    if not 6 <= p <= 16:
        raise ValueError(f"p must be in [6, 16], got {p}")
    m = 1 << p
    w = HASH_BITS - p          # width of the rho field
    maxrho = w + 1             # rho when the field is all zeros
    return {
        "m": m,
        "w": w,
        "maxrho": maxrho,
        "rem_mask": (1 << w) - 1,
        "empty_term": 1 << maxrho,          # scaled 2^-0 per empty register
        # alpha_m * m^2 * 2^maxrho — numerator of the one-division estimate
        "est_num": _alpha(m) * m * m * float(1 << maxrho),
    }


def hll_registers(df: DataFrame, group_cols: list[str], key_col: str,
                  p: int = 8) -> DataFrame:
    """The register table: one row per (group, bucket) seen, with the
    max-rho register value.  This IS the sketch — mergeable by further
    ``max`` — and the only shuffled relation (≤ m rows per group)."""
    c = hll_constants(p)
    h = (F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15),
                16, 10).cast("long"))
    bucket = F.shiftright(h, c["w"])
    rem = h.bitwiseAND(F.lit(c["rem_mask"]))
    # leading zeros of the w-bit field, exactly: bin() prints no leading
    # zeros, so rho = w - bitlength(rem) + 1; rem == 0 → maxrho
    rho = (F.when(rem == 0, F.lit(c["maxrho"]))
           .otherwise(F.lit(c["w"]) + 1 - F.length(F.bin(rem))))
    return (df.select(*group_cols, bucket.alias("bucket"),
                      rho.alias("rho"))
            .groupBy(*group_cols, "bucket")
            .agg(F.max("rho").alias("reg")))


def hll_merge_registers(regs: DataFrame,
                        group_cols: list[str]) -> DataFrame:
    """Union-merge register tables: element-wise max per (group,
    bucket).  max is idempotent/commutative/associative, so merging is
    safe under ANY delivery semantics — replayed or duplicated register
    rows cannot change the result."""
    return (regs.groupBy(*group_cols, "bucket")
            .agg(F.max("reg").alias("reg")))


def hll_estimate_from_registers(regs: DataFrame, group_cols: list[str],
                                p: int = 8) -> DataFrame:
    """The estimate finish over an (already-merged) register table —
    shared by the batch estimator and the union/intersection estimate."""
    c = hll_constants(p)
    # column-valued shift amount → SQL expr (the PySpark shiftleft
    # wrapper only takes a literal bit count)
    term = F.expr(f"shiftleft(cast(1 as bigint), "
                  f"cast({c['maxrho']} - reg as int))")
    agg = (regs.groupBy(*group_cols)
           .agg(F.sum(term).alias("_hit_sum"),
                F.count(F.lit(1)).alias("_n_hit")))
    reg_sum = (F.col("_hit_sum")
               + (F.lit(c["m"]) - F.col("_n_hit"))
               * F.lit(c["empty_term"]))
    return agg.select(
        *group_cols,
        (F.lit(c["m"]) - F.col("_n_hit")).cast("int")
        .alias("n_zero_regs"),
        reg_sum.cast("long").alias("reg_sum_scaled"),
        F.round(F.lit(c["est_num"]) / reg_sum.cast("double"), 3)
        .alias("hll_est"))


def hll_estimate(df: DataFrame, group_cols: list[str], key_col: str,
                 p: int = 8) -> DataFrame:
    """Per-group HLL cardinality estimate.

    Output: ``group_cols…, n_zero_regs int, reg_sum_scaled long,
    hll_est double`` (raw estimator, rounded to 3 dp).  Every column is
    exactly reproducible in any engine with md5 + integer ops."""
    regs = hll_registers(df, group_cols, key_col, p)
    return hll_estimate_from_registers(regs, group_cols, p)


def hll_estimate_corrected(df: DataFrame, group_cols: list[str],
                           key_col: str, p: int = 8) -> DataFrame:
    """Raw estimate + the standard linear-counting small-range
    correction (``m·ln(m/V)`` when raw ≤ 2.5·m and V > 0).  The
    correction uses ``ln`` — accuracy-tested in pytest, NOT part of the
    hash contract (libm last-ulp differences)."""
    c = hll_constants(p)
    est = hll_estimate(df, group_cols, key_col, p)
    raw = F.lit(c["est_num"]) / F.col("reg_sum_scaled").cast("double")
    lc = F.lit(float(c["m"])) * F.log(
        F.lit(float(c["m"])) / F.col("n_zero_regs").cast("double"))
    corrected = (F.when((raw <= 2.5 * c["m"]) & (F.col("n_zero_regs") > 0),
                        lc).otherwise(raw))
    return est.withColumn("hll_est_corrected", F.round(corrected, 3))


def hll_relative_error(p: int) -> float:
    """The theoretical standard error 1.04/sqrt(m) — pytest bound."""
    return 1.04 / math.sqrt(float(1 << p))


# ---------------------------------------------------------------------------
# Count-min sketch — the frequency-estimation sibling of the HLL above.
# Same determinism contract: every hash is md5-derived, every counter is
# an exact integer sum, so any engine recomputes the sketch (and every
# estimate read from it) bit-for-bit.
#
# Scale shape (the reason a 100 TB pipeline uses this instead of a full
# token->count table): the sketch is d*w int64 cells REGARDLESS of the
# key universe.  Building it is one keyed aggregation whose shuffle
# carries at most d*w rows per map task (map-side combine collapses the
# corpus); probing it is a join against a relation small enough to
# broadcast BY CONSTRUCTION.  CMS guarantees est >= true count (only
# over-estimates, from hash collisions), with error < eps*N at
# probability 1-delta for w = ceil(e/eps), d = ceil(ln(1/delta)).
# Reference keeps exact per-key counters (Source/Core/Database.cpp task
# counts); this is the bounded-state analog for unbounded key spaces.
# ---------------------------------------------------------------------------


def _cms_col(key: "F.Column", row: int, w: int) -> "F.Column":
    """Cell column for hash row ``row``: md5('<row>:'||key) -> 60-bit
    int64 -> % w.  Portable: ('0x'||substr(md5(...),1,15))::BIGINT % w."""
    h = (F.conv(F.substring(F.md5(F.concat(F.lit(f"{row}:"), key)), 1, 15),
                16, 10).cast("long"))
    return (h % w).alias(f"c{row}")


def cms_build(df: DataFrame, key_col: str, d: int = 4,
              w: int = 512) -> DataFrame:
    """Build the sketch: one row per touched (row, col) cell with the
    exact integer count of keys hashing there.  Output: ``row int,
    col long, cnt long`` — at most d*w rows total."""
    if d < 1 or w < 2:
        raise ValueError(f"need d >= 1 and w >= 2, got d={d}, w={w}")
    key = F.col(key_col).cast("string")
    cells = F.array(*[_cms_col(key, i, w) for i in range(d)])
    return (df.select(F.posexplode(cells).alias("row", "col"))
            .groupBy("row", "col")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_estimate(sketch: DataFrame, keys: DataFrame, key_col: str,
                 d: int = 4, w: int = 512) -> DataFrame:
    """Point-query the sketch for every row of ``keys``: the CMS
    estimate is min over the d cells (missing cell -> 0).  The sketch
    side is <= d*w rows — broadcast it so the key side never shuffles."""
    from pyspark.sql.functions import broadcast
    key = F.col(key_col).cast("string")
    cells = F.array(*[_cms_col(key, i, w) for i in range(d)])
    probe = keys.select(key_col,
                        F.posexplode(cells).alias("row", "col"))
    joined = probe.join(broadcast(sketch), ["row", "col"], "left")
    return (joined.groupBy(key_col)
            .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
                 .alias("cms_est")))


def cms_heavy_hitters(df: DataFrame, key_col: str, threshold: int,
                      d: int = 4, w: int = 512) -> DataFrame:
    """Keys whose CMS estimate reaches ``threshold``, with the exact
    count alongside (est >= true always; rows where true < threshold <=
    est are the sketch's documented false positives).  Output:
    ``<key_col>, cms_est long, n_true long``."""
    sketch = cms_build(df, key_col, d, w)
    exact = df.groupBy(key_col).agg(F.count(F.lit(1)).alias("n_true"))
    est = cms_estimate(sketch, exact.select(key_col), key_col, d, w)
    return (est.filter(F.col("cms_est") >= threshold)
            .join(exact, key_col)
            .select(key_col, F.col("cms_est").cast("long"),
                    F.col("n_true").cast("long")))


def hll_union_intersect(df_a: DataFrame, df_b: DataFrame, key_col: str,
                        p: int = 8) -> DataFrame:
    """HLL SET ALGEBRA — the sketch property exact distinct counting
    doesn't have: |A|, |B|, |A∪B| from register max-merge (lossless for
    HLL), and |A∩B| by inclusion–exclusion over the three estimates.
    All register sums are exact integers (the deterministic md5 sketch
    — any engine reproduces them bit-for-bit); the three raw estimates
    and the derived intersection are fixed IEEE expression trees over
    those integers.

    Scale shape: each side collapses to ≤ m register rows (one
    map-side-combined agg per side — the key universes are never
    shuffled); the union merge runs on 2m rows.  Output: ONE row —
    ``reg_sum_a, reg_sum_b, reg_sum_union (long), est_a, est_b,
    est_union, est_intersect (double, 3 dp)``."""
    c = hll_constants(p)
    ra = hll_registers(df_a.select(F.lit(1).alias("_g"), key_col),
                       ["_g"], key_col, p)
    rb = hll_registers(df_b.select(F.lit(1).alias("_g"), key_col),
                       ["_g"], key_col, p)
    ru = hll_merge_registers(ra.unionAll(rb), ["_g"])

    def finish(regs, tag):
        return (hll_estimate_from_registers(regs, ["_g"], p)
                .select(F.col("reg_sum_scaled").alias(f"reg_sum_{tag}"),
                        F.col("hll_est").alias(f"est_{tag}")))

    out = (finish(ra, "a").crossJoin(finish(rb, "b"))
           .crossJoin(finish(ru, "union")))
    return out.select(
        "reg_sum_a", "reg_sum_b", "reg_sum_union",
        "est_a", "est_b", "est_union",
        F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 3)
        .alias("est_intersect"))


# --------------------------------------------------------------------
# KMV / theta sketch — the ORDER-STATISTIC cardinality sketch beside
# the HLL register sketch above, and the one that gives cheap exact
# SET-OPERATION estimates (theta-sketch intersection; Dasgupta et al.
# 2016).  Same determinism contract: 60-bit md5 hashes, integer-only
# arithmetic, one truncating wide division per estimate — any engine
# recomputes the sketch and every estimate bit-for-bit.
# --------------------------------------------------------------------

KMV_M = 1 << 60  # hash domain size (60-bit md5 prefix)


def _h60(key) -> "F.Column":
    return (F.conv(F.substring(F.md5(key.cast("string")), 1, 15),
                   16, 10).cast("long"))


def kmv_sketch(df: DataFrame, group_cols: list[str], key_col: str,
               k: int = 256) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest DISTINCT 60-bit md5
    hashes of ``key_col``, sorted ascending, plus ``theta`` (the k-th
    smallest when the sketch is full, else the full domain ``KMV_M``)
    and ``kept`` (the retained hashes strictly below theta — the
    theta-sketch sample).

    Scale shape: hash dedup is ONE (group, hash)-keyed dedup; the
    k-smallest cut is the two-level partial top-k used by
    ``inverted_index``/``stratified_sample`` (local smallest-k per
    input partition, then global smallest-k over ≤ k·P survivors — a
    degenerate group never sorts in one task); the final array is ≤ k
    values per group.  Output: (group..., kept array<long>, theta,
    n_kept)."""
    from pyspark.sql import Window
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    hashed = (df.select(*group_cols,
                        _h60(F.col(key_col)).alias("h"))
              .dropDuplicates([*group_cols, "h"]))
    w_local = Window.partitionBy("_pid", *group_cols).orderBy("h")
    pruned = (hashed.withColumn("_pid", F.spark_partition_id())
              .withColumn("_rn", F.row_number().over(w_local))
              .where(F.col("_rn") <= k).drop("_pid", "_rn"))
    w = Window.partitionBy(*group_cols).orderBy("h")
    top = (pruned.withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") <= k).drop("_rn"))
    arr = (top.groupBy(*group_cols)
           .agg(F.sort_array(F.collect_list("h")).alias("mins")))
    return (arr
            .withColumn("theta",
                        F.when(F.size("mins") < k, F.lit(KMV_M))
                        .otherwise(F.element_at("mins", k)))
            .withColumn("kept", F.expr("filter(mins, x -> x < theta)"))
            .withColumn("n_kept", F.size("kept").cast("long"))
            .drop("mins"))


def kmv_estimate(sketch: DataFrame) -> DataFrame:
    """Append ``est``: the theta estimator ``n_kept · M DIV theta`` —
    EXACT when the sketch never filled (theta = M), the standard
    (k−1)·M/h_k KMV estimate when it did.  Wide product in
    DECIMAL(38,0); one truncating division, identical in any engine."""
    return sketch.withColumn(
        "est",
        F.expr(f"CAST((CAST(n_kept AS DECIMAL(38,0)) * {KMV_M}) "
               f"DIV CAST(theta AS DECIMAL(38,0)) AS BIGINT)"))


def kmv_union_intersect(df_a: DataFrame, df_b: DataFrame,
                        key_col: str, k: int = 256) -> DataFrame:
    """Theta-sketch set algebra over two keyed relations: estimated
    |A|, |B|, |A ∪ B| and |A ∩ B| from two KMV sketches — the
    intersection HLL register-merge cannot give directly (hll_setops
    uses inclusion-exclusion; the theta sample intersects EXPLICITLY,
    which stays accurate when the overlap is small relative to the
    union — the audit case that inclusion-exclusion gets worst).

    theta* = min(theta_A, theta_B); each retained set is re-cut to
    theta*; union = distinct merged survivors, intersection = common
    survivors; every estimate is ``cnt · M DIV theta*``.  Everything
    after the two sketch builds is array arithmetic on ONE 1×1 joined
    row.  Output: (est_a, est_b, est_union, est_intersect, theta)."""
    sk_a = kmv_sketch(df_a, [], key_col, k).select(
        F.col("kept").alias("ka"), F.col("theta").alias("ta"))
    sk_b = kmv_sketch(df_b, [], key_col, k).select(
        F.col("kept").alias("kb"), F.col("theta").alias("tb"))
    both = sk_a.crossJoin(sk_b).withColumn(
        "theta", F.least("ta", "tb"))
    cut = lambda c: F.expr(f"filter({c}, x -> x < theta)")  # noqa: E731
    est = (lambda cnt:
           F.expr(f"CAST((CAST({cnt} AS DECIMAL(38,0)) * {KMV_M}) "
                  f"DIV CAST(theta AS DECIMAL(38,0)) AS BIGINT)"))
    return (both
            .withColumn("ca", cut("ka")).withColumn("cb", cut("kb"))
            .withColumn("_na", F.size("ca"))
            .withColumn("_nb", F.size("cb"))
            .withColumn("_nu", F.size(F.array_union("ca", "cb")))
            .withColumn("_ni", F.size(F.array_intersect("ca", "cb")))
            .select(est("_na").alias("est_a"),
                    est("_nb").alias("est_b"),
                    est("_nu").alias("est_union"),
                    est("_ni").alias("est_intersect"),
                    F.col("theta").cast("long").alias("theta")))


def kmv_overlap_matrix(df: DataFrame, group_col: str, key_col: str,
                       k: int = 256) -> DataFrame:
    """Pairwise set-overlap matrix from per-group KMV sketches — the
    cross-source contamination audit: estimated |A∩B|, |A∪B| and
    Jaccard for EVERY unordered group pair, from one grouped sketch
    build (the grouped generalization of the two-set
    :func:`kmv_union_intersect`; identical theta-cut estimator per
    pair, so the two cannot drift on the math).

    Scale shape: the corpus collapses to ≤ k hashes per group (the
    audited two-level partial top-k of :func:`kmv_sketch`); the
    pairwise stage is a broadcast theta-join over the G SKETCH ROWS —
    G(G−1)/2 pairs of ≤ k-element arrays, never corpus rows (G =
    #groups; the matrix output is itself quadratic in G, so a caller
    with unbounded G wants the LSH dedup tier instead — documented
    contract, same as semdedup's cluster bound).  Integer-exact:
    60-bit md5 hashes, one truncating wide division per estimate,
    ``jaccard_e6 = ni·10^6 DIV nu``.  Output: ``(grp_a, grp_b, est_a,
    est_b, est_union, est_intersect, jaccard_e6, theta)``."""
    sk = kmv_sketch(df, [group_col], key_col, k)
    a = sk.select(F.col(group_col).alias("grp_a"),
                  F.col("kept").alias("ka"), F.col("theta").alias("ta"))
    b = sk.select(F.col(group_col).alias("grp_b"),
                  F.col("kept").alias("kb"), F.col("theta").alias("tb"))
    both = (a.join(F.broadcast(b), F.col("grp_a") < F.col("grp_b"))
            .withColumn("theta", F.least("ta", "tb")))
    cut = lambda c: F.expr(f"filter({c}, x -> x < theta)")  # noqa: E731
    est = (lambda cnt:
           F.expr(f"CAST((CAST({cnt} AS DECIMAL(38,0)) * {KMV_M}) "
                  f"DIV CAST(theta AS DECIMAL(38,0)) AS BIGINT)"))
    return (both
            .withColumn("ca", cut("ka")).withColumn("cb", cut("kb"))
            .withColumn("_na", F.size("ca"))
            .withColumn("_nb", F.size("cb"))
            .withColumn("_nu", F.size(F.array_union("ca", "cb")))
            .withColumn("_ni", F.size(F.array_intersect("ca", "cb")))
            .select("grp_a", "grp_b",
                    est("_na").alias("est_a"),
                    est("_nb").alias("est_b"),
                    est("_nu").alias("est_union"),
                    est("_ni").alias("est_intersect"),
                    F.expr("CAST((CAST(_ni AS DECIMAL(38,0)) * 1000000)"
                           " DIV CAST(_nu AS DECIMAL(38,0)) AS BIGINT)")
                    .alias("jaccard_e6"),
                    F.col("theta").cast("long").alias("theta")))


# ------------------------------------------------------------------ AMS
# Third member of the sketch family: CMS estimates COUNTS, HLL/KMV
# estimate DISTINCTS, the AMS/tug-of-war sketch (Alon, Matias & Szegedy
# 1996) estimates the SECOND FREQUENCY MOMENT F2 = Σ f(k)² — the
# self-join size / skew indicator a planner wants before shuffling a
# key.  Deterministic md5 ±1 signs make every cell an exact integer
# both engines reproduce bit-for-bit.

def ams_f2_sketch(df: DataFrame, key_col: str,
                  reps: int = 16) -> DataFrame:
    """AMS tug-of-war sketch: for each repetition r, the cell
    ``z_r = Σ_rows sign_r(key)`` with ``sign_r(key) = ±1`` from bit r's
    md5 parity — ``E[z_r²] = F2`` exactly.  One row per repetition.

    Scale shape: ONE map-side-combined aggregation; state is ``reps``
    longs per partition REGARDLESS of the key universe (the CMS
    argument for moments).  The rep fan-out is an explode of a
    ``reps``-element literal array — x reps map cost, no shuffle
    widening (the shuffle carries reps longs per partition).
    Output: ``(rep, z)``."""
    if not (1 <= reps <= 64):
        raise ValueError("reps must be in [1, 64]")
    k = F.col(key_col).cast("string")
    pairs = df.select(
        F.explode(F.array(*[
            F.struct(F.lit(r).alias("rep"),
                     F.when(
                         F.conv(F.substring(
                             F.md5(F.concat(F.lit(f"ams:{r}:"), k)),
                             1, 15), 16, 10).cast("long") % 2 == 0,
                         1).otherwise(-1).alias("sgn"))
            for r in range(reps)])).alias("p"))
    return (pairs.groupBy(F.col("p.rep").alias("rep"))
            .agg(F.sum("p.sgn").alias("z"))
            .select(F.col("rep").cast("int").alias("rep"),
                    F.col("z").cast("long").alias("z")))


def ams_f2_estimate(df: DataFrame, key_col: str,
                    reps: int = 16) -> DataFrame:
    """F2 estimate next to the EXACT truth: mean of z² across
    repetitions (truncating DIV — engine-exact) vs the exact
    ``F2 = Σ f(k)²`` computed by one keyed count (for the contract
    check; at 100 TB only the sketch side runs).  Output: one row
    ``(f2_est, f2_exact, reps)``."""
    zs = ams_f2_sketch(df, key_col, reps)
    est = zs.groupBy().agg(
        F.expr("sum(z * z) DIV count(*)").alias("f2_est"))
    exact = (df.groupBy(F.col(key_col).alias("k"))
             .agg(F.count(F.lit(1)).alias("f"))
             .groupBy().agg(F.sum(F.col("f") * F.col("f"))
                            .alias("f2_exact")))
    return (est.crossJoin(F.broadcast(exact))
            .select(F.col("f2_est").cast("long").alias("f2_est"),
                    F.col("f2_exact").cast("long").alias("f2_exact"),
                    F.lit(int(reps)).cast("int").alias("reps")))


def cms_join_size(a: DataFrame, b: DataFrame, key_col: str,
                  d: int = 4, w: int = 512) -> DataFrame:
    """Join-cardinality estimation audit — the optimizer-statistics
    question behind every join reorder / broadcast decision at 100 TB:
    estimate |A ⋈_key B| from two count-min sketches and report it
    against the exact size.

    - exact |A ⋈ B| = Σ_k c_A(k)·c_B(k) — ONE keyed count agg per side
      + one equi-join of the (distinct-key-bounded) count tables;
    - estimate = min over the d hash rows of the row inner product
      Σ_col cntA[r][col]·cntB[r][col] (the classic CMS/AMS join-size
      estimator; collisions only ADD mass, so est ≥ exact always —
      the report's ``over_e6`` is the relative overestimate).

    Scale shape: each sketch is ≤ d·w cells regardless of input size;
    the estimate is a ≤ d·w-row join + a d-row min.  A hash row whose
    cells never collide with the other side contributes inner product
    0 — the d-row spine join keeps it (dropping it would silently
    raise the min).  Output: one row ``(n_a, n_b, exact_size,
    est_size, over_e6)``; ``over_e6`` NULL when the exact size is 0.
    """
    sa = cms_build(a, key_col, d, w).select(
        "row", "col", F.col("cnt").alias("ca"))
    sb = cms_build(b, key_col, d, w).select(
        "row", "col", F.col("cnt").alias("cb"))
    spark = a.sparkSession
    spine = spark.createDataFrame([(i,) for i in range(d)], "row int")
    ip = (sa.join(sb, ["row", "col"])
          .groupBy("row")
          .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip")))
    est = (spine.join(ip, "row", "left")
           .agg(F.min(F.coalesce("ip", F.lit(0))).cast("long")
                .alias("est_size")))
    key = F.col(key_col).cast("string").alias("k")
    ea = a.select(key).groupBy("k").agg(F.count(F.lit(1)).alias("na"))
    eb = b.select(key).groupBy("k").agg(F.count(F.lit(1)).alias("nb"))
    exact = (ea.join(eb, "k")
             .agg(F.coalesce(F.sum(F.col("na") * F.col("nb")),
                             F.lit(0)).cast("long").alias("exact_size")))
    na = a.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    return (na.crossJoin(nb).crossJoin(exact).crossJoin(est)
            .select("n_a", "n_b", "exact_size", "est_size",
                    F.when(F.col("exact_size") > 0, F.expr(
                        "((est_size - exact_size) "
                        "* CAST(1000000 AS BIGINT)) DIV exact_size"))
                    .cast("long").alias("over_e6")))
