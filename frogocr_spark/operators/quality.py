"""Declarative data-quality constraint report (the Deequ/Great-
Expectations primitive): completeness, uniqueness, range, enum-domain
and referential-integrity checks over a table, emitted as one
long-form report row per check — the validation gate a production
pipeline runs before publishing a snapshot.

Scale shape: every row-local check (not-null / positive / enum) is a
conditional sum in ONE map-side-combined aggregation over a SINGLE
scan; uniqueness rides the same pass as a count(DISTINCT); referential
integrity is one broadcast-able anti-join counted.  The report is
O(#checks) rows — nothing proportional to the data leaves the
executors.  The single wide agg row is unpivoted with the literal-
struct explode trick (operators/profile.py precedent) — no collect,
no per-check scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dq_report(df: DataFrame, *,
              not_null: list[str] | None = None,
              unique: list[str] | None = None,
              positive: list[str] | None = None,
              enum: dict[str, list[str]] | None = None,
              ref: tuple[str, DataFrame, str] | None = None) -> DataFrame:
    """Constraint report: one row per check with ``check (string),
    n_violations, n_rows``.  Checks:

    - ``not_null``: NULL entries violate.
    - ``unique``: ``n_rows - count(DISTINCT col)`` violations (NULLs
      count as one distinct value, matching SQL ``COUNT(DISTINCT)``).
    - ``positive``: entries ``<= 0`` violate (NULL does not).
    - ``enum``: entries outside the literal allowed list violate
      (NULL does not — compose with ``not_null`` for totality).
    - ``ref``: ``(col, dim, dim_col)`` — rows whose ``col`` has no
      match in ``dim.dim_col`` violate (left anti join, counted).
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    names: list[str] = []
    for c in (not_null or []):
        names.append(f"not_null:{c}")
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                    .alias(f"_v{len(names)}"))
    for c in (unique or []):
        names.append(f"unique:{c}")
        aggs.append((F.count(F.lit(1)) - F.countDistinct(F.col(c)))
                    .alias(f"_v{len(names)}"))
    for c in (positive or []):
        names.append(f"positive:{c}")
        aggs.append(F.sum(F.when(F.col(c) <= 0, 1).otherwise(0))
                    .alias(f"_v{len(names)}"))
    for c, allowed in (enum or {}).items():
        names.append(f"enum:{c}")
        aggs.append(F.sum(F.when(F.col(c).isNotNull()
                                 & ~F.col(c).isin(list(allowed)), 1)
                          .otherwise(0)).alias(f"_v{len(names)}"))
    if not names and ref is None:
        raise ValueError("dq_report: no checks requested")

    wide = df.agg(*aggs)
    entries = [F.struct(F.lit(name).alias("check"),
                        F.coalesce(F.col(f"_v{i + 1}"), F.lit(0))
                        .cast("long").alias("n_violations"))
               for i, name in enumerate(names)]
    report = None
    if entries:
        report = (wide.select(
            F.explode(F.array(*entries)).alias("e"), "_n")
            .select("e.check", "e.n_violations",
                    F.col("_n").cast("long").alias("n_rows")))
    if ref is not None:
        col, dim, dim_col = ref
        viol = (df.select(F.col(col))
                .join(dim.select(F.col(dim_col).alias(col))
                      .dropDuplicates(), col, "left_anti")
                .agg(F.count(F.lit(1)).cast("long")
                     .alias("n_violations")))
        rrow = (viol.crossJoin(wide.select(F.col("_n").cast("long")
                                           .alias("n_rows")))
                .select(F.lit(f"ref:{col}").alias("check"),
                        "n_violations", "n_rows"))
        report = rrow if report is None else report.unionByName(rrow)
    return report


def k_anonymize(df: DataFrame, qi_cols: list[str], k: int = 5
                ) -> DataFrame:
    """k-anonymity SUPPRESSION over quasi-identifier columns — the
    data-governance gate before releasing grouped data: every QI
    combination shared by fewer than ``k`` rows is suppressed (all QI
    columns masked to ``'*'``), so no released group can re-identify
    fewer than ``k`` individuals — except possibly the single merged
    ``'*'`` residual group, which the caller checks (standard
    suppression caveat, surfaced by the output itself).

    Returns the released GROUP PROFILE (one row per post-suppression QI
    combination with its count), not the row-level table — the shape a
    release audit inspects.

    Scale shape: one map-side-combined QI-keyed count over the corpus,
    then a second keyed agg over GROUP-PROFILE rows (bounded by
    distinct QI combos, not corpus rows).  All QI columns are emitted
    as strings (masking needs a common type).  Output:
    ``<qi_cols…> string, n long``."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not qi_cols:
        raise ValueError("qi_cols must be non-empty")
    groups = (df.groupBy(*[F.col(c).cast("string").alias(c)
                           for c in qi_cols])
              .agg(F.count(F.lit(1)).alias("_n")))
    small = F.col("_n") < k
    masked = groups.select(
        *[F.when(small, F.lit("*")).otherwise(F.col(c)).alias(c)
          for c in qi_cols],
        "_n")
    return (masked.groupBy(*qi_cols)
            .agg(F.sum("_n").cast("long").alias("n")))


def range_checksums(df: DataFrame, id_col: str, cols: list[str],
                    bucket_size: int = 1000) -> DataFrame:
    """Merkle-style range checksums — the anti-entropy / table-sync
    primitive (compare two replicas or snapshots bucket by bucket and
    ship only differing ranges): rows hash to a 60-bit md5-derived
    integer over a canonical ``'|'``-joined string encoding of
    ``cols``, buckets are ``id DIV bucket_size``, and the bucket
    digest is the XOR fold of its row hashes (order-independent,
    engine-portable — any engine with md5 reproduces it bit-for-bit;
    XOR also makes single-row diffs localizable by binary-searching
    sub-ranges).

    Scale shape: a pure map stage + ONE map-side-combined keyed agg —
    the table is scanned once, the output is #buckets rows.  Encode
    timestamps/floats to integers in ``cols`` BEFORE calling (canonical
    string forms of those types differ across engines).  NULLs encode
    as an explicit sentinel — ``concat_ws`` would silently SKIP them,
    making ('a', NULL) and (NULL, 'a') hash identically.  Output:
    ``bucket long, n_rows long, xor_hash long``."""
    if bucket_size < 1:
        raise ValueError(f"bucket_size must be >= 1, got {bucket_size}")
    h = F.conv(F.substring(F.md5(F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("<NULL>"))
               for c in cols])), 1, 15),
        16, 10).cast("long")
    return (df.select(F.expr(f"{id_col} DIV {int(bucket_size)}")
                      .cast("long").alias("bucket"),
                      h.alias("_h"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 F.expr("bit_xor(_h)").cast("long").alias("xor_hash")))


# ------------------------------------------------------ geometric DP
# Two-sided geometric mechanism (Ghosh, Roughgarden & Sundararajan
# 2009) — the integer-valued, utility-optimal counterpart of Laplace
# noise for count queries (here alpha = 1/2, i.e. epsilon = ln 2).
# The noise is DETERMINISTIC given a per-group md5 draw (seedless,
# engine-portable — the repo's seedless-sampling discipline): the
# support is clipped to [-8, 8] (tail mass 2^-8 folded into the
# boundary, standard remapping) and the inverse CDF is a 17-branch
# integer threshold table computed EXACTLY at authoring time
# (fractions scaled by 2^60; the last threshold IS 2^60).
_GEOM_THRESHOLDS = (
    (-8, 3002399751580330), (-7, 6004799503160661),
    (-6, 12009599006321322), (-5, 24019198012642645),
    (-4, 48038396025285290), (-3, 96076792050570581),
    (-2, 192153584101141162), (-1, 384307168202282325),
    (0, 768614336404564650), (1, 960767920505705813),
    (2, 1056844712556276394), (3, 1104883108581561685),
    (4, 1128902306594204330), (5, 1140911905600525653),
    (6, 1146916705103686314), (7, 1149919104855266645),
    (8, 1152921504606846976))


def dp_noisy_counts(df: DataFrame, group_col: str,
                    salt: str = "dp0") -> DataFrame:
    """Differential-privacy-style noisy group counts via the two-sided
    geometric mechanism at alpha = 1/2 (ε = ln 2 per count): noise is
    the exact inverse-CDF lookup of a 60-bit md5 draw on
    ``salt || group`` against the authoring-time integer threshold
    table — every engine reproduces the identical noisy release
    bit-for-bit, so the RELEASE PIPELINE (sensitivity-1 count, clipped
    geometric noise, non-negative clamp) is hash-verifiable even
    though production would swap the md5 draw for a secret-seeded RNG
    (documented — determinism here is the testability seam, not a
    privacy claim).

    Scale shape: one map-side-combined keyed count; the noise lookup
    is pure column math on the #groups rows.  Output: ``(group, n,
    noise, n_noisy)`` with n_noisy clamped at 0."""
    counts = (df.groupBy(F.col(group_col).alias("grp"))
              .agg(F.count(F.lit(1)).alias("n")))
    h = (F.conv(F.substring(F.md5(F.concat(
        F.lit(salt + ":"), F.col("grp").cast("string"))), 1, 15),
        16, 10).cast("long"))
    noise = F.lit(8)
    for k, th in reversed(_GEOM_THRESHOLDS[:-1]):
        noise = F.when(h < F.lit(th), F.lit(k)).otherwise(noise)
    out = (counts.withColumn("noise", noise.cast("int"))
           .withColumn("n_noisy",
                       F.greatest(F.col("n") + F.col("noise"),
                                  F.lit(0)).cast("long")))
    return out.select(F.col("grp").alias(group_col),
                      F.col("n").cast("long").alias("n"),
                      "noise", "n_noisy")


def l_diversity(df: DataFrame, qi_cols: list[str], sensitive_col: str,
                l: int = 3) -> DataFrame:
    """l-diversity audit (Machanavajjhala 2007) — the governance gate
    k-anonymity misses: a group can be k-large yet expose everyone in
    it when ALL its rows share one sensitive value.  Reports, per
    quasi-identifier combination, the group size, the number of
    DISTINCT sensitive values, and whether the group meets distinct
    l-diversity (``n_sensitive >= l``).

    Scale shape: one (QI..., sensitive) keyed count (map-side
    combined — dedupes the sensitive values), then one QI-keyed agg
    over those group-profile rows; output bounded by distinct QI
    combos.  Output: ``<qi_cols…> string, n long, n_sensitive long,
    diverse long``."""
    if l < 2:
        raise ValueError(f"l must be >= 2, got {l}")
    if not qi_cols:
        raise ValueError("qi_cols must be non-empty")
    qi = [F.col(c).cast("string").alias(c) for c in qi_cols]
    per_sv = (df.groupBy(*qi, F.col(sensitive_col).alias("_sv"))
              .agg(F.count(F.lit(1)).alias("_n")))
    return (per_sv.groupBy(*qi_cols)
            .agg(F.sum("_n").cast("long").alias("n"),
                 F.count(F.lit(1)).cast("long").alias("n_sensitive"))
            .withColumn("diverse",
                        (F.col("n_sensitive") >= l).cast("long")))


def split_leakage(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  train_hex: str = "e6", val_hex: str = "f3") -> DataFrame:
    """Train/val/test contamination audit — the leakage check every
    split pipeline must publish: exact-duplicate groups (``md5(text)``)
    spanning split boundaries leak evaluation content into training.
    Counts every unordered document pair inside each duplicate group,
    bucketed by split pair: within-split pairs are redundancy
    (``is_leak = false``), cross-split pairs are contamination
    (``is_leak = true``).  Pair counts come from the group-size
    identity (t·(t−1)/2 within, t·v across) — the pair space is never
    materialized.

    Scale shape: ONE (content-hash) keyed agg with three conditional
    counts (map-side combined), then one global aggregate over groups,
    unpivoted via ``stack`` into 6 rows — no collect, no join, no pair
    explosion even for a degenerate corpus where one text repeats 10^9
    times.  Split assignment is the seedless
    :func:`~frogocr_spark.operators.textstats.hash_split` (same
    thresholds).  Output: ``(split_lo, split_hi, n_pairs, is_leak)``,
    6 rows, ordered lexicographically by the caller's sort."""
    from .textstats import hash_split
    dec = "decimal(38,0)"
    s = hash_split(df.select(F.col(id_col).alias("_id"),
                             F.col(text_col).alias("_t")),
                   id_col="_id", train_hex=train_hex, val_hex=val_hex)
    mat = (s.groupBy(F.md5(F.col("_t")).alias("_h"))
           .agg(F.sum((F.col("split") == "train").cast("long"))
                .cast(dec).alias("t"),
                F.sum((F.col("split") == "val").cast("long"))
                .cast(dec).alias("v"),
                F.sum((F.col("split") == "test").cast("long"))
                .cast(dec).alias("x")))
    tot = mat.groupBy().agg(
        F.sum(F.expr("t * (t - 1) DIV 2")).alias("tt"),
        F.sum(F.expr("v * (v - 1) DIV 2")).alias("vv"),
        F.sum(F.expr("x * (x - 1) DIV 2")).alias("xx"),
        F.sum(F.expr("t * v")).alias("tv"),
        F.sum(F.expr("t * x")).alias("tx"),
        F.sum(F.expr("v * x")).alias("vx"))
    return tot.selectExpr(
        "stack(6, "
        "'train', 'train', CAST(tt AS BIGINT), false, "
        "'val',   'val',   CAST(vv AS BIGINT), false, "
        "'test',  'test',  CAST(xx AS BIGINT), false, "
        "'train', 'val',   CAST(tv AS BIGINT), true, "
        "'train', 'test',  CAST(tx AS BIGINT), true, "
        "'test',  'val',   CAST(vx AS BIGINT), true) "
        "AS (split_lo, split_hi, n_pairs, is_leak)")


def t_closeness(df: DataFrame, qi_cols: list[str], sensitive_col: str,
                t_e6: int = 300_000) -> DataFrame:
    """t-closeness audit (Li 2007) — the third privacy gate: a group
    can be k-large AND l-diverse yet still leak when its sensitive
    distribution DIFFERS sharply from the table's (one group being 90%
    a sensitive value the table has at 2%).  For categorical sensitive
    values the variational distance TV(g) = 1/2 Σ_j |p_gj − p_j| is
    exact in integers once cross-multiplied: with group counts c_gj,
    group size n_g, global counts C_j, N total rows,

        tv_e6(g) = (Σ_j |c_gj·N − C_j·n_g|) · 10^6 DIV (2·n_g·N)

    and sensitive values ABSENT from a group need no rows — their
    contribution Σ_absent C_j·n_g telescopes to n_g·N − Σ_observed
    C_j·n_g (Σ_all C_j = N), so only OBSERVED (QI, sensitive) pairs
    are ever materialized.

    Scale shape: one (QI…, sensitive) keyed count (map-side combined),
    the ≤|sensitive-alphabet| global counts BROADCAST onto those
    profile rows, group sizes re-joined QI-keyed, one QI-keyed sum —
    output bounded by distinct QI combos; every product DECIMAL(38,0),
    one truncating DIV.  N reaches the plan as a literal via one
    bounded count (EAGER, documented).  Output: ``<qi_cols…>, n,
    tv_e6, ok`` (ok = tv_e6 <= t_e6).
    """
    if not (0 <= t_e6 <= 1_000_000):
        raise ValueError(f"t_e6 must be in [0, 1e6], got {t_e6}")
    dec = "decimal(38,0)"
    pairs = (df.select(*qi_cols, F.col(sensitive_col).alias("_s"))
             .groupBy(*qi_cols, "_s")
             .agg(F.count(F.lit(1)).alias("_c")))
    glob = (df.select(F.col(sensitive_col).alias("_s")).groupBy("_s")
            .agg(F.count(F.lit(1)).alias("_cj")))
    n_total = df.count()
    if n_total == 0:
        raise ValueError("t_closeness: empty input")
    sizes = (pairs.groupBy(*qi_cols)
             .agg(F.sum("_c").cast("long").alias("_ng")))
    dev = (pairs.join(F.broadcast(glob), "_s")
           .join(sizes, list(qi_cols))
           .groupBy(*qi_cols)
           .agg(F.max("_ng").cast("long").alias("n"),
                F.sum(F.abs(F.col("_c").cast(dec) * F.lit(n_total)
                            - F.col("_cj").cast(dec) * F.col("_ng")))
                .alias("_dev"),
                F.sum(F.col("_cj").cast(dec) * F.col("_ng"))
                .alias("_cov")))
    dev = dev.withColumn(
        "_tot",
        (F.col("_dev") + (F.lit(n_total).cast(dec) * F.col("n")
                          - F.col("_cov"))).cast(dec))
    out = dev.withColumn(
        "tv_e6",
        F.expr(f"(CAST(_tot AS DECIMAL(38,0)) * 1000000) "
               f"DIV (CAST(2 AS DECIMAL(38,0)) * n * {n_total})")
        .cast("long"))
    return out.select(*qi_cols, "n", "tv_e6",
                      (F.col("tv_e6") <= t_e6).alias("ok"))
