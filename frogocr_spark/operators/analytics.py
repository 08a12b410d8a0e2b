"""Event-analytics operators: ordered funnels, cohort retention,
fixed-range histograms, and exact-decimal moment statistics.

All four follow the repo's determinism contract — integer event time
(``unix_micros`` == DuckDB ``epoch_us`` on naive timestamps), integer
bucket arithmetic, and exact DECIMAL(38,0) second-moment sums so the
only floating-point steps are IEEE-correctly-rounded single operations
(one division, one sqrt) on values both engines agree on exactly.

Scale shapes:

- funnel: ONE keyed shuffle (collect per-user events) + an array fold —
  not K sequential self-joins.
- cohort retention: first-event agg + one equi-join back on the user
  key + a distinct-rollup — all map-side combinable.
- histogram: pure keyed aggregation; bucket index is integer floor
  division (no float bins to disagree on).
- moment stats: one aggregation carrying five DECIMAL(38,0) sums —
  order-independent exact integers, so variance/correlation are the
  same on any engine and partitioning (a float ``SUM`` would differ per
  partitioning).

Reference parity: the reference's per-run counter rollups
(Source/Core/Database.cpp) are the A10 analog; these generalize that
surface to the event-funnel/cohort analytics a transcript pipeline
runs on its telemetry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

US_PER_DAY = 86_400_000_000


def funnel_counts(events: DataFrame, steps: list[str],
                  user_col: str = "user_id", type_col: str = "event_type",
                  ts_col: str = "ts") -> DataFrame:
    """Ordered-funnel analysis: how many users performed ``steps[0]``,
    then ``steps[1]`` STRICTLY AFTER it, and so on.

    Per user: sort that user's events by (ts, event_id) and fold once,
    recording the first step-k event whose ts is strictly greater than
    the recorded step-(k-1) time — identical to the classic K-fold
    self-join ``min(ts) WHERE type = step_k AND ts > t_{k-1}`` but with
    one shuffle instead of K.  Output: ``step int, step_name string,
    n_users long`` (users reaching >= step).
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    if len(set(steps)) != len(steps):
        raise ValueError(f"steps must be distinct, got {steps}")
    k = len(steps)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ev = (events
          .filter(F.col(type_col).isin(list(steps)))
          .select(user_col, F.struct(us.alias("us"),
                                     F.col("event_id").alias("eid"),
                                     F.col(type_col).alias("et"))
                  .alias("e")))
    per_user = (ev.groupBy(user_col)
                .agg(F.array_sort(F.collect_list("e")).alias("es")))

    # fold state: array<long> of length k, -1 = step not reached yet
    init = F.array(*[F.lit(-1).cast("long") for _ in range(k)])

    def fold(acc, e):
        out = acc
        for i, s in enumerate(steps):
            prev_ok = (F.lit(True) if i == 0
                       else (F.element_at(acc, i) >= 0)
                       & (e["us"] > F.element_at(acc, i)))
            hit = ((e["et"] == F.lit(s))
                   & (F.element_at(acc, i + 1) < 0) & prev_ok)
            upd = F.concat(
                F.slice(acc, F.lit(1), F.lit(i)),
                F.array(e["us"]),
                F.slice(acc, F.lit(i + 2), F.lit(k - i - 1)))
            out = F.when(hit, upd).otherwise(out)
        return out

    stages = per_user.select(
        F.aggregate(F.col("es"), init, fold).alias("t"))
    aggs = [F.sum((F.element_at(F.col("t"), i + 1) >= 0).cast("long"))
            .alias(f"n{i}") for i in range(k)]
    wide = stages.agg(*aggs)
    rows = F.array(*[
        F.struct(F.lit(i + 1).alias("step"),
                 F.lit(steps[i]).alias("step_name"),
                 F.col(f"n{i}").alias("n_users"))
        for i in range(k)])
    return (wide.select(F.explode(rows).alias("r"))
            .select("r.step", "r.step_name",
                    F.col("r.n_users").cast("long").alias("n_users")))


def cohort_retention(events: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts") -> DataFrame:
    """Weekly cohort retention: cohort = epoch-week of a user's first
    event (integer ``epoch_us // (7 days)`` — no calendar/locale week
    rules to disagree on), offset = event week - cohort week.  Output:
    ``cohort_week long, week_offset long, n_users long``."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    week = F.floor(us / F.lit(US_PER_DAY * 7)).cast("long")
    ev = events.select(user_col, week.alias("w"))
    first = ev.groupBy(user_col).agg(F.min("w").alias("cohort_week"))
    return (ev.join(first, user_col)
            .select("cohort_week",
                    (F.col("w") - F.col("cohort_week"))
                    .alias("week_offset"), user_col)
            .distinct()
            .groupBy("cohort_week", "week_offset")
            .agg(F.count(F.lit(1)).alias("n_users")))


def histogram_fixed(df: DataFrame, value_col: str, group_col: str,
                    width: float, n_buckets: int) -> DataFrame:
    """Fixed-range histogram per group: bucket = clamp(floor(v/width),
    0, n_buckets-1) — floor of one IEEE division, identical in every
    engine.  Output: ``<group_col>, bucket int, n long, v_min double,
    v_max double``."""
    if n_buckets < 1 or width <= 0:
        raise ValueError(f"bad histogram shape w={width} k={n_buckets}")
    v = F.col(value_col).cast("double")
    b = F.least(F.lit(n_buckets - 1),
                F.greatest(F.lit(0),
                           F.floor(v / F.lit(float(width))).cast("int")))
    return (df.select(group_col, b.alias("bucket"), v.alias("v"))
            .groupBy(group_col, "bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("v").alias("v_min"), F.max("v").alias("v_max")))


def moment_stats_exact(df: DataFrame, x_col: "F.Column", y_col: "F.Column",
                       group_col: str) -> DataFrame:
    """Per-group mean / population variance / Pearson correlation with
    NO float-summation ambiguity: x and y must be integer-valued
    columns; the five sums (Σx, Σy, Σx², Σy², Σxy) are carried as
    DECIMAL(38,0) (exact at any row count), and the float part is a
    fixed expression tree of individually correctly-rounded IEEE ops
    over the exactly-agreed sums.  Output: ``<group_col>, n long,
    mean_x, var_x, mean_y, var_y, corr_xy`` (6 dp)."""
    dec = "decimal(38,0)"
    x = x_col.cast("long")
    y = y_col.cast("long")
    base = df.select(group_col, x.alias("x"), y.alias("y"))
    agg = base.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"))
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    # the parenthesization fixes each IEEE rounding step: keep it
    var_x = (sxx / nd) - (sx / nd) * (sx / nd)
    var_y = (syy / nd) - (sy / nd) * (sy / nd)
    cov = (sxy / nd) - (sx / nd) * (sy / nd)
    # correlation is undefined for a constant series -> NULL (and ANSI
    # mode would raise on the 0-divide)
    corr = F.when((var_x > 0) & (var_y > 0),
                  cov / (F.sqrt(var_x) * F.sqrt(var_y)))
    return agg.select(
        group_col, "n",
        F.round(sx / nd, 6).alias("mean_x"),
        F.round(var_x, 6).alias("var_x"),
        F.round(sy / nd, 6).alias("mean_y"),
        F.round(var_y, 6).alias("var_y"),
        F.round(corr, 6).alias("corr_xy"))


def zscore_outliers(df: DataFrame, value_col: "F.Column", group_col: str,
                    id_col: str, z: int = 3) -> DataFrame:
    """Per-group z-score anomaly detection with ZERO float ambiguity:
    a row is an outlier iff ``(x − mean)² > z²·var``, restated over
    exact integers as ``(n·x − Σx)² > z²·(n·Σx² − (Σx)²)`` — both sides
    are DECIMAL(38,0) products of exactly-aggregated sums, so the
    decision is order-independent and bit-identical in any engine (the
    float mean/σ a naive z-score uses would hash-differ per
    partitioning).  ``value_col`` must be integer-valued (pre-scale
    floats, e.g. ``round(value·100)`` cents — the proven
    ``moment_stats_exact`` recipe).  Headroom: exact while
    ``n·|x| < 10^19`` per group (the squared terms then stay under
    DECIMAL(38,0)) — 10^12 rows of 10^4-scaled values fit.

    Scale shape: one map-side-combined aggregation produces a
    #groups-sized moments table, broadcast back onto the corpus; the
    flag itself is then pure column math inside the probe's map stage —
    the big side is never shuffled.  Output: the outlier rows
    (``group, id, x``) plus the group's ``n`` and the deviation
    ``side`` (+1 above the mean, −1 below)."""
    dec = "decimal(38,0)"
    x = value_col.cast("long")
    base = df.select(group_col, id_col, x.alias("x"))
    agg = base.groupBy(group_col).agg(
        F.count(F.lit(1)).cast(dec).alias("_n"),
        F.sum(F.col("x").cast(dec)).alias("_sx"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("_sxx"))
    j = base.join(F.broadcast(agg), group_col)
    dev = F.col("_n") * F.col("x").cast(dec) - F.col("_sx")
    lhs = dev * dev
    rhs = (F.lit(int(z) * int(z)).cast(dec)
           * (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")))
    return (j.where(lhs > rhs)
            .select(group_col, id_col, F.col("x").cast("long").alias("x"),
                    F.col("_n").cast("long").alias("n"),
                    F.when(dev > 0, F.lit(1)).otherwise(F.lit(-1))
                    .cast("int").alias("side")))


def scd2_history(df: DataFrame, key_col: str, attr_col: str,
                 ts_col: str = "ts", id_col: str = "event_id") -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build from an append-only event
    log: per key, compress consecutive repeats of ``attr_col`` into
    versions, each valid ``[valid_from_us, valid_to_us)`` with the open
    (current) version's ``valid_to_us`` NULL — the standard lakehouse
    dimension-history materialization (Kimball SCD2), derived here with
    windows instead of a MERGE loop.

    Determinism: events are totally ordered per key by the integer
    event time ``unix_micros(ts)`` with ``id_col`` as tiebreak, so the
    version numbering and validity bounds are engine-exact (DuckDB
    ``epoch_us`` computes the identical integers on naive timestamps).

    Scale shape: two windows over the SAME partitioning key (one
    change-detection lag on the full log, one lead/row_number on the
    compressed change rows — Catalyst reuses the exchange) — no join,
    no global sort, output bounded by the number of CHANGES, not
    events.  Output: ``key, version int, attr, valid_from_us,
    valid_to_us (null = current), is_current``."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key_col).orderBy("us", id_col)
    base = (df.select(key_col, F.col(attr_col).alias("attr"),
                      us.alias("us"), id_col)
            .withColumn("_prev", F.lag("attr").over(w)))
    changes = base.where(F.col("_prev").isNull()
                         | (F.col("_prev") != F.col("attr")))
    w2 = Window.partitionBy(key_col).orderBy("us", id_col)
    return (changes.select(
        key_col,
        F.row_number().over(w2).cast("int").alias("version"),
        "attr",
        F.col("us").alias("valid_from_us"),
        F.lead("us").over(w2).alias("valid_to_us"))
        .withColumn("is_current", F.col("valid_to_us").isNull()))


def ohlc_bars(df: DataFrame, group_col: str, ts_col: str = "ts",
              val_col: str = "value", id_col: str = "event_id",
              bucket_us: int = 3_600_000_000) -> DataFrame:
    """Time-bucketed OHLC bars per group: open/close = the value at the
    first/last event of the bucket under the total order
    ``(unix_micros(ts), id)``, high/low = max/min — the downsampling
    primitive behind every metrics/telemetry dashboard (and candlestick
    charts), expressed as ONE keyed aggregation via ``min_by``/
    ``max_by`` over a struct ordering key instead of the naive
    row_number-then-filter double shuffle.

    Engine-exactness: open/close/high/low are PICKED raw doubles (no
    float arithmetic to reorder); the only sum is over integer cents.
    Output: ``group, bucket (integer epoch-buckets), open, high, low,
    close, n_events, vol_cents``."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ordkey = F.struct(F.col("us").alias("us"),
                      F.col(id_col).alias("id"))
    return (df.select(group_col, us.alias("us"), id_col,
                      F.col(val_col).alias("v"))
            .withColumn("bucket",
                        F.expr(f"us DIV {int(bucket_us)}"))
            .groupBy(group_col, "bucket")
            .agg(F.min_by("v", ordkey).alias("open"),
                 F.max("v").alias("high"),
                 F.min("v").alias("low"),
                 F.max_by("v", ordkey).alias("close"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum(F.round(F.col("v") * 100, 0).cast("long"))
                 .alias("vol_cents")))


def gap_fill_locf(df: DataFrame, key_col: str, ts_col: str = "ts",
                  val_col: str = "value",
                  bucket_us: int = 3_600_000_000) -> DataFrame:
    """Time-grid densification with last-observation-carried-forward
    fill: per key, materialize EVERY bucket between that key's first
    and last observation, carrying the last seen value across the gaps
    — the resampling step before any windowed model over irregular
    event streams (sensor/metrics/feature time series).

    Engine-exactness: the per-bucket observation is ``max`` of integer
    cents (exact), and LOCF picks integers — no float arithmetic.

    Scale shape: bucket pre-aggregation (map-side combined, shrinks the
    stream to ≤ one row per (key, bucket)) → per-key bounds agg →
    ``sequence``-explode grid (output-bound, no driver loop) → ONE
    keyed left join + ONE keyed running window.  Nothing global,
    nothing collected; the grid is generated distributed.  Output:
    ``key, bucket, v_cents (null on gap rows), filled_cents, is_gap``."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    hv = (df.select(key_col,
                    us.alias("_us"),
                    F.round(F.col(val_col) * 100, 0).cast("long")
                    .alias("cents"))
          .select(key_col,
                    F.expr(f"_us DIV {int(bucket_us)}").alias("bucket"),
                    "cents")
          .groupBy(key_col, "bucket")
          .agg(F.max("cents").alias("v_cents")))
    grid = (hv.groupBy(key_col)
            .agg(F.min("bucket").alias("_b0"),
                 F.max("bucket").alias("_b1"))
            .select(key_col,
                    F.explode(F.sequence("_b0", "_b1")).alias("bucket")))
    w = (Window.partitionBy(key_col).orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (grid.join(hv, [key_col, "bucket"], "left")
            .select(key_col, "bucket", "v_cents",
                    F.last("v_cents", ignorenulls=True).over(w)
                    .alias("filled_cents"),
                    F.col("v_cents").isNull().alias("is_gap")))


def markov_transitions(df: DataFrame, key_col: str, state_col: str,
                       ts_col: str = "ts",
                       id_col: str = "event_id") -> DataFrame:
    """First-order Markov transition counts over per-key event
    sequences (the user-behavior / process-mining primitive): for each
    key's events in ``(unix_micros(ts), id)`` order, count every
    consecutive (state → next state) pair, plus the from-state marginal
    so the MLE transition probability is derivable as the exact ratio
    ``n / n_from`` (no float division in the contract columns).

    Scale shape: ONE keyed window (lead) + one map-side-combined pair
    count; the marginal re-aggregates the COUNTED pairs (state-pair
    cardinality, not events) and broadcasts back.  Output: ``from_state,
    to_state, n, n_from``."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(key_col).orderBy("us", id_col)
    pairs = (df.select(key_col, F.col(state_col).alias("from_state"),
                       us.alias("us"), id_col)
             .withColumn("to_state",
                         F.lead("from_state").over(w))
             .where(F.col("to_state").isNotNull())
             .groupBy("from_state", "to_state")
             .agg(F.count(F.lit(1)).alias("n")))
    marg = (pairs.groupBy("from_state")
            .agg(F.sum("n").alias("n_from")))
    return pairs.join(F.broadcast(marg), "from_state")


def winsorize_stats(df: DataFrame, group_col: str, value_col,
                    id_col: str = "event_id",
                    p_lo: int = 5, p_hi: int = 95) -> DataFrame:
    """Winsorized robust statistics per group: values are clamped to
    the empirical [p_lo, p_hi] percentiles (NEAREST-RANK method —
    cutoff = the value at rank ``ceil(n·p/100)`` under the total order
    ``(value, id)``, an integer-exact definition both engines compute
    identically; interpolating percentiles are float-ambiguous
    cross-engine).  The outlier-robust aggregation used before fitting
    anything to heavy-tailed telemetry.

    Scale shape: one keyed rank window + one map-side-combined cutoff
    agg (group-sized) broadcast back; sums are integer cents.  Output:
    ``group, n, lo_cents, hi_cents, winsorized_sum_cents, n_lo, n_hi``."""
    from pyspark.sql import Window

    if not (0 <= p_lo < p_hi <= 100):
        raise ValueError(f"need 0 <= p_lo < p_hi <= 100, got "
                         f"({p_lo}, {p_hi})")
    base = df.select(group_col, id_col,
                     value_col.cast("long").alias("cents"))
    w = Window.partitionBy(group_col).orderBy("cents", id_col)
    ranked = (base
              .withColumn("rn", F.row_number().over(w))
              .withColumn("n", F.count(F.lit(1)).over(
                  Window.partitionBy(group_col))))
    lo_rank = F.greatest(F.expr(f"(n * {p_lo} + 99) DIV 100"), F.lit(1))
    hi_rank = F.greatest(F.expr(f"(n * {p_hi} + 99) DIV 100"), F.lit(1))
    cuts = (ranked
            .groupBy(group_col)
            .agg(F.max(F.when(F.col("rn") == lo_rank,
                              F.col("cents"))).alias("lo_cents"),
                 F.max(F.when(F.col("rn") == hi_rank,
                              F.col("cents"))).alias("hi_cents"),
                 F.max("n").alias("n")))
    j = base.join(F.broadcast(cuts), group_col)
    clamped = F.greatest(F.least(F.col("cents"), F.col("hi_cents")),
                         F.col("lo_cents"))
    return (j.groupBy(group_col)
            .agg(F.max("n").alias("n"),
                 F.max("lo_cents").alias("lo_cents"),
                 F.max("hi_cents").alias("hi_cents"),
                 F.sum(clamped).alias("winsorized_sum_cents"),
                 F.sum(F.when(F.col("cents") < F.col("lo_cents"), 1)
                       .otherwise(0)).alias("n_lo"),
                 F.sum(F.when(F.col("cents") > F.col("hi_cents"), 1)
                       .otherwise(0)).alias("n_hi")))


def ols_fit(df: DataFrame, x_col: "F.Column", y_col: "F.Column",
            group_col: str) -> DataFrame:
    """Per-group simple OLS regression (the SQL ``regr_slope`` /
    ``regr_intercept`` / ``regr_r2`` family) with NO float-summation
    ambiguity: x and y must be integer-valued columns; the five sums
    are carried as DECIMAL(38,0) (exact at any row count and any
    partitioning), the normal-equation numerator/denominators
    ``n·Σxy − Σx·Σy`` / ``n·Σxx − Σx²`` / ``n·Σyy − Σy²`` are exact
    decimal products, and slope/intercept/r² are a FIXED tree of
    individually correctly-rounded IEEE double ops over those
    exactly-agreed values (the proven ``moment_stats_exact`` recipe —
    engines running native ``regr_slope`` float accumulation would
    hash-differ per partition order).

    Degenerate groups (constant x) get NULL slope/intercept/r²; a
    constant-y group gets r² NULL (0/0) by the same guard.

    Scale shape: ONE map-side-combined aggregation — the corpus is
    scanned once and only #groups rows ever move.  Headroom: exact
    while n·|x·y| per group stays under 10^38 (10^12 rows of 10^4-scale
    x times 10^5-scale y fit with 10^17 to spare).

    Output: ``<group_col>, n, slope, intercept, r2`` (6 dp)."""
    dec = "decimal(38,0)"
    x = x_col.cast("long")
    y = y_col.cast("long")
    base = df.select(group_col, x.alias("x"), y.alias("y"))
    agg = base.groupBy(group_col).agg(
        F.count(F.lit(1)).cast(dec).alias("nn"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"))
    num = F.col("nn") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("nn") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("nn") * F.col("syy") - F.col("sy") * F.col("sy")
    nd = F.col("nn").cast("double")
    num_d, denx_d, deny_d = (num.cast("double"), den_x.cast("double"),
                             den_y.cast("double"))
    slope = F.when(den_x > 0, num_d / denx_d)
    # the parenthesization fixes each IEEE rounding step: keep it
    intercept = (F.col("sy").cast("double") / nd
                 - slope * (F.col("sx").cast("double") / nd))
    r2 = F.when((den_x > 0) & (den_y > 0),
                (num_d / denx_d) * (num_d / deny_d))
    return agg.select(
        group_col, F.col("nn").cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"))


def pit_lookup(probe: DataFrame, dim: DataFrame, key_col: str,
               probe_us: "F.Column", id_col: str) -> DataFrame:
    """Point-in-time (temporal / as-of validity) lookup against an SCD
    type-2 dimension: for every probe row, the dimension version whose
    half-open validity interval ``[valid_from_us, valid_to_us)``
    contains the probe's event time — the lakehouse pattern for joining
    facts to slowly-changing attributes AS THEY WERE at fact time
    (``dim`` is :func:`scd2_history` output: ``key, version, attr,
    valid_from_us, valid_to_us`` with NULL = open/current).

    Probes earlier than the key's first version (or with no matching
    key) are dropped — inner temporal semantics; intervals from
    ``scd2_history`` tile the timeline per key, so each surviving probe
    matches EXACTLY ONE version (no fan-out).

    Scale shape: one equi-join on the key with the interval test as a
    residual predicate — never a cartesian; the SCD2 side is bounded by
    the number of CHANGES, so at fact-vs-dimension cardinalities the
    build side broadcasts and the fact is never shuffled.

    Output: probe id + key + matched ``version, attr, valid_from_us``."""
    d = dim.select(F.col(key_col).alias("_k"), "version", "attr",
                   "valid_from_us", "valid_to_us")
    p = probe.select(id_col, F.col(key_col).alias("_k"),
                     probe_us.cast("long").alias("_us"))
    cond = ((F.col("_us") >= F.col("valid_from_us"))
            & (F.col("valid_to_us").isNull()
               | (F.col("_us") < F.col("valid_to_us"))))
    return (p.join(F.broadcast(d), "_k")
            .where(cond)
            .select(id_col, F.col("_k").alias(key_col), "version",
                    "attr", "valid_from_us"))


def skyline2d(df: DataFrame, min_col: str, max_col: str,
              num_partitions: int | None = None) -> DataFrame:
    """2D skyline (Pareto frontier): rows not DOMINATED by any other —
    q dominates p iff ``q.min_col <= p.min_col AND q.max_col >=
    p.max_col`` with at least one strict.  Both columns must be exact
    integers (longs) so the cross-engine comparison is bit-exact.

    The textbook definition is a quadratic NOT EXISTS self-join; the
    distributed plan is the sort-scan skyline, linearized and
    shuffle-bounded by the number of DISTINCT ``min_col`` values:

    1. per-``min_col`` group max of ``max_col`` — one map-side-combined
       keyed aggregation (a point below its own group's max is dominated
       by that same-x, larger-y point);
    2. exclusive prefix max of the group maxima over ``min_col``
       ascending (:func:`~frogocr_spark.operators.ranking.global_cummax`
       — range-partitioned, NO single-partition window): a group
       survives iff its max strictly exceeds every strictly-cheaper
       group's max;
    3. surviving (x, gmax) pairs join back to the input; skyline rows
       are those equal to their group max.  Equal (x, y) duplicates all
       survive — neither dominates the other (both strict tests fail),
       matching the NOT-EXISTS form.

    EAGER at plan-construction (global_cummax collects O(partitions)
    maxima).  Output: the input rows that form the skyline."""
    x, y = F.col(min_col), F.col(max_col)
    groups = df.groupBy(min_col).agg(F.max(y).cast("long").alias("_gmax"))
    from frogocr_spark.operators.ranking import global_cummax
    surv = (global_cummax(groups, [min_col], "_gmax", "_prevmax",
                          num_partitions=num_partitions)
            .where(F.col("_prevmax").isNull()
                   | (F.col("_gmax") > F.col("_prevmax")))
            .select(min_col, "_gmax"))
    return (df.join(surv, min_col)
            .where(y.cast("long") == F.col("_gmax"))
            .drop("_gmax"))


def max_concurrency(df: DataFrame, key_col: str, ts_col: str = "ts",
                    id_col: str = "event_id",
                    duration_us: int = 600_000_000,
                    num_partitions: int | None = None) -> DataFrame:
    """Maximum number of concurrently-open intervals per key — each row
    opens the half-open interval ``[ts, ts + duration_us)`` (session /
    connection / GPU-occupancy concurrency, the classic sweep-line).

    Distributed sweep: every interval emits a ``+1`` at its start and a
    ``-1`` at its end; the running sum of deltas in ``(key, us, delta,
    id)`` order IS the concurrency curve (delta ascending puts the -1
    first at ties, so an interval ending exactly when another starts
    never overlaps it — half-open semantics).  The prefix sum runs on
    :func:`~frogocr_spark.operators.ranking.global_cumsum` — range
    partition + per-partition window + O(P) broadcast offsets, NO
    single-partition window and NO per-key serialization: because every
    interval contributes +1 and -1 to the SAME key, each key's deltas
    telescope to zero, so the GLOBAL prefix sum in key-major order
    restarts at 0 at every key boundary — per-key reset for free, and a
    hot key is split across range partitions like any other data.

    The max of the running sum equals max over start points of
    ``count(intervals containing that start)`` — the quadratic
    definition (max concurrency is always attained at some interval
    start).

    EAGER at plan-construction (global_cumsum).  Output: ``key_col,
    max_concurrent (long)``."""
    if duration_us < 1:
        raise ValueError(f"duration_us must be >= 1, got {duration_us}")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    starts = df.select(F.col(key_col), us.alias("_us"),
                       F.lit(1).cast("long").alias("_delta"),
                       F.col(id_col).alias("_id"))
    ends = df.select(F.col(key_col),
                     (us + F.lit(int(duration_us))).alias("_us"),
                     F.lit(-1).cast("long").alias("_delta"),
                     F.col(id_col).alias("_id"))
    from frogocr_spark.operators.ranking import global_cumsum
    cum = global_cumsum(starts.unionAll(ends),
                        [key_col, "_us", "_delta", "_id"], "_delta",
                        cumsum_col="_excl",
                        num_partitions=num_partitions)
    return (cum.withColumn("_conc", F.col("_excl") + F.col("_delta"))
            .groupBy(key_col)
            .agg(F.max("_conc").cast("long").alias("max_concurrent")))


def assoc_rules(df: DataFrame, basket_col: str, item_col: str,
                top_n: int = 25,
                max_basket: int = 1000) -> DataFrame:
    """Market-basket association mining (the Apriori/FP-growth pair
    layer): co-occurrence support for item pairs within baskets, plus
    the exact integer ingredients of confidence and lift — ``n_ab,
    n_a, n_b, n_baskets`` (confidence(a→b) = n_ab/n_a, lift =
    n_baskets·n_ab/(n_a·n_b); emitted as exact counts so no float
    division can disagree cross-engine).  Top ``top_n`` pairs by
    (support desc, a, b) — a total order, since (a, b) is unique.

    Scale shape: one basket-keyed shuffle collects each basket's
    DISTINCT item set (sorted, so pair generation emits each unordered
    pair once as a < b); pair expansion is Σ|basket|² — bounded by the
    ``max_basket`` guard (a degenerate mega-basket would otherwise
    explode quadratically; capped baskets are dropped from PAIR
    generation only — item supports and ``n_baskets`` still count every
    basket, so the denominators stay honest).  Pair counts and
    item counts are map-side-combined keyed aggregations; the top-n cut
    is TakeOrderedAndProject (per-partition top-n + driver merge — no
    global sort), and the n_a/n_b/n_baskets decoration joins AFTER the
    cut, against ``top_n`` rows (broadcast)."""
    pairs_src = (df.select(F.col(basket_col).alias("_bk"),
                           F.col(item_col).alias("_it"))
                 .distinct()
                 .groupBy("_bk")
                 .agg(F.sort_array(F.collect_set("_it")).alias("_items"))
                 .where((F.size("_items") >= 2)
                        & (F.size("_items") <= int(max_basket))))
    pairs = pairs_src.select(F.explode(F.flatten(F.transform(
        F.slice(F.col("_items"), 1, F.size("_items") - 1),
        lambda a, i: F.transform(
            F.slice(F.col("_items"), i + 2,
                    F.size("_items") - i - 1),
            lambda b: F.struct(a.alias("a"), b.alias("b")))))).alias("_p"))
    sup = (pairs.groupBy(F.col("_p.a").alias("a"),
                         F.col("_p.b").alias("b"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_ab")))
    top = sup.orderBy(F.desc("n_ab"), F.asc("a"), F.asc("b")).limit(top_n)
    bi = df.select(F.col(basket_col).alias("_bk"),
                   F.col(item_col).alias("_it")).distinct()
    items = bi.groupBy("_it").agg(F.count(F.lit(1)).cast("long").alias("n"))
    nb = bi.select(F.countDistinct("_bk").cast("long").alias("n_baskets"))
    return (top
            .join(items.withColumnRenamed("_it", "a")
                  .withColumnRenamed("n", "n_a"), "a")
            .join(items.withColumnRenamed("_it", "b")
                  .withColumnRenamed("n", "n_b"), "b")
            .crossJoin(F.broadcast(nb))
            .select("a", "b", "n_ab", "n_a", "n_b", "n_baskets"))


def quantile_summary(df: DataFrame, group_col: str, value_col,
                     id_col: str = "event_id",
                     ps: tuple = (25, 50, 75, 95)) -> DataFrame:
    """Per-group exact quantile summary (NEAREST-RANK method: the p-th
    cutoff is the value at rank ``max(ceil(n·p/100), 1)`` under the
    total order ``(value, id)``) — integer-exact where interpolating
    ``percentile_cont`` is float-ambiguous cross-engine.  The standard
    distribution summary a profiler/optimizer keeps per column.

    Scale shape: ONE keyed rank window + one map-side-combined
    conditional agg — all quantiles ride the same pass (no per-p scan);
    a degenerate group serializes only its own rank window, same
    documented trade as :func:`winsorize_stats`.  Output: ``group, n,
    p{ps...} (long each)``."""
    from pyspark.sql import Window

    if not ps or any(not (0 < p <= 100) for p in ps):
        raise ValueError(f"percentiles must be in (0, 100], got {ps}")
    base = df.select(group_col, id_col,
                     value_col.cast("long").alias("_v"))
    w = Window.partitionBy(group_col).orderBy("_v", id_col)
    ranked = (base
              .withColumn("_rn", F.row_number().over(w))
              .withColumn("_n", F.count(F.lit(1)).over(
                  Window.partitionBy(group_col))))
    aggs = [F.max("_n").cast("long").alias("n")]
    for p in ps:
        rk = F.greatest(F.expr(f"(_n * {int(p)} + 99) DIV 100"), F.lit(1))
        aggs.append(F.max(F.when(F.col("_rn") == rk, F.col("_v")))
                    .alias(f"p{int(p)}"))
    return ranked.groupBy(group_col).agg(*aggs)


def mad_stats(df: DataFrame, group_col: str, value_col,
              id_col: str = "event_id") -> DataFrame:
    """Per-group median and MAD (median absolute deviation) — the
    robust location/scale pair, integer-exact: both medians use the
    NEAREST-RANK-at-50 definition (rank ``max(ceil(n/2), 1)`` under
    ``(value, id)`` / ``(|dev|, id)``), so there is no interpolation
    and no float to disagree on.

    Scale shape: two keyed rank windows (the second over the deviation
    column) + two map-side-combined cutoff aggs; the median table is
    group-sized and broadcast back.  Output: ``group, n, median, mad
    (all long)``."""
    med = (quantile_summary(df, group_col, value_col, id_col, ps=(50,))
           .select(group_col, "n", F.col("p50").alias("median")))
    base = df.select(group_col, id_col,
                     value_col.cast("long").alias("_v"))
    dev = (base.join(F.broadcast(med), group_col)
           .select(group_col, id_col,
                   F.abs(F.col("_v") - F.col("median")).alias("_d")))
    mad = (quantile_summary(dev, group_col, F.col("_d"), id_col,
                            ps=(50,))
           .select(group_col, F.col("p50").alias("mad")))
    return med.join(mad, group_col).select(group_col, "n", "median",
                                           "mad")


def debounce(df: DataFrame, key_cols: list[str], ts_col: str = "ts",
             id_col: str = "event_id",
             quiet_us: int = 1_000_000) -> DataFrame:
    """TRUE debounce per key: an event is KEPT iff it occurs at least
    ``quiet_us`` after the previous KEPT event (the first always kept).
    This is the stateful definition — a burst of closely-spaced events
    collapses to its first member, and the clock only advances on kept
    events — which a ``lag()`` window CANNOT express (lag compares to
    the previous RAW event, kept or not; the two disagree whenever a
    dropped event sits between two kept ones — pinned in pytest).

    Scale shape: the stable-turn-ordering aggregation — ONE keyed
    shuffle collects each key's events, ``array_sort`` on the
    ``(us, id)`` struct order, then a single ``F.aggregate`` fold
    carrying (last_kept_us, kept list) — JVM-side, no Python, no
    per-event join.  State per key is its event list (the same bound
    as any per-key sessionization).  Output: one row per key with
    ``n_events, n_kept, kept_ids (array<long>, event order)``."""
    if quiet_us < 1:
        raise ValueError(f"quiet_us must be >= 1, got {quiet_us}")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    ev = df.select(*key_cols, us.alias("_us"),
                   F.col(id_col).cast("long").alias("_id"))
    sorted_evs = F.array_sort(F.collect_list(F.struct("_us", "_id")))
    init = F.struct(F.lit(None).cast("long").alias("last"),
                    F.array().cast("array<bigint>").alias("kept"))

    def fold(acc, e):
        keep = (acc["last"].isNull()
                | (e["_us"] - acc["last"] >= F.lit(int(quiet_us))))
        return F.struct(
            F.when(keep, e["_us"]).otherwise(acc["last"]).alias("last"),
            F.when(keep, F.concat(acc["kept"], F.array(e["_id"])))
            .otherwise(acc["kept"]).alias("kept"))

    return (ev.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.aggregate(sorted_evs, init, fold).alias("_st"))
            .select(*key_cols, "n_events",
                    F.size("_st.kept").cast("long").alias("n_kept"),
                    F.col("_st.kept").alias("kept_ids")))


def interval_coverage(df: DataFrame, key_col: str, ts_col: str = "ts",
                      id_col: str = "event_id",
                      duration_us: int = 600_000_000) -> DataFrame:
    """Per-key total COVERED time of the union of half-open intervals
    ``[ts, ts + duration_us)`` — distinct from counting sessions
    (gaps-and-islands) and from :func:`max_concurrency`: this is the
    measure of the union, the 'total active time' metric.

    Sweep formulation (exact int64 micros): order a key's intervals by
    ``(start, id)``; each interval contributes
    ``max(0, end − max(start, max_end_of_all_earlier))`` — overlap with
    already-covered time never double-counts.  One keyed window (the
    exclusive running max of ``end``) + one keyed agg.  Output:
    ``key, n_intervals, covered_us, span_us``."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    iv = df.select(F.col(key_col), us.alias("_s"),
                   (us + F.lit(int(duration_us))).alias("_e"),
                   F.col(id_col).alias("_id"))
    w = (Window.partitionBy(key_col).orderBy("_s", "_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    prev_end = F.max("_e").over(w)
    inc = F.greatest(
        F.lit(0).cast("long"),
        F.col("_e") - F.greatest(F.col("_s"),
                                 F.coalesce(prev_end, F.col("_s"))))
    return (iv.withColumn("_inc", inc)
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_intervals"),
                 F.sum("_inc").cast("long").alias("covered_us"),
                 (F.max("_e") - F.min("_s")).cast("long")
                 .alias("span_us")))


def ks_statistic(df_a: DataFrame, df_b: DataFrame, value_col,
                 ) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic, EXACT: KS = max over
    the value domain of |F_A(x) − F_B(x)|, computed on the integer
    numerator ``|c1·n2 − c2·n1|`` (c = inclusive cumulative count at
    each distinct value) so the max is decided on exact int64s — the
    only float is one final correctly-rounded division.  The
    distribution-drift test a data-quality monitor runs between two
    slices/snapshots.

    Scale shape: both samples collapse to per-distinct-value counts
    (one map-side-combined agg); the two cumulative counts ride ONE
    range-partitioned prefix sum (:func:`~frogocr_spark.operators.
    ranking.global_cumsum`) by packing (c1, c2) into a single long —
    c1·2³¹ + c2, carry-free while each total < 2³¹ (validated) — so
    there is no single-partition window and no second pass.  EAGER at
    plan-construction.  Output: ONE row — ``n1, n2, ks_num (long),
    ks (double, 6 dp)``."""
    from frogocr_spark.operators.ranking import global_cumsum

    v = value_col.cast("long")
    pts = (df_a.select(v.alias("_v"), F.lit(1).alias("_t"))
           .unionAll(df_b.select(v.alias("_v"), F.lit(2).alias("_t"))))
    # (empty-side guard below: KS is undefined against an empty sample
    # and the n1·n2 denominator would divide by zero)
    g = (pts.groupBy("_v")
         .agg(F.sum(F.when(F.col("_t") == 1, 1).otherwise(0))
              .alias("_c1"),
              F.sum(F.when(F.col("_t") == 2, 1).otherwise(0))
              .alias("_c2")))
    tot = g.agg(F.sum("_c1").alias("n1"), F.sum("_c2").alias("n2")) \
        .collect()[0]
    n1, n2 = int(tot["n1"] or 0), int(tot["n2"] or 0)
    if n1 == 0 or n2 == 0:
        raise ValueError(f"KS needs both samples non-empty, got "
                         f"n1={n1}, n2={n2}")
    if max(n1, n2) >= (1 << 31):
        raise ValueError("sample sizes must be < 2^31 for the packed "
                         "prefix sum")
    packed = g.select(
        "_v", (F.col("_c1") * (1 << 31) + F.col("_c2")).alias("_p"),
        "_c1", "_c2")
    cum = global_cumsum(packed, ["_v"], "_p", cumsum_col="_e")
    inc = F.col("_e") + F.col("_p")
    k1 = F.shiftright(inc, 31)
    k2 = inc.bitwiseAND(F.lit((1 << 31) - 1))
    d = F.abs(k1 * F.lit(n2) - k2 * F.lit(n1))
    out = cum.agg(F.max(d).cast("long").alias("ks_num"))
    return out.select(
        F.lit(n1).cast("long").alias("n1"),
        F.lit(n2).cast("long").alias("n2"),
        "ks_num",
        F.round(F.col("ks_num").cast("double")
                / F.lit(float(n1) * float(n2)), 6).alias("ks"))


def cusum_excursions(df: DataFrame, key_col: str, value_col,
                     ts_col: str = "ts", id_col: str = "event_id",
                     num_partitions: int | None = None) -> DataFrame:
    """CUSUM drift detection per key, integer-exact: the classic CUSUM
    chart tracks the running sum of deviations from the mean; scaling
    by n (``dᵢ = n·xᵢ − Σx``) keeps every term an exact int64, so the
    max/min excursions of the scaled walk are engine-exact (divide by n
    to recover the classic units).

    Scale shape: one keyed moments agg (n, Σx per key — group-sized,
    broadcast back), then the running sum rides the SAME key-major
    range-partitioned prefix sum as :func:`max_concurrency`: each key's
    deviations telescope to ZERO by construction (Σ(n·x − Σx) = 0), so
    the global cumsum restarts at every key boundary — per-key reset
    free, hot keys split across range partitions.  EAGER at
    plan-construction.  Output: ``key, n, sum_v, max_excursion,
    min_excursion (all long)``."""
    from frogocr_spark.operators.ranking import global_cumsum

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(F.col(key_col), us.alias("_us"),
                     F.col(id_col).alias("_id"),
                     value_col.cast("long").alias("_x"))
    mom = base.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_x").cast("long").alias("_sx"))
    j = (base.join(F.broadcast(mom), key_col)
         .select(key_col, "_us", "_id", "_n", "_sx",
                 (F.col("_n") * F.col("_x") - F.col("_sx"))
                 .alias("_d")))
    cum = global_cumsum(j, [key_col, "_us", "_id"], "_d",
                        cumsum_col="_e", num_partitions=num_partitions)
    r = F.col("_e") + F.col("_d")
    return (cum.withColumn("_r", r)
            .groupBy(key_col)
            .agg(F.max("_n").alias("n"),
                 F.max("_sx").alias("sum_v"),
                 F.max("_r").cast("long").alias("max_excursion"),
                 F.min("_r").cast("long").alias("min_excursion")))


def rle_encode(df: DataFrame, key_col: str, state_col: str,
               ts_col: str = "ts", id_col: str = "event_id"
               ) -> DataFrame:
    """Run-length encoding of each key's state sequence under the
    stable ``(ts, id)`` order — the session-replay compression /
    behavior-motif primitive (``A A A B A A → A:3 B:1 A:2``).

    Gaps-and-islands by window: change flag (``state ≠ lag(state)``) →
    run id (running sum of flags) → per-run length — two keyed windows
    over ONE reused exchange plus a keyed agg; the per-key assembly is
    the stable-order ``sort_array(collect_list(struct))`` fold used by
    event stitching.  Output: ``key, n_events, n_runs, rle (string
    'state:len state:len …' in sequence order)``."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(F.col(key_col), us.alias("_us"),
                     F.col(id_col).alias("_id"),
                     F.col(state_col).cast("string").alias("_s"))
    w = Window.partitionBy(key_col).orderBy("_us", "_id")
    flagged = base.withColumn(
        "_chg", F.when(F.lag("_s").over(w).isNull()
                       | (F.lag("_s").over(w) != F.col("_s")), 1)
        .otherwise(0))
    runs = (flagged
            .withColumn("_run", F.sum("_chg").over(
                w.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy(key_col, "_run")
            .agg(F.min("_s").alias("_state"),
                 F.count(F.lit(1)).alias("_len")))
    return (runs.groupBy(key_col)
            .agg(F.sum("_len").cast("long").alias("n_events"),
                 F.count(F.lit(1)).cast("long").alias("n_runs"),
                 F.array_join(F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("_run", "_state", "_len"))),
                     lambda x: F.concat_ws(
                         ":", x["_state"], x["_len"].cast("string"))),
                     " ").alias("rle")))


def decision_stump(df: DataFrame, value_col, label_col) -> DataFrame:
    """Exact distributed 1R decision-stump learner (Holte 1993): over
    an integer feature and a boolean label, find the single threshold
    rule — ``positive iff x <= t`` or ``positive iff x > t`` — with the
    maximum training accuracy.  Accuracies are EXACT integer counts
    derived from cumulative (positive, negative) counts at each
    distinct value: ``acc_le(t) = pos_cum(t) + (NEG − neg_cum(t))``,
    ``acc_gt(t)`` symmetric; the all-positive / all-negative majority
    rules appear as the top threshold's two orientations, so the
    learner can never return worse than the majority baseline.  Ties →
    'gt' before 'le' (ASCII), then smaller threshold.

    Scale shape: one map-side-combined per-value count, then BOTH
    cumulative counts ride ONE range-partitioned prefix sum via the
    same carry-free (pos, neg) bit-packing as :func:`ks_statistic`;
    the winner cut is TakeOrderedAndProject.  EAGER at
    plan-construction.  Output: ONE row — ``rule string, threshold
    long, n_correct long, n_total long, n_majority long``."""
    from frogocr_spark.operators.ranking import global_cumsum

    base = df.select(value_col.cast("long").alias("_v"),
                     F.when(label_col, 1).otherwise(0).alias("_y"))
    g = (base.groupBy("_v")
         .agg(F.sum("_y").alias("_p"),
              F.sum(1 - F.col("_y")).alias("_n")))
    tot = g.agg(F.sum("_p").alias("p"), F.sum("_n").alias("n")) \
        .collect()[0]
    pos, neg = int(tot["p"] or 0), int(tot["n"] or 0)
    if pos + neg == 0:
        raise ValueError("decision_stump: empty input")
    if max(pos, neg) >= (1 << 31):
        raise ValueError("class sizes must be < 2^31 for the packed "
                         "prefix sum")
    packed = g.select(
        "_v", (F.col("_p") * (1 << 31) + F.col("_n")).alias("_pk"))
    cum = global_cumsum(packed, ["_v"], "_pk", cumsum_col="_e")
    inc = F.col("_e") + F.col("_pk")
    pc = F.shiftright(inc, 31)
    nc = inc.bitwiseAND(F.lit((1 << 31) - 1))
    cand = cum.select(
        F.col("_v").alias("threshold"),
        F.explode(F.array(
            F.struct(F.lit("le").alias("rule"),
                     (pc + (F.lit(neg) - nc)).alias("n_correct")),
            F.struct(F.lit("gt").alias("rule"),
                     (nc + (F.lit(pos) - pc)).alias("n_correct"))))
        .alias("_c"))
    best = (cand.select("threshold", "_c.rule",
                        F.col("_c.n_correct").cast("long")
                        .alias("n_correct"))
            .orderBy(F.desc("n_correct"), F.asc("rule"),
                     F.asc("threshold"))
            .limit(1))
    return best.select(
        "rule", "threshold", "n_correct",
        F.lit(pos + neg).cast("long").alias("n_total"),
        F.lit(max(pos, neg)).cast("long").alias("n_majority"))


def dwell_time(df: DataFrame, key_col: str, attr_col: str,
               ts_col: str = "ts", id_col: str = "event_id"
               ) -> DataFrame:
    """Duration-weighted state statistics — total DWELL TIME per
    attribute value over the SCD2 validity intervals (time-in-state:
    how long users actually SAT in each state, vs. event counts which
    ignore duration).  Open (current) versions are capped at the
    corpus-wide max event time, so the measure is exact over the
    observed horizon.

    Pure composition: :func:`scd2_history` (change-bounded output) →
    one map-side-combined attr-keyed agg; the cap is a collected 1-row
    max (EAGER, O(1) driver traffic).  Output: ``attr, n_versions,
    n_open, dwell_us (all long)``."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cap = df.agg(F.max(us).alias("m")).collect()[0]["m"]
    if cap is None:
        raise ValueError("dwell_time: empty input")
    dim = scd2_history(df, key_col, attr_col, ts_col, id_col)
    end = F.coalesce(F.col("valid_to_us"), F.lit(int(cap)))
    return (dim.groupBy("attr")
            .agg(F.count(F.lit(1)).cast("long").alias("n_versions"),
                 F.sum(F.col("valid_to_us").isNull().cast("long"))
                 .cast("long").alias("n_open"),
                 F.sum(end - F.col("valid_from_us")).cast("long")
                 .alias("dwell_us")))


def disorder_stats(df: DataFrame, key_col: str, ts_col: str = "ts",
                   arrival_col: str = "event_id") -> DataFrame:
    """Event-time DISORDER measurement per key — the statistic that
    TUNES a streaming watermark delay: with ``arrival_col`` as the
    arrival order, an event is LATE if its event time precedes the
    running max event time of earlier arrivals; ``max_lateness_us`` is
    the smallest watermark delay that would have dropped nothing.

    One keyed window (running max over the arrival order, exclusive) +
    one keyed agg — exact integer micros.  Output: ``key, n_events,
    n_late, max_lateness_us (long)``."""
    from pyspark.sql import Window

    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(F.col(key_col), us.alias("_us"),
                     F.col(arrival_col).alias("_a"))
    w = (Window.partitionBy(key_col).orderBy("_a")
         .rowsBetween(Window.unboundedPreceding, -1))
    late = F.greatest(F.lit(0).cast("long"),
                      F.coalesce(F.max("_us").over(w), F.col("_us"))
                      - F.col("_us"))
    return (base.withColumn("_late", late)
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.sum((F.col("_late") > 0).cast("long")).cast("long")
                 .alias("n_late"),
                 F.max("_late").cast("long").alias("max_lateness_us")))


def rfm_segments(df: DataFrame, key_col: str, value_col,
                 ts_col: str = "ts", n_buckets: int = 3
                 ) -> DataFrame:
    """RFM segmentation (the classic marketing/customer-analytics
    operator): per key compute Recency (micros from the key's last
    event to the corpus horizon), Frequency (event count) and Monetary
    (exact integer value sum), score each dimension into ``n_buckets``
    equi-depth buckets (1-based, ascending metric value — bucket of
    rank r is ``1 + ((r−1)·B) DIV n``, the equidepth_histogram
    arithmetic), and roll up per segment string ``'r-f-m'``.

    Scale shape: one keyed per-user agg; each dimension's rank comes
    from the range-partitioned :func:`~frogocr_spark.operators.ranking.
    global_rank` (no single-partition window); the rollup is one keyed
    agg over 27 (=B³) segments.  EAGER (three global_rank calls).
    Output: ``segment string, n_users long``."""
    from frogocr_spark.operators.ranking import global_rank

    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    per = (df.groupBy(key_col)
           .agg(F.max(us).alias("_last"),
                F.count(F.lit(1)).cast("long").alias("_f"),
                F.sum(value_col.cast("long")).cast("long").alias("_m")))
    cap = per.agg(F.max("_last").alias("c")).collect()[0]["c"]
    per = per.withColumn("_r", F.lit(int(cap)) - F.col("_last"))
    n = per.count()
    out = per
    for dim in ("_r", "_f", "_m"):
        ranked = global_rank(out.select(key_col, dim), [dim, key_col],
                             "_rk")
        scored = ranked.select(
            key_col,
            F.expr(f"CAST(1 + ((_rk - 1) * {int(n_buckets)}) "
                   f"DIV {int(n)} AS INT)").alias(f"s{dim}"))
        out = out.join(scored, key_col)
    seg = F.concat_ws("-", F.col("s_r").cast("string"),
                      F.col("s_f").cast("string"),
                      F.col("s_m").cast("string"))
    return (out.select(seg.alias("segment"))
            .groupBy("segment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users")))


def iqr_outliers(df: DataFrame, group_col: str, value_col,
                 id_col: str = "event_id") -> DataFrame:
    """Tukey-fence outlier counts per group, integer-exact: quartiles
    are nearest-rank (:func:`quantile_summary`), and the 1.5·IQR fences
    are tested as ``2v < 2·p25 − 3·IQR`` / ``2v > 2·p75 + 3·IQR`` — all
    int64, no float 1.5 to round.  The robust-fences complement of the
    3σ test in :func:`zscore_outliers`.

    Scale shape: one keyed rank window for the quartiles (group-sized
    cut table broadcast back) + one map-side-combined probe agg.
    Output: ``group, n, p25, p75, n_low, n_high (all long)``."""
    q = (quantile_summary(df, group_col, value_col, id_col,
                          ps=(25, 75))
         .select(group_col, "n", "p25", "p75"))
    base = df.select(group_col, value_col.cast("long").alias("_v"))
    j = base.join(F.broadcast(q), group_col)
    iqr = F.col("p75") - F.col("p25")
    low = (2 * F.col("_v")) < (2 * F.col("p25") - 3 * iqr)
    high = (2 * F.col("_v")) > (2 * F.col("p75") + 3 * iqr)
    return (j.groupBy(group_col)
            .agg(F.max("n").alias("n"),
                 F.max("p25").alias("p25"),
                 F.max("p75").alias("p75"),
                 F.sum(low.cast("long")).cast("long").alias("n_low"),
                 F.sum(high.cast("long")).cast("long").alias("n_high")))


def ewma_trunc(df: DataFrame, key_col: str, value_col,
               k: int = 8, ts_col: str = "ts",
               id_col: str = "event_id") -> DataFrame:
    """Truncated exponentially-weighted moving average (α = 1/2) per
    key over the total event order (ts, id) — the smoothing primitive
    of monitoring/trend pipelines, restated EXACTLY: the newest of the
    last ``k`` values gets weight 2^(k−1), each step back halves, so

        num = Σ_{i=0..m-1} 2^(k-1-i) · x_{t-i}     (m ≤ k present rows)
        den = Σ_{i=0..m-1} 2^(k-1-i)

    are exact int64 sums (``value_col`` must be integer-valued —
    pre-scale floats with an exact ``floor(x·10^6)``) and
    ``ewma = num DIV den`` is one truncating division — no recursive
    float state whose rounding could differ per engine or partition
    order.  Truncating at ``k`` is what makes a window expression of
    an inherently recursive statistic possible; at α = 1/2 the dropped
    tail weighs < 2^−k of the total.

    Scale shape: the k-term sum is an UNROLLED ``lag`` expression over
    ONE keyed window (k = 8 fixed columns, no array build, no fold) —
    a single shuffle on the key, never a global sort.  Output: one row
    per event ``(key, id, x, ewma)``."""
    if not (1 <= k <= 62):
        raise ValueError("k must be in [1, 62]")
    from pyspark.sql import Window
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.select(F.col(key_col).alias("key"),
                     F.col(id_col).alias("id"), us.alias("us"),
                     value_col.cast("long").alias("x"))
    w = Window.partitionBy("key").orderBy("us", "id")
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for i in range(k):
        wt = 1 << (k - 1 - i)
        xi = F.lag("x", i).over(w) if i else F.col("x")
        num = num + F.coalesce(xi * wt, F.lit(0))
        den = den + F.when(xi.isNotNull(), F.lit(wt)).otherwise(0)
    return (base.withColumn("_num", num).withColumn("_den", den)
            .select(F.col("key").alias(key_col),
                    F.col("id").alias(id_col), "x",
                    F.expr("_num DIV _den").alias("ewma")))


def benford_digits(df: DataFrame, value_col) -> DataFrame:
    """Benford's-law first-digit audit (the classic fraud/synthetic
    -data screen): observed counts and frequencies of the leading
    significant digit vs the Benford expectation log10(1 + 1/d).  The
    expectation is nine CONSTANTS (fixed at authoring time, in
    millionths — no runtime log whose libm rounding could differ), the
    observed side is exact integer counts and one truncating division;
    ``delta_e6`` is the absolute frequency gap.  ``value_col`` must be
    >= 1 (leading digit of the integer part; the caller filters).

    Scale shape: ONE map-side-combined 9-group aggregation — nothing
    else.  Output: ``(digit, n, freq_e6, benford_e6, delta_e6)``."""
    # round(log10(1 + 1/d) * 1e6) for d = 1..9, fixed constants
    bens = [301030, 176091, 124939, 96910, 79181,
            66947, 58503, 51153, 45757]
    digit = F.substring(F.floor(value_col).cast("long").cast("string"),
                        1, 1).cast("int")
    counts = (df.select(digit.alias("digit"))
              .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    total = counts.select(F.sum("n").alias("n_all"))
    ben = F.element_at(F.array(*[F.lit(b) for b in bens]),
                       F.col("digit"))
    return (counts.crossJoin(F.broadcast(total))
            .withColumn("freq_e6", F.expr("(n * 1000000) DIV n_all"))
            .withColumn("benford_e6", ben)
            .withColumn("delta_e6",
                        F.abs(F.col("freq_e6") - F.col("benford_e6")))
            .select("digit", F.col("n").cast("long").alias("n"),
                    "freq_e6",
                    F.col("benford_e6").cast("long").alias("benford_e6"),
                    F.col("delta_e6").cast("long").alias("delta_e6")))


def session_paths(df: DataFrame, key_col: str, state_col: str,
                  depth: int = 3, k: int = 20, ts_col: str = "ts",
                  id_col: str = "event_id") -> DataFrame:
    """Top-``k`` opening behavior paths: each key's first ``depth``
    states under the total order (ts, id) joined with '>' — the
    "how do journeys start" report of product analytics.  Determinism:
    the order key (epoch-micros, id) is total, the path string is
    exact, and the k-cut breaks count ties on the path text.

    Scale shape: ONE keyed collect (min_by-style: sort_array of
    (us, id, state) structs built per key, sliced to ``depth``) + one
    path-keyed count, both map-side combinable; the final cut is
    TakeOrdered-style (orderBy + limit), never a global sort.
    Output: ``(path, n_keys)``."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    per_key = (df.select(F.col(key_col).alias("key"),
                         F.struct(us.alias("us"),
                                  F.col(id_col).alias("id"),
                                  F.col(state_col).alias("s"))
                         .alias("e"))
               .groupBy("key")
               .agg(F.array_sort(F.collect_list("e")).alias("es")))
    paths = per_key.select(
        F.concat_ws(">", F.expr(
            f"transform(slice(es, 1, {int(depth)}), e -> e.s)"))
        .alias("path"))
    return (paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_keys"))
            .orderBy(F.col("n_keys").desc(), F.col("path").asc())
            .limit(int(k))
            .select("path", F.col("n_keys").cast("long").alias("n_keys")))


def drift_chi2(df: DataFrame, state_col: str,
               ts_col: str = "ts") -> DataFrame:
    """Distribution-drift audit: chi-square homogeneity of the
    ``state_col`` distribution between the EARLY and LATE halves of the
    corpus time window (split at the integer midpoint day — exact both
    -engine arithmetic, no calendar rules).  The per-category
    contribution of the 2×k homogeneity statistic reduces to

        chi2_e6 = (a·N_B − b·N_A)² · 10^6 DIV (N_A · N_B · (a+b))

    (a, b = category counts in each half; N_A, N_B = half totals) — an
    algebraic identity of Σ(O−E)²/E for the 2-row table, computed as
    exact DECIMAL(38,0) products with one truncating division, so the
    drift decision can never flip on a float ulp.  Degenerate windows
    (one half empty) emit NULL.

    Scale shape: exactly TWO corpus scans — a 1-row min/max aggregate
    (the split point, broadcast back) and ONE map-side-combined
    (category)-keyed conditional count; the half totals come from an
    unpartitioned window over the POST-AGGREGATION relation (bounded by
    the category cardinality, never the corpus — the acceptable
    SinglePartition: k rows, not N), so the count lineage is never
    re-derived for the totals.  Output: ``(state, n_a, n_b,
    chi2_e6)``."""
    from pyspark.sql import Window
    dec = "decimal(38,0)"
    day = F.expr(f"unix_micros(CAST({ts_col} AS TIMESTAMP)) "
                 f"DIV {US_PER_DAY}").alias("day")
    base = df.select(F.col(state_col).alias("state"), day)
    bounds = base.agg(
        F.min("day").alias("d_lo"), F.max("day").alias("d_hi"))
    # integer midpoint: (lo + hi + 1) DIV 2 (days are non-negative here;
    # unix day of the synthetic corpora — documented)
    split = bounds.select(
        F.expr("(d_lo + d_hi + 1) DIV 2").alias("d_split"))
    tagged = base.crossJoin(F.broadcast(split)).withColumn(
        "early", (F.col("day") < F.col("d_split")).cast("int"))
    per = tagged.groupBy("state").agg(
        F.sum("early").alias("a"),
        F.sum(1 - F.col("early")).alias("b"))
    wall = Window.partitionBy()
    d = lambda c: F.col(c).cast(dec)  # noqa: E731
    out = (per.withColumn("na", F.sum("a").over(wall))
           .withColumn("nb", F.sum("b").over(wall))
           .withColumn("_num",
                       (d("a") * d("nb") - d("b") * d("na"))
                       * (d("a") * d("nb") - d("b") * d("na"))
                       * F.lit(1000000).cast(dec))
           .withColumn("_den", d("na") * d("nb") * (d("a") + d("b")))
           .withColumn("chi2_e6",
                       F.when(F.col("_den") > 0,
                              F.expr("_num DIV _den"))))
    return out.select(F.col("state").alias(state_col),
                      F.col("a").cast("long").alias("n_a"),
                      F.col("b").cast("long").alias("n_b"),
                      "chi2_e6")


def activity_bitmap(df: DataFrame, key_col: str,
                    ts_col: str = "ts") -> DataFrame:
    """Per-key hour-of-day activity bitmap: bit h set iff the key has
    at least one event in hour-of-day h — the roaring-bitmap-style
    presence encoding for small domains, here packed into ONE int64
    (24 bits) with ``bit_or`` so set-union IS the aggregation monoid
    (idempotent, order-free, exactly-once-friendly — the HLL-register
    argument).  ``n_hours = bit_count(mask)`` is the distinct count for
    free.

    Scale shape: ONE map-side-combined keyed agg; the shuffle carries
    one long per (key, partition), never the events.  Output: ``(key,
    hours_mask, n_hours)``."""
    hod = F.expr(f"(unix_micros(CAST({ts_col} AS TIMESTAMP)) "
                 f"DIV 3600000000) % 24")
    return (df.select(F.col(key_col).alias("key"), hod.alias("h"))
            .groupBy("key")
            .agg(F.expr("bit_or(CAST(1 AS BIGINT) << CAST(h AS INT))")
                 .alias("hours_mask"))
            .select(F.col("key").alias(key_col),
                    F.col("hours_mask").cast("long").alias("hours_mask"),
                    F.expr("bit_count(hours_mask)").cast("int")
                    .alias("n_hours")))


def log2_histogram(df: DataFrame, group_col: str,
                   value_col) -> DataFrame:
    """Power-of-two (gamma = 2) exponential histogram — the DDSketch
    /HdrHistogram bucketing family with the float log replaced by an
    EXACT integer: bucket = floor(log2(v)) = length(bin(v)) − 1 for
    positive int64 v (the binary-digit-count identity; both engines'
    ``bin`` emit no leading zeros).  Guarantees every count lands in
    the bit-identical bucket in any engine — relative-error-bounded
    quantile sketching with none of libm's rounding ambiguity.
    ``value_col`` must be a positive integer expression (pre-scale
    floats, e.g. cents).

    Scale shape: ONE map-side-combined (group, bucket) agg — state is
    ≤ 63 buckets per group regardless of data.  Output: ``(group,
    bucket, lo, hi, n)`` with [lo, hi] the bucket's value range."""
    v = value_col.cast("long")
    base = df.select(F.col(group_col).alias("grp"), v.alias("v"))
    return (base.where(F.col("v") > 0)
            .withColumn("bucket",
                        (F.length(F.expr("bin(v)")) - 1).cast("int"))
            .groupBy("grp", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("grp").alias(group_col), "bucket",
                    F.expr("CAST(1 AS BIGINT) << bucket").alias("lo"),
                    F.expr("(CAST(1 AS BIGINT) << (bucket + 1)) - 1")
                    .alias("hi"),
                    F.col("n").cast("long").alias("n")))


def weighted_median(df: DataFrame, group_col: str, value_col,
                    weight_col, id_col: str = "event_id") -> DataFrame:
    """Exact weighted median per group: the smallest value v (ties by
    id) whose cumulative weight reaches half the total —
    ``2·cumw >= totw`` decided in pure int64 (the nearest-rank
    discipline of ``quantile_summary`` generalized to weights; an
    interpolating weighted median would be float-ambiguous
    cross-engine).  ``value_col`` and ``weight_col`` must be
    integer-valued, weights positive.

    Scale shape: ONE keyed window (cumulative weight under the total
    (v, id) order — partitioned by group, never global), the total from
    the same window's final frame (no second scan: max over the
    group-keyed running sum), then a min-struct argmin per group.
    Output: ``(group, median_v, tot_w)``."""
    from pyspark.sql import Window
    base = df.select(F.col(group_col).alias("grp"),
                     value_col.cast("long").alias("v"),
                     weight_col.cast("long").alias("w"),
                     F.col(id_col).alias("id"))
    wrun = (Window.partitionBy("grp").orderBy("v", "id")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("grp")
    cum = (base.withColumn("cumw", F.sum("w").over(wrun))
           .withColumn("totw", F.sum("w").over(wall)))
    hit = cum.where(2 * F.col("cumw") >= F.col("totw"))
    return (hit.groupBy("grp")
            .agg(F.min(F.struct("v", "id")).alias("m"),
                 F.max("totw").alias("tot_w"))
            .select(F.col("grp").alias(group_col),
                    F.col("m.v").alias("median_v"),
                    F.col("tot_w").cast("long").alias("tot_w")))


def time_weighted_avg(df: DataFrame, key_col: str, value_col,
                      ts_col: str = "ts",
                      id_col: str = "event_id") -> DataFrame:
    """Time-weighted average (TWAP) per key: each event's value holds
    from its timestamp until the key's next event; the average weights
    values by that holding duration —

        twap = Σ v_i · dt_i  DIV  Σ dt_i

    with ``v`` integer-valued (pre-scale floats to cents) and ``dt`` in
    exact integer microseconds, both sums carried as DECIMAL(38,0) and
    finished with ONE truncating division — the finance/metering
    statistic with zero float ambiguity.  The key's LAST event has no
    successor and contributes no interval (the ``dwell_time`` open
    -interval convention); single-event keys have no interval at all
    and are absent from the output (the caller left-joins if it needs
    a row).

    Scale shape: one keyed lead window (next event time under the
    (ts, id) total order) + one map-side-combined keyed agg.  Output:
    ``(key, twap, total_us)``."""
    from pyspark.sql import Window
    dec = "decimal(38,0)"
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy("key").orderBy("us", "id")
    base = (df.select(F.col(key_col).alias("key"),
                      F.col(id_col).alias("id"), us.alias("us"),
                      value_col.cast("long").alias("v"))
            .withColumn("dt", F.lead("us").over(w) - F.col("us"))
            .where(F.col("dt").isNotNull()))
    agg = base.groupBy("key").agg(
        F.sum((F.col("v") * F.col("dt")).cast(dec)).alias("svdt"),
        F.sum(F.col("dt").cast(dec)).alias("sdt"))
    return (agg.withColumn(
        "twap", F.when(F.col("sdt") > 0, F.expr("svdt DIV sdt"))
        .cast("long"))
        .select(F.col("key").alias(key_col), "twap",
                F.col("sdt").cast("long").alias("total_us")))


def largest_remainder_alloc(df: DataFrame, key_col: str, count_col,
                            total: int) -> DataFrame:
    """Proportional integer allocation by the largest-remainder
    (Hamilton) method: distribute exactly ``total`` units across groups
    proportionally to their counts — quota = n_i·total / T floored,
    the leftover units going to the largest fractional remainders
    (ties by key asc).  THE deterministic way to turn float-ish
    proportions into an exact integer budget (sampling quotas, shard
    assignments, seat apportionment) — every step is int64/DECIMAL
    arithmetic, Σ alloc == total always.

    Scale shape: one keyed count is assumed done by the caller
    (``count_col`` on group rows); here: one unpartitioned window over
    the GROUP rows for T and the remainder rank (bounded by group
    cardinality, never the corpus — the drift_chi2 convention).
    Output: ``(key, n, base, extra, alloc)``."""
    from pyspark.sql import Window
    if total < 0:
        raise ValueError("total must be >= 0")
    dec = "decimal(38,0)"
    base = df.select(F.col(key_col).alias("key"),
                     count_col.cast("long").alias("n"))
    wall = Window.partitionBy()
    wrank = Window.partitionBy().orderBy(
        F.col("rem").desc(), F.col("key").asc())
    out = (base.withColumn("t", F.sum("n").over(wall))
           .withColumn("_nt", (F.col("n").cast(dec)
                               * F.lit(int(total)).cast(dec)))
           .withColumn("base", F.expr("_nt DIV t").cast("long"))
           .withColumn("rem", F.expr("_nt % t").cast("long"))
           .withColumn("sbase", F.sum("base").over(wall))
           .withColumn("rk", F.row_number().over(wrank))
           .withColumn("extra",
                       (F.col("rk") <= F.lit(int(total)) - F.col("sbase"))
                       .cast("int")))
    return out.select("key", "n", "base", "extra",
                      (F.col("base") + F.col("extra")).cast("long")
                      .alias("alloc"))


def mannwhitney_u(df_a: DataFrame, df_b: DataFrame, value_col,
                  id_col: str, alpha_num: int = 38416,
                  alpha_den: int = 10000) -> DataFrame:
    """Two-sample Mann-Whitney rank test, decided EXACTLY: both samples
    are pooled and ranked under the total (value, sample, id) order
    (row_number — a deterministic tie policy, documented: no midrank
    correction, so heavy ties shade the variance slightly; the
    decision inequality below uses the no-ties variance), then

        U = R_A − n_A(n_A+1)/2
        z² > α  ⟺  (2U − n_A·n_B)² · 3 · alpha_den
                    > alpha_num · n_A · n_B · (n_A+n_B+1)

    — ONE integer cross-multiplication in DECIMAL(38,0) (the
    two_prop_test discipline), no float ever.  The nonparametric
    "did distribution A shift vs B" gate that needs no normality
    assumption.  ``value_col`` must be integer-valued.

    Scale shape: ranks ride ONE range-partitioned global_rank (no
    single-partition sort); everything after is a 2-row aggregate.
    Output: one row ``(n_a, n_b, u2, z2_e6, significant)`` where
    ``u2 = 2U`` (exact, avoids halves)."""
    from frogocr_spark.operators.ranking import global_rank
    dec = "decimal(38,0)"
    a = df_a.select(value_col.cast("long").alias("v"),
                    F.lit(0).alias("s"), F.col(id_col).alias("id"))
    b = df_b.select(value_col.cast("long").alias("v"),
                    F.lit(1).alias("s"), F.col(id_col).alias("id"))
    pooled = a.unionByName(b)
    ranked = global_rank(pooled, ["v", "s", "id"])
    agg = (ranked.groupBy()
           .agg(F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
                .alias("n_a"),
                F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
                .alias("n_b"),
                F.sum(F.when(F.col("s") == 0, F.col("rank")))
                .alias("ra")))
    d = lambda c: F.col(c).cast(dec)  # noqa: E731
    u2 = (F.lit(2).cast(dec) * d("ra")
          - d("n_a") * (d("n_a") + F.lit(1).cast(dec)))
    out = (agg.withColumn("u2", u2)
           .withColumn("_lhs",
                       (F.col("u2") - d("n_a") * d("n_b"))
                       * (F.col("u2") - d("n_a") * d("n_b"))
                       * F.lit(3 * alpha_den).cast(dec))
           .withColumn("_rhs",
                       F.lit(alpha_num).cast(dec) * d("n_a") * d("n_b")
                       * (d("n_a") + d("n_b") + F.lit(1).cast(dec)))
           .withColumn("_den", d("n_a") * d("n_b")
                       * (d("n_a") + d("n_b") + F.lit(1).cast(dec))))
    return out.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("u2").cast("long").alias("u2"),
        F.when(F.col("_den") > 0,
               F.expr("((u2 - n_a * CAST(n_b AS DECIMAL(38,0))) "
                      "* (u2 - n_a * CAST(n_b AS DECIMAL(38,0))) "
                      "* 3000000) DIV _den")).alias("z2_e6"),
        F.coalesce((F.col("_den") > 0)
                   & (F.col("_lhs") > F.col("_rhs")), F.lit(False))
        .alias("significant"))


def hhi_concentration(df: DataFrame, group_col: str,
                      value_col) -> DataFrame:
    """Herfindahl–Hirschman market-concentration index per group —
    the antitrust / source-mix-diversity audit (is one supplier /
    data source dominating a market / training mix?).

    Input: one row per (group, entity) with a non-negative integer
    ``value_col`` (an entity's total — revenue cents, token counts).
    HHI = Σ share_i² over entities, reported exactly in 10^-8 units::

        hhi_e8 = (Σ v_i²) · 10^8  DIV  (Σ v_i)²

    — one truncating division over DECIMAL(38,0) sums, so the result
    is identical under any partitioning/engine (a float Σ share²
    would drift in the last ulp per summation order).  Range: 10^8/n
    (perfect competition) … 10^8 (monopoly).  Groups with zero total
    are dropped (share undefined).

    Scale shape: ONE map-side-combined keyed aggregation carrying two
    DECIMAL sums and a count; output is one row per group.  Overflow
    headroom: exact while Σ v² · 10^8 < 10^38, i.e. per-entity values
    up to ~10^15 with 10^14 entities per group."""
    v = F.col(value_col).cast("decimal(38,0)")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_entities"),
        F.sum(v).alias("_tot"),
        F.sum(v * v).alias("_ss"))
    return (agg.where(F.col("_tot") > 0)
            .select(group_col,
                    F.col("n_entities").cast("long").alias("n_entities"),
                    F.col("_tot").cast("long").alias("total"),
                    F.expr("(_ss * 100000000) DIV (_tot * _tot)")
                    .cast("long").alias("hhi_e8")))


def auc_exact(df: DataFrame, score, is_pos) -> DataFrame:
    """Exact ROC-AUC as the midrank Mann-Whitney statistic — the
    binary-ranker evaluation (AUC = P(score⁺ > score⁻) + ½·P(=)),
    computed WITHOUT materializing the n⁺·n⁻ pair space and without a
    single float: per distinct score ``v`` the positive/total counts,
    then doubled midranks from the exclusive prefix count

        2·midrank(v) = 2·cnt_below(v) + cnt(v) + 1   (always integer)

    so  ``u2 = Σ_pos 2·midrank − n⁺(n⁺+1) = 2U``  and

        auc_e6 = u2 · 10^6  DIV  (2 · n⁺ · n⁻)

    — one truncating DECIMAL(38,0) division (the hhi/two_prop
    discipline); NULL when either class is empty.  Unlike
    :func:`mannwhitney_u` (row_number tie policy) this uses TRUE
    midranks, so ties contribute exactly ½ — the textbook AUC.

    Scale shape: one map-side-combined agg onto the DISTINCT-score
    domain, an exclusive prefix count riding the range-partitioned
    :func:`~frogocr_spark.operators.ranking.global_cumsum` (no
    single-partition window), then a 1-row aggregate.  ``score`` must
    be integer-valued.  Output: ``(n_pos, n_neg, u2, auc_e6)``."""
    from frogocr_spark.operators.ranking import global_cumsum
    dec = "decimal(38,0)"
    g = (df.select(score.cast("long").alias("v"),
                   is_pos.cast("int").alias("y"))
         .groupBy("v").agg(F.count(F.lit(1)).alias("cnt"),
                           F.sum("y").alias("npos")))
    c = global_cumsum(g, ["v"], "cnt", cumsum_col="cb")
    d = lambda col: F.col(col).cast(dec)  # noqa: E731
    agg = (c.groupBy()
           .agg(F.sum("npos").alias("n_pos"),
                F.sum(F.col("cnt") - F.col("npos")).alias("n_neg"),
                F.sum(d("npos") * (F.lit(2).cast(dec) * d("cb")
                                   + d("cnt") + F.lit(1).cast(dec)))
                .alias("_r2")))
    return (agg.withColumn(
        "u2", F.col("_r2") - d("n_pos") * (d("n_pos")
                                           + F.lit(1).cast(dec)))
        .select(F.col("n_pos").cast("long").alias("n_pos"),
                F.col("n_neg").cast("long").alias("n_neg"),
                F.col("u2").cast("long").alias("u2"),
                F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0),
                       F.expr("(u2 * 1000000) DIV "
                              "(2 * CAST(n_pos AS DECIMAL(38,0)) "
                              "* n_neg)").cast("long"))
                .alias("auc_e6")))


def abc_classes(df: DataFrame, key_col: str, value_col: str,
                cut_a: int = 80, cut_b: int = 95) -> DataFrame:
    """ABC / Pareto analysis — the inventory-management classic (which
    items carry 80 % of the value?): items ranked by value descending
    under the total ``(-value, key)`` order; an item is class A while
    the INCLUSIVE cumulative value stays within ``cut_a`` % of the
    grand total, B within ``cut_b`` %, else C — decided exactly as
    ``cum·100 <= cut·total`` (one integer cross-multiplication per
    row, no float share).  A zero/negative grand total puts everything
    in C (shares undefined; documented).

    Scale shape: the cumulative value rides the range-partitioned
    :func:`~frogocr_spark.operators.ranking.global_cumsum` (exclusive
    prefix + own value = inclusive, NO single-partition window); the
    grand total is a 1-row aggregate broadcast back; the rollup is one
    keyed agg over 3 classes.  ``value_col`` must be a long.  Output:
    ``(abc_class, n_items, class_value, share_e6)`` with
    ``share_e6 = class_value·10^6 DIV total``."""
    from frogocr_spark.operators.ranking import global_cumsum
    base = (df.select(F.col(key_col).alias("k"),
                      F.col(value_col).cast("long").alias("v"))
            .withColumn("_negv", -F.col("v")))
    c = (global_cumsum(base, ["_negv", "k"], "v", cumsum_col="cb")
         .withColumn("cum", F.col("cb") + F.col("v")))
    tot = c.groupBy().agg(F.sum("v").cast("long").alias("_tot"))
    dec = "decimal(38,0)"
    cls = (c.crossJoin(F.broadcast(tot))
           .withColumn("abc_class", F.when(
               F.col("cum").cast(dec) * 100
               <= F.lit(cut_a).cast(dec) * F.col("_tot"), "A")
               .when(F.col("cum").cast(dec) * 100
                     <= F.lit(cut_b).cast(dec) * F.col("_tot"), "B")
               .otherwise("C")))
    return (cls.groupBy("abc_class")
            .agg(F.count(F.lit(1)).cast("long").alias("n_items"),
                 F.sum("v").cast("long").alias("class_value"),
                 F.max("_tot").alias("_t"))
            .select("abc_class", "n_items", "class_value",
                    F.when(F.col("_t") > 0,
                           F.expr("(CAST(class_value AS DECIMAL(38,0))"
                                  " * 1000000) DIV _t").cast("long"))
                    .alias("share_e6")))


def theil_sen_slope(points: DataFrame, x_col: str = "x",
                    y_col: str = "y") -> DataFrame:
    """Theil–Sen robust slope — the median of all pairwise slopes
    (y₂−y₁)/(x₂−x₁) over x₁ < x₂: the trend estimator with a 29 %
    breakdown point (a spike-day outlier moves OLS, not this).  Each
    slope is quantized to ``slope_e6 = (y₂−y₁)·10^6 DIV (x₂−x₁)``
    (truncation toward zero — verified identical in Spark DIV and
    DuckDB ``//``), and the estimate is the exact nearest-rank LOWER
    median of the quantized slopes under the total
    ``(slope_e6, x1, x2)`` order — rank ``(n_pairs+1) DIV 2``.

    PRECONDITION — bounded domain: callers aggregate to a
    calendar-bounded point set FIRST (days/weeks, not events), so the
    pair space is |calendar|², independent of corpus size; the pair
    join is a bounded non-equi self-join and the median window is the
    lrm_alloc bounded-SinglePartition class (windows over PAIR rows
    only, never the corpus).  Distinct x per row required (one point
    per x; equal x would divide by zero).  Output: one row
    ``(n_points, n_pairs, slope_e6)`` (NULLs when < 2 points)."""
    from pyspark.sql import Window
    a = points.select(F.col(x_col).cast("long").alias("x1"),
                      F.col(y_col).cast("long").alias("y1"))
    b = points.select(F.col(x_col).cast("long").alias("x2"),
                      F.col(y_col).cast("long").alias("y2"))
    pairs = (a.join(b, F.col("x1") < F.col("x2"))
             .withColumn("slope_e6",
                         F.expr("((y2 - y1) * CAST(1000000 AS "
                                "DECIMAL(38,0))) DIV (x2 - x1)")
                         .cast("long")))
    w = Window.orderBy("slope_e6", "x1", "x2")
    wa = Window.partitionBy()
    ranked = (pairs.withColumn("_rk", F.row_number().over(w))
              .withColumn("n_pairs", F.count(F.lit(1)).over(wa)))
    med = (ranked.where(F.col("_rk")
                        == F.expr("(n_pairs + 1) DIV 2"))
           .select(F.col("n_pairs").cast("long").alias("n_pairs"),
                   "slope_e6"))
    npts = points.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_points"))
    return (npts.join(F.broadcast(med), how="left")
            .select("n_points", "n_pairs", "slope_e6"))


def gini_exact(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Exact Gini coefficient of a non-negative value distribution — the
    inequality/concentration audit (how unevenly is revenue / token mass
    / sample weight spread?), the curve-integral sibling of the HHI
    point measure (:func:`hhi_concentration`).  Under the ascending
    ``(value, key)`` total order with 1-based ranks ``i``:

        G = (2·Σ i·vᵢ − (n+1)·Σ v) / (n·Σ v)

    (the classic rank formula; the numerator is ≥ 0 exactly when ranks
    ascend with values, which the sort guarantees), emitted as
    ``gini_e6 = num·10^6 DIV den`` — one truncating DECIMAL(38,0)
    division, no float anywhere; NULL when the total is 0.

    Scale shape: ranks ride the range-partitioned
    :func:`~frogocr_spark.operators.ranking.global_rank` (no
    single-partition sort; EAGER — see its note), then ONE
    map-side-combined global aggregate.
    ``value_col`` must be non-negative integers (quantize money to
    cents first).  Output: one row ``(n_items, total, gini_e6)``."""
    from .ranking import global_rank
    base = df.select(F.col(key_col).alias("k"),
                     F.col(value_col).cast("long").alias("v"))
    r = global_rank(base, ["v", "k"], rank_col="i")
    dec = "decimal(38,0)"
    agg = r.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("i").cast(dec) * F.col("v").cast(dec)).alias("t"))
    return agg.select(
        F.col("n").alias("n_items"),
        F.col("s").alias("total"),
        F.when(F.col("s") > 0, F.expr(
            "((2 * t - (CAST(n AS DECIMAL(38,0)) + 1) "
            "* CAST(s AS DECIMAL(38,0))) * 1000000) "
            "DIV (CAST(n AS DECIMAL(38,0)) * s)").cast("long"))
        .alias("gini_e6"))


def kendall_tau_a(points: DataFrame, x_col: str = "x",
                  y_col: str = "y") -> DataFrame:
    """Kendall tau-a rank correlation — the concordance trend test
    (monotone association decided by pair ORDER, not magnitudes): over
    all pairs x₁ < x₂, ``S = #concordant − #discordant`` (y-ties add 0)
    and

        tau_e6 = 2·S·10^6 DIV (n·(n−1))

    — integer-exact end to end (S is a sum of ±1/0; the one truncating
    division is the theil_sen DIV==// parity class, pinned for negative
    numerators by test).  The ordinal sibling of :func:`theil_sen_slope`
    (which estimates the SLOPE; this tests its SIGN strength).

    PRECONDITION — bounded domain, same as theil_sen: aggregate to a
    calendar-bounded point set FIRST; the pair join is |calendar|²,
    independent of corpus size.  Distinct x per row required.  Output:
    one row ``(n_points, n_pairs, concordant, discordant, tau_e6)``
    (tau NULL when < 2 points)."""
    a = points.select(F.col(x_col).cast("long").alias("x1"),
                      F.col(y_col).cast("long").alias("y1"))
    b = points.select(F.col(x_col).cast("long").alias("x2"),
                      F.col(y_col).cast("long").alias("y2"))
    pairs = a.join(b, F.col("x1") < F.col("x2"))
    pagg = pairs.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum((F.col("y2") > F.col("y1")).cast("long"))
        .alias("concordant"),
        F.sum((F.col("y2") < F.col("y1")).cast("long"))
        .alias("discordant"))
    npts = points.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_points"))
    return (npts.crossJoin(F.broadcast(pagg))
            .select("n_points", "n_pairs",
                    F.coalesce("concordant", F.lit(0)).cast("long")
                    .alias("concordant"),
                    F.coalesce("discordant", F.lit(0)).cast("long")
                    .alias("discordant"),
                    F.when(F.col("n_points") >= 2, F.expr(
                        "(2 * CAST(concordant - discordant AS "
                        "DECIMAL(38,0)) * 1000000) "
                        "DIV (CAST(n_points AS DECIMAL(38,0)) "
                        "* (n_points - 1))").cast("long"))
                    .alias("tau_e6")))


def cohen_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement between two categorical
    labelers — the chance-corrected agreement score every
    labeling/annotation pipeline reports (raw agreement is inflated by
    class imbalance; kappa subtracts the margin-product expectation):

        kappa = (n·Σdiag − Σ_c row_c·col_c) / (n² − Σ_c row_c·col_c)

    — the po/pe formula cleared of denominators, so ONE truncating
    DECIMAL(38,0) division emits ``kappa_e6`` exactly (negative =
    worse than chance — truncation parity with DuckDB ``//`` pinned by
    the theil_sen test class); NULL on the degenerate pe = 1 (both
    raters constant).  ``po_e6``/``pe_e6`` are emitted alongside.

    Scale shape: ONE map-side-combined (a, b) keyed count — the
    confusion matrix, ≤ |classes|² rows; margins, the pe inner join on
    class label, and the final math all run over matrix rows, never the
    corpus.  NOTE: the matrix is localCheckpointed (consumed three
    times; one corpus scan instead of three — the drift_chi2 lesson),
    so calling this runs Spark jobs EAGERLY.
    Output: one row ``(n, agree, po_e6, pe_e6, kappa_e6)``."""
    dec = "decimal(38,0)"
    cells = (df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
             .agg(F.count(F.lit(1)).alias("c")))
    cells = cells.localCheckpoint(eager=True)
    rowt = cells.groupBy("a").agg(F.sum("c").alias("ra"))
    colt = cells.groupBy("b").agg(F.sum("c").alias("cb"))
    pe = (rowt.join(colt, rowt["a"] == colt["b"])
          .groupBy().agg(F.sum(F.col("ra").cast(dec)
                               * F.col("cb").cast(dec)).alias("pe_num")))
    tot = cells.groupBy().agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), F.col("c"))
              .otherwise(F.lit(0))).cast("long").alias("agree"))
    return (tot.crossJoin(F.broadcast(pe))
            .withColumn("pe_num", F.coalesce(
                "pe_num", F.lit(0).cast(dec)))
            .select(
                "n", "agree",
                F.expr("(CAST(agree AS DECIMAL(38,0)) * 1000000) DIV n")
                .cast("long").alias("po_e6"),
                F.expr("(pe_num * 1000000) DIV (CAST(n AS "
                       "DECIMAL(38,0)) * n)").cast("long")
                .alias("pe_e6"),
                F.when(
                    F.expr("CAST(n AS DECIMAL(38,0)) * n") != F.col("pe_num"),
                    F.expr("((CAST(n AS DECIMAL(38,0)) * agree - pe_num) "
                           "* 1000000) DIV (CAST(n AS DECIMAL(38,0)) * n "
                           "- pe_num)").cast("long")).alias("kappa_e6")))


def fano_dispersion(df: DataFrame, group_col: str,
                    bucket_col) -> DataFrame:
    """Index of dispersion (Fano factor) of per-bucket event counts —
    the burstiness audit (Poisson traffic has F = 1; F ≫ 1 means
    clumped arrivals, F ≪ 1 means pacing):

        F = s²/mean = (n·Σc² − S²) / ((n−1)·S)

    over the OBSERVED buckets of each group (empty buckets are absent
    by construction — documented; bound the bucket domain upstream if
    zeros must count), emitted as ``fano_e6`` via one truncating
    DECIMAL(38,0) division; NULL for groups with < 2 buckets or zero
    total.

    Scale shape: ONE (group, bucket) keyed count (map-side combined),
    ONE group-keyed moment agg — both shuffles carry only aggregates.
    Output: ``(group, n_buckets, total, fano_e6)``."""
    dec = "decimal(38,0)"
    c = (df.groupBy(F.col(group_col).alias("group"),
                    bucket_col.cast("long").alias("_b"))
         .agg(F.count(F.lit(1)).alias("c")))
    m = (c.groupBy("group")
         .agg(F.count(F.lit(1)).cast("long").alias("n_buckets"),
              F.sum("c").cast("long").alias("total"),
              F.sum(F.col("c").cast(dec) * F.col("c").cast(dec))
              .alias("q")))
    return m.select(
        "group", "n_buckets", "total",
        F.when((F.col("n_buckets") >= 2) & (F.col("total") > 0),
               F.expr("((CAST(n_buckets AS DECIMAL(38,0)) * q "
                      "- CAST(total AS DECIMAL(38,0)) * total) "
                      "* 1000000) DIV ((CAST(n_buckets AS "
                      "DECIMAL(38,0)) - 1) * total)").cast("long"))
        .alias("fano_e6"))


def rate_spikes(df: DataFrame, group_col: str, bucket_col,
                sigmas: int = 3) -> DataFrame:
    """Per-group rate-spike detection with the EXACT k-sigma decision:
    a bucket's count ``c`` is a spike when it exceeds the group's
    bucket-count mean by more than ``sigmas`` sample standard
    deviations — decided without a sqrt or a float by squaring and
    cross-multiplying:

        (c·n − S)² · (n−1)  >  k² · n · (n·Q − S²)   and   c·n > S

    (n buckets, S = Σc, Q = Σc²; both sides DECIMAL(38,0), so the
    boundary bucket can never flip on a float ulp — the two_prop/
    rank_test discipline applied to anomaly detection).  Groups with
    < 2 buckets emit nothing (variance undefined).

    Scale shape: ONE (group, bucket) keyed count, ONE group-keyed
    moment agg (≤ |groups| rows) BROADCAST back onto the bucket
    counts — the corpus is scanned once and never re-shuffled.
    Output: ``(group, bucket, cnt)`` — spike buckets only."""
    dec = "decimal(38,0)"
    c = (df.groupBy(F.col(group_col).alias("group"),
                    bucket_col.cast("long").alias("bucket"))
         .agg(F.count(F.lit(1)).alias("cnt")))
    m = (c.groupBy("group")
         .agg(F.count(F.lit(1)).cast("long").alias("_n"),
              F.sum("cnt").cast("long").alias("_s"),
              F.sum(F.col("cnt").cast(dec) * F.col("cnt").cast(dec))
              .alias("_q")))
    k2 = int(sigmas) * int(sigmas)
    joined = c.join(F.broadcast(m.where(F.col("_n") >= 2)), "group")
    lhs = ("(CAST(cnt AS DECIMAL(38,0)) * _n - _s) "
           "* (CAST(cnt AS DECIMAL(38,0)) * _n - _s) "
           "* (CAST(_n AS DECIMAL(38,0)) - 1)")
    rhs = (f"{k2} * CAST(_n AS DECIMAL(38,0)) "
           "* (CAST(_n AS DECIMAL(38,0)) * _q "
           "- CAST(_s AS DECIMAL(38,0)) * _s)")
    return (joined
            .where(F.expr(f"({lhs}) > ({rhs})")
                   & (F.expr("CAST(cnt AS DECIMAL(38,0)) * _n")
                      > F.col("_s")))
            .select("group", "bucket",
                    F.col("cnt").cast("long").alias("cnt")))


def simpson_diversity(df: DataFrame, group_col: str,
                      text_col: str = "text") -> DataFrame:
    """Gini–Simpson vocabulary diversity per corpus slice — the
    repeat-probability audit (1 − P(two random tokens are the same
    type)): with per-type counts c over a slice of N tokens,

        D = 1 − Σ c·(c−1) / (N·(N−1))

    emitted as ``simpson_e6 = 10^6 − rep·10^6 DIV (N·(N−1))`` — the
    repeat numerator Σc·(c−1) is the integer already proven in
    ``lexical_diversity``, lifted from per-document to per-slice; NULL
    for slices with < 2 tokens.  Low D on one source = template spam.

    Scale shape: one token explode → ONE (slice, type) keyed count →
    ONE slice-keyed agg, all map-side combined; nothing wider than the
    (slice, type) relation.  Output: ``(group, n_tokens, n_types,
    simpson_e6)``."""
    dec = "decimal(38,0)"
    toks = df.select(
        F.col(group_col).alias("group"),
        F.explode(F.array_remove(
            F.split(F.trim(F.col(text_col)), r"\s+"), "")).alias("tok"))
    c = (toks.groupBy("group", "tok")
         .agg(F.count(F.lit(1)).alias("c")))
    m = (c.groupBy("group")
         .agg(F.sum("c").cast("long").alias("n_tokens"),
              F.count(F.lit(1)).cast("long").alias("n_types"),
              F.sum(F.col("c").cast(dec)
                    * (F.col("c").cast(dec) - 1)).alias("rep")))
    return m.select(
        "group", "n_tokens", "n_types",
        F.when(F.col("n_tokens") >= 2,
               F.lit(1_000_000).cast("long")
               - F.expr("(rep * 1000000) DIV "
                        "(CAST(n_tokens AS DECIMAL(38,0)) "
                        "* (n_tokens - 1))").cast("long"))
        .alias("simpson_e6"))


def cramers_v(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cramér's V association between two categorical columns — the
    normalized chi-square every corpus-composition audit wants (is
    `source` confounded with `lang`?).  The chi-square statistic is
    computed over the FULL r×c margin cross (zero cells contribute
    their expectation — the classic bug in observed-cells-only
    implementations) with each cell's contribution reduced to one
    exact integer expression (the drift_chi2 algebra):

        term_e6 = (O·N − R·C)²·10^6 DIV (N·R·C)

    summed order-independently (integer addition commutes — no float
    summation-order hazard), and ``v2_e6 = chi2_e6 DIV (N·(min(r,c)−1))``
    emits V² (no sqrt — by the engine's no-float discipline; take the
    root client-side).  NULL when min(r,c) < 2.

    Scale shape: ONE (a, b) keyed count (map-side combined); margins,
    the r×c cross, and the final sum all run over matrix rows, never
    the corpus.  The matrix is localCheckpointed (consumed three times
    — one corpus scan, the drift_chi2 lesson), so this runs EAGERLY.
    Output: one row ``(n, r, c, chi2_e6, v2_e6)``."""
    dec = "decimal(38,0)"
    cells = (df.groupBy(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
             .agg(F.count(F.lit(1)).alias("o")))
    cells = cells.localCheckpoint(eager=True)
    rowt = cells.groupBy("a").agg(F.sum("o").alias("ra"))
    colt = cells.groupBy("b").agg(F.sum("o").alias("cb"))
    tot = cells.groupBy().agg(
        F.sum("o").cast("long").alias("n"),
        F.countDistinct("a").cast("long").alias("r"),
        F.countDistinct("b").cast("long").alias("c"))
    full = (rowt.crossJoin(colt)
            .join(cells, ["a", "b"], "left")
            .withColumn("o", F.coalesce("o", F.lit(0)))
            .crossJoin(F.broadcast(tot)))
    terms = full.select(F.expr(
        "((CAST(o AS DECIMAL(38,0)) * n - CAST(ra AS DECIMAL(38,0)) "
        "* cb) * (CAST(o AS DECIMAL(38,0)) * n "
        "- CAST(ra AS DECIMAL(38,0)) * cb) * 1000000) "
        "DIV (CAST(n AS DECIMAL(38,0)) * ra * cb)").alias("t"))
    chi2 = terms.groupBy().agg(F.sum("t").cast("long").alias("chi2_e6"))
    return (tot.crossJoin(F.broadcast(chi2))
            .select("n", "r", "c", "chi2_e6",
                    F.when(F.least("r", "c") >= 2, F.expr(
                        "CAST(chi2_e6 AS DECIMAL(38,0)) DIV "
                        "(CAST(n AS DECIMAL(38,0)) "
                        "* (least(r, c) - 1))").cast("long"))
                    .alias("v2_e6")))


def eta_squared(df: DataFrame, group_col: str, value) -> DataFrame:
    """One-way ANOVA effect size η² = SSB/SST — how much of a metric's
    variance the grouping explains (the screening statistic before
    investing in a segmented model).  With integer values, group sums
    S_g / sizes n_g and global (N, S, Q=Σv²), each between-group term
    is quantized once, order-independently:

        ssb_e6 = Σ_g (S_g²·10^6 DIV n_g)  −  S²·10^6 DIV N
        sst_e6 = Q·10^6                   −  S²·10^6 DIV N
        eta2_e6 = ssb_e6·10^6 DIV sst_e6

    — every division is a truncating DECIMAL(38,0) DIV, so both
    engines compute bit-identical results (deterministic-exact; the
    e6 quantization per group is the documented approximation).  NULL
    when SST ≤ 0 (constant metric).

    Scale shape: ONE group-keyed agg (map-side combined) + one global
    agg over group rows; the corpus is scanned once.  Output: one row
    ``(n, k_groups, ssb_e6, sst_e6, eta2_e6)``."""
    dec = "decimal(38,0)"
    base = df.select(F.col(group_col).alias("g"),
                     value.cast("long").alias("v"))
    per = (base.groupBy("g")
           .agg(F.count(F.lit(1)).alias("ng"),
                F.sum("v").alias("sg"),
                F.sum(F.col("v").cast(dec) * F.col("v").cast(dec))
                .alias("qg")))
    agg = per.groupBy().agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("sg").cast("long").alias("s"),
        F.sum("qg").alias("q"),
        F.sum(F.expr("(CAST(sg AS DECIMAL(38,0)) * sg * 1000000) "
                     "DIV ng")).alias("bterm"))
    out = agg.select(
        "n", "k_groups",
        (F.col("bterm") - F.expr("(CAST(s AS DECIMAL(38,0)) * s "
                                 "* 1000000) DIV n"))
        .cast("long").alias("ssb_e6"),
        (F.col("q") * 1_000_000
         - F.expr("(CAST(s AS DECIMAL(38,0)) * s * 1000000) DIV n"))
        .cast("long").alias("sst_e6"))
    return out.withColumn(
        "eta2_e6",
        F.when(F.col("sst_e6") > 0,
               F.expr("(CAST(ssb_e6 AS DECIMAL(38,0)) * 1000000) "
                      "DIV sst_e6").cast("long")))


def group_effects(df: DataFrame, group_col: str, value) -> DataFrame:
    """Per-group effect report — the segmented follow-up a significant
    :func:`eta_squared` demands (WHICH groups sit above/below the grand
    mean, by how much?): per group the exact e6 mean and its signed
    delta vs the grand mean, both truncating DECIMAL(38,0) divisions
    on integer values (means quantized once each; the delta is the
    difference of the two quantized means — deterministic on any
    engine, quantization documented).

    Scale shape: ONE group-keyed agg (map-side combined) + a 1-row
    grand-total broadcast back onto the ≤ |groups| rows.  Output:
    ``(group, n, total, mean_e6, delta_e6)``."""
    base = df.select(F.col(group_col).alias("group"),
                     value.cast("long").alias("v"))
    per = (base.groupBy("group")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("v").cast("long").alias("total")))
    grand = per.groupBy().agg(
        F.sum("n").cast("long").alias("_gn"),
        F.sum("total").cast("long").alias("_gs"))
    return (per.crossJoin(F.broadcast(grand))
            .select("group", "n", "total",
                    F.expr("(CAST(total AS DECIMAL(38,0)) * 1000000) "
                           "DIV n").cast("long").alias("mean_e6"),
                    F.expr("(CAST(total AS DECIMAL(38,0)) * 1000000) "
                           "DIV n - (CAST(_gs AS DECIMAL(38,0)) "
                           "* 1000000) DIV _gn").cast("long")
                    .alias("delta_e6")))


def average_precision_exact(df: DataFrame, score, is_pos,
                            id_col: str) -> DataFrame:
    """Exact average precision (AP — the area under the
    precision-recall curve at the operating points, the standard
    retrieval/imbalanced-class metric next to :func:`auc_exact`):
    under the deterministic total order ``(score DESC, id ASC)``,

        AP_e6 = ( Σ_{k: y_k=1} (cum_pos_k · 10^6 DIV k) ) DIV n_pos

    with per-term truncating division (the eta_squared
    deterministic-exact discipline: every term is an exact integer, so
    the sum is order-independent and engine-portable; quantization ≤
    1e-6 per positive, documented).

    Scale shape: BOTH the global rank ``k`` and the inclusive positive
    prefix ``cum_pos`` ride ONE range-partitioned exclusive prefix sum
    (:func:`~frogocr_spark.operators.ranking.global_cumsum`) by the
    ks_test carry-free bit-packing — each row contributes
    ``2^31 + y``, so ``prefix >> 31`` is the 0-based rank and
    ``prefix & (2^31−1)`` the exclusive positive count (no carries
    while rows < 2^32; beyond that widen the pack).  No
    single-partition window, no pair space.  ``score`` must be
    integer-valued; ties get distinct deterministic ranks via the id
    tiebreak (so AP is well-defined under ties on both engines).
    Output: ``(n, n_pos, ap_e6)``; ap_e6 NULL when no positives."""
    from frogocr_spark.operators.ranking import global_cumsum
    s = df.select((-score.cast("long")).alias("_nv"),
                  F.col(id_col).cast("long").alias("_i"),
                  is_pos.cast("long").alias("_y"))
    packed = s.withColumn("_pk", F.lit(1 << 31) + F.col("_y"))
    c = global_cumsum(packed, ["_nv", "_i"], "_pk", cumsum_col="_cx")
    per = (c.withColumn("_k", F.expr("shiftright(_cx, 31) + 1"))
           .withColumn("_cp", F.expr("(_cx & 2147483647) + _y"))
           .withColumn("_term", F.when(
               F.col("_y") == 1,
               F.expr("(CAST(_cp AS DECIMAL(38,0)) * 1000000) "
                      "DIV _k"))))
    return (per.groupBy()
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("_y").cast("long").alias("n_pos"),
                 F.sum("_term").alias("_st"))
            .select("n", "n_pos",
                    F.when(F.col("n_pos") > 0,
                           F.expr("CAST(_st AS DECIMAL(38,0)) "
                                  "DIV n_pos").cast("long"))
                    .alias("ap_e6")))


def sample_quantile_audit(df: DataFrame, group_col: str, value_col,
                          id_col: str = "event_id", rate_mod: int = 8,
                          ps: tuple = (50, 90, 99)) -> DataFrame:
    """Sampled-quantile error audit: exact NEAREST-RANK quantiles of
    the full data vs the same quantiles over a deterministic
    ``md5(id) mod rate_mod == 0`` hash sample (≈1/rate_mod of rows),
    per group and percentile — the measured answer to "can the
    profiler estimate this column's distribution from a 12% sample?",
    with the tail percentiles (p99) exactly where hash sampling
    degrades first.  Seedless: the sample is stable across runs,
    engines, and repartitioning, so both engines audit the identical
    subset.

    Scale shape: two :func:`quantile_summary` passes (each ONE keyed
    rank window + one map-side agg — the sampled pass over ~1/rate_mod
    of rows) + one group-keyed LEFT join of two ≤|groups|-row frames.
    Output per group: ``n_full, n_samp`` and, per p,
    ``p{p}_full, p{p}_samp, p{p}_err`` (NULL when the sample has no
    rows for the group).
    """
    if rate_mod < 2:
        raise ValueError(f"rate_mod must be >= 2, got {rate_mod}")
    full = quantile_summary(df, group_col, value_col, id_col, ps)
    keep = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")),
                               1, 15), 16, 10).cast("long")
            % rate_mod == 0)
    samp = quantile_summary(df.where(keep), group_col, value_col,
                            id_col, ps)
    fsel = [F.col("n").alias("n_full")] + \
        [F.col(f"p{int(p)}").alias(f"p{int(p)}_full") for p in ps]
    ssel = [F.col("n").alias("n_samp")] + \
        [F.col(f"p{int(p)}").alias(f"p{int(p)}_samp") for p in ps]
    joined = (full.select(group_col, *fsel)
              .join(samp.select(group_col, *ssel), group_col, "left"))
    out = [group_col, "n_full", "n_samp"]
    errs = []
    for p in ps:
        out += [f"p{int(p)}_full", f"p{int(p)}_samp"]
        errs.append(F.abs(F.col(f"p{int(p)}_full")
                          - F.col(f"p{int(p)}_samp"))
                    .cast("long").alias(f"p{int(p)}_err"))
    return joined.select(*out, *errs)


def ivm_group_counts(base: DataFrame, delta: DataFrame,
                     group_col: str, value_col,
                     op_col: str = "op") -> DataFrame:
    """Incremental view maintenance (IVM) of a grouped count/sum view
    under a CDC delta batch, audited against full recompute.  The
    delta algebra for distributive aggregates: a view row
    ``(g, n, s)`` absorbs a batch as ``n += Σ sign, s += Σ sign·v``
    where sign = +1 for 'I' (insert) and −1 for 'D' (delete; an update
    arrives as D+I) — groups whose maintained count reaches zero leave
    the view.  Returns the MAINTAINED view; joined against a full
    recompute of base∖deletes∪inserts, any maintained ≠ recomputed row
    is an IVM bug (or a non-distributive aggregate smuggled in).

    Scale shape: the delta side is ONE small keyed agg full-outer-
    joined onto the view.  Here the view is materialized once from
    ``base`` (the initial-build cost any view pays); in production the
    view is a table you READ, so each batch costs
    O(|delta| + |groups touched|) — recompute is the full scan IVM
    saves.  Deletes are matched by row identity upstream;
    this operator trusts the delta's (op, group, value) content.
    Output: ``group, n_view, sum_view``.
    """
    # an op outside {I, D} must fail the job, not silently NULL the
    # maintained sums
    sign = (F.when(F.col(op_col) == "I", F.lit(1))
            .when(F.col(op_col) == "D", F.lit(-1))
            .otherwise(F.raise_error(F.concat(
                F.lit("ivm_group_counts: unknown op "),
                F.col(op_col)))))
    d = (delta.select(F.col(group_col).alias("_g"),
                      sign.alias("_sg"),
                      value_col.cast("long").alias("_v"))
         .groupBy("_g")
         .agg(F.sum("_sg").alias("_dn"),
              F.sum(F.col("_sg") * F.col("_v")).alias("_ds")))
    b = (base.select(F.col(group_col).alias("_g"),
                     value_col.cast("long").alias("_v"))
         .groupBy("_g")
         .agg(F.count("*").alias("_bn"), F.sum("_v").alias("_bs")))
    view = (b.join(d, "_g", "full_outer")
            .select("_g",
                    (F.coalesce("_bn", F.lit(0))
                     + F.coalesce("_dn", F.lit(0))).alias("n_view"),
                    (F.coalesce("_bs", F.lit(0))
                     + F.coalesce("_ds", F.lit(0))).alias("sum_view"))
            .where(F.col("n_view") != 0))
    return view.select(F.col("_g").alias(group_col),
                       "n_view", "sum_view")


def fleiss_kappa(df: DataFrame, rater_cols: list) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) for r ≥ 2 binary raters: chance-
    corrected agreement over N subjects where every subject receives
    one keep/drop vote from EACH rater — the multi-rater generalization
    of :func:`cohen_kappa`, and the audit that says whether a panel of
    curation gates (or annotators, or detectors) agree beyond what
    their marginal keep-rates force.  With k_i = keep votes on subject
    i, A = Σ(k_i² + (r−k_i)²), K = Σk_i, D = rN−K:

        P̄  = (A − Nr) / (Nr(r−1))      observed pairwise agreement
        P̄e = (K² + D²) / (r²N²)         chance agreement
        κ  = (P̄ − P̄e) / (1 − P̄e)
           = ((A−Nr)·rN − (r−1)(K²+D²)) / ((r−1)(r²N² − K² − D²))

    multiplied through so the only division is the final signed
    truncating e6 scaling (``_tdiv``, DuckDB ``//`` semantics).
    Degenerate den = 0 (every rater votes one way on everything) → κ =
    1e6: identical labelings count as full agreement.

    Scale shape: votes are a pure map; ONE global 3-value agg (count +
    two sums, map-side combined) reaches the driver, and the finish is
    exact unbounded python ints — nothing quadratic, nothing keyed.
    Output: one row ``(n_docs, n_raters, pbar_e6, pe_e6, kappa_e6)``.
    """
    from frogocr_spark.operators.similarity import _tdiv

    r = len(rater_cols)
    if r < 2:
        raise ValueError(f"need >= 2 raters, got {r}")
    k = sum((F.when(c, 1).otherwise(0) for c in rater_cols),
            F.lit(0)).cast("long")
    dec = "decimal(38,0)"
    row = (df.select(k.alias("_k"))
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("_k").cast("long").alias("kk"),
                F.sum(F.col("_k").cast(dec) * F.col("_k")
                      + (r - F.col("_k")).cast(dec)
                      * (r - F.col("_k"))).alias("a"))
           .collect()[0])
    n, kk, a = int(row["n"]), int(row["kk"] or 0), int(row["a"] or 0)
    if n == 0:
        raise ValueError("fleiss_kappa: empty input")
    d = r * n - kk
    pbar_e6 = _tdiv((a - n * r) * 10 ** 6, n * r * (r - 1))
    pe_e6 = _tdiv((kk * kk + d * d) * 10 ** 6, r * r * n * n)
    den = (r - 1) * (r * r * n * n - kk * kk - d * d)
    num = (a - n * r) * r * n - (r - 1) * (kk * kk + d * d)
    kappa_e6 = 1_000_000 if den == 0 else _tdiv(num * 10 ** 6, den)
    return df.sparkSession.createDataFrame(
        [(n, r, pbar_e6, pe_e6, kappa_e6)],
        "n_docs long, n_raters long, pbar_e6 long, pe_e6 long, "
        "kappa_e6 long")
