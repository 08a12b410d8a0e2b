"""Z-order (Morton-curve) data layout — multi-dimensional file
clustering for scan pruning.

At 100 TB the cheapest query is the one that never reads the file:
parquet keeps per-file / per-row-group min-max statistics, and Spark
prunes scans against them.  Sorting by ONE key makes that key's ranges
tight and every other key's ranges useless; interleaving the bits of
two keys (the Morton / Z-order curve) makes BOTH dimensions' ranges
narrow in every file, so predicates on either column skip most of the
table (the technique Delta/Iceberg expose as ``OPTIMIZE ... ZORDER
BY``).

Everything here is exact integer column arithmetic (shifts, masks,
adds) — JVM-codegen'd, engine-portable, and reproducible bit-for-bit
by the SQL twin that :func:`zvalue_sql` emits.

Scale shape: computing z-values is a pure map stage; bucketing needs
one tiny min-max aggregation (2 longs to the driver-side plan — NOT a
collect of data) broadcast back as literals via a 1-row cross join;
the actual re-layout is ``repartitionByRange`` on the z-value — a
range shuffle whose sampled boundaries Spark computes without a global
sort.  The tests prove the payoff by reading parquet footer statistics
of the written files: z-ordered files have narrow min-max ranges on
BOTH dimensions, an unordered layout does not.

Reference parity: the reference reads page images sequentially and has
no layout optimizer; this is part of the 100 TB curation surface the
brief adds (SURVEY.md §2 S-family is the scan side; this is the
write-side dual).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zvalue(x: "F.Column", y: "F.Column", bits: int = 16) -> "F.Column":
    """Interleave the low ``bits`` bits of two non-negative integer
    columns: bit i of x lands at position 2i, bit i of y at 2i+1.
    ``bits <= 31`` keeps the result in a non-negative int64.  Values
    must already fit in ``bits`` bits — mask-truncated otherwise
    (callers clamp/scale first, as OPTIMIZE implementations do)."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    xl = x.cast("long")
    yl = y.cast("long")
    terms = []
    for i in range(bits):
        terms.append(F.shiftleft(F.shiftright(xl, i).bitwiseAND(F.lit(1)),
                                 2 * i))
        terms.append(F.shiftleft(F.shiftright(yl, i).bitwiseAND(F.lit(1)),
                                 2 * i + 1))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zvalue_sql(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """The identical interleave as ANSI SQL (DuckDB-runnable) — emitted
    programmatically so the SQL text and the operator can never
    drift."""
    terms = []
    for i in range(bits):
        terms.append(f"(((CAST({x_expr} AS BIGINT) >> {i}) & 1) "
                     f"<< {2 * i})")
        terms.append(f"(((CAST({y_expr} AS BIGINT) >> {i}) & 1) "
                     f"<< {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_buckets(df: DataFrame, x_col: str, y_col: str,
                   n_buckets: int, bits: int = 16) -> DataFrame:
    """Assign each row a z-order bucket in [0, n_buckets): equal-width
    ranges of the z-value between the observed min and max.  Exact
    integer arithmetic: bucket = (z - zmin) * n_buckets / (zmax -
    zmin + 1) using floor division — requires (zmax - zmin) *
    n_buckets < 2^63 (always true for bits <= 25 and n_buckets <=
    4096; the z-value spans 2*bits bits).

    Adds columns ``zval long, zbucket int``.  The min-max aggregation
    is O(1) output broadcast back via a 1-row cross join — no data
    collect, no global sort."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if 2 * bits + max(n_buckets - 1, 1).bit_length() > 62:
        raise ValueError(
            f"bits={bits} with n_buckets={n_buckets} can overflow int64")
    z = zvalue(F.col(x_col), F.col(y_col), bits)
    with_z = df.withColumn("zval", z)
    ext = with_z.agg(F.min("zval").alias("_zmin"),
                     F.max("zval").alias("_zmax"))
    span = F.col("_zmax") - F.col("_zmin") + 1
    bucket = F.floor(((F.col("zval") - F.col("_zmin"))
                      * F.lit(n_buckets)) / span).cast("int")
    return (with_z.crossJoin(F.broadcast(ext))
            .withColumn("zbucket", bucket)
            .drop("_zmin", "_zmax"))


def zorder_write(df: DataFrame, path: str, x_col: str, y_col: str,
                 n_files: int, bits: int = 16) -> None:
    """Rewrite ``df`` as ~``n_files`` z-clustered parquet files:
    range-partition on the z-value (sampled boundaries — no global
    sort) and sort within each partition so parquet row-group min-max
    stats are tight on BOTH x and y."""
    with_z = df.withColumn("zval", zvalue(F.col(x_col), F.col(y_col),
                                          bits))
    (with_z.repartitionByRange(n_files, "zval")
     .sortWithinPartitions("zval")
     .drop("zval")
     .write.mode("overwrite").parquet(path))


# ---------------------------------------------------------------- hilbert
# The Hilbert curve is the locality-stronger sibling of the Z-order
# curve: unlike Morton order it has NO long diagonal jumps, so
# consecutive curve positions are always grid neighbors and per-file
# min-max ranges come out tighter for the same data (the reason
# modern lakehouse engines offer Hilbert clustering beside Z-order).
# Algorithm: the classic xy→d walk (Wikipedia/"Hilbert curve",
# public domain formulation): per level s = 2^(bits-1)..1 read the two
# top bits, accumulate s²·quadrant, and rotate/reflect the frame.
# Everything is CASE + integer ops — engine-portable, no float.

def hilbert_index(df: DataFrame, x_col: str, y_col: str,
                  bits: int = 10, out_col: str = "hval") -> DataFrame:
    """Add the Hilbert-curve position of (``x_col``, ``y_col``) (both
    in [0, 2^bits)) as ``out_col``.  Built as one named projection per
    level (a linear withColumn chain — naming the intermediates keeps
    the expression tree linear where a pure expression would grow
    4^bits) — still a pure map stage, whole-stage-codegen'd, no
    shuffle.  The DuckDB twin :func:`hilbert_sql_query` emits the
    identical per-level arithmetic."""
    if not (1 <= bits <= 31):
        raise ValueError("bits must be in [1, 31]")
    out = (df.withColumn("_hx", F.col(x_col).cast("long"))
           .withColumn("_hy", F.col(y_col).cast("long"))
           .withColumn("_hd", F.lit(0).cast("long")))
    for i in reversed(range(bits)):
        s = 1 << i
        rx = F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0,
                    1).otherwise(0)
        ry = F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0,
                    1).otherwise(0)
        out = out.withColumn("_rx", rx).withColumn("_ry", ry)
        quad = (F.when((F.col("_rx") == 0) & (F.col("_ry") == 0), 0)
                .when(F.col("_rx") == 0, 1)
                .when(F.col("_ry") == 1, 2)
                .otherwise(3))
        nhx = (F.when(F.col("_ry") == 1, F.col("_hx"))
               .when(F.col("_rx") == 1, F.lit(s - 1) - F.col("_hy"))
               .otherwise(F.col("_hy")))
        nhy = (F.when(F.col("_ry") == 1, F.col("_hy"))
               .when(F.col("_rx") == 1, F.lit(s - 1) - F.col("_hx"))
               .otherwise(F.col("_hx")))
        out = (out.withColumn("_hd", F.col("_hd")
                              + F.lit(int(s) * int(s)) * quad)
               .withColumn("_hx2", nhx).withColumn("_hy2", nhy)
               .drop("_hx", "_hy")
               .withColumnRenamed("_hx2", "_hx")
               .withColumnRenamed("_hy2", "_hy"))
    return (out.withColumnRenamed("_hd", out_col)
            .drop("_hx", "_hy", "_rx", "_ry"))


def hilbert_sql_query(src_sql: str, id_cols: list[str], x_expr: str,
                      y_expr: str, bits: int = 10,
                      out_col: str = "hval") -> str:
    """The identical Hilbert walk as a chained-CTE ANSI SQL query
    (DuckDB-runnable) — one CTE per level naming the rotated frame, so
    the SQL text and the operator share the same per-level formulas and
    the expression stays linear."""
    ids = ", ".join(id_cols)
    parts = [f"WITH h{bits} AS (SELECT {ids}, "
             f"CAST({x_expr} AS BIGINT) AS hx, "
             f"CAST({y_expr} AS BIGINT) AS hy, "
             f"CAST(0 AS BIGINT) AS hd FROM ({src_sql}))"]
    for i in reversed(range(bits)):
        s = 1 << i
        parts.append(
            f", h{i} AS (SELECT {ids}, "
            f"CASE WHEN ry = 1 THEN hx "
            f"WHEN rx = 1 THEN {s - 1} - hy ELSE hy END AS hx, "
            f"CASE WHEN ry = 1 THEN hy "
            f"WHEN rx = 1 THEN {s - 1} - hx ELSE hx END AS hy, "
            f"hd + {s * s} * (CASE WHEN rx = 0 AND ry = 0 THEN 0 "
            f"WHEN rx = 0 THEN 1 WHEN ry = 1 THEN 2 ELSE 3 END) AS hd "
            f"FROM (SELECT *, "
            f"CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END AS rx, "
            f"CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END AS ry "
            f"FROM h{i + 1}))")
    parts.append(f" SELECT {ids}, hd AS {out_col} FROM h0")
    return "".join(parts)


def hilbert_index_py(x: int, y: int, bits: int = 10) -> int:
    """Pure-Python twin of :func:`hilbert_index` for tests."""
    hd = 0
    for i in reversed(range(bits)):
        s = 1 << i
        rx = 1 if x & s else 0
        ry = 1 if y & s else 0
        hd += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
    return hd


GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_quant_sql(coord_expr: str, half_bits: int,
                      is_lat: bool) -> str:
    """ANSI SQL quantizing a lat/lon degree expression onto the
    standard geohash integer grid: ``floor((c + off) / span · 2^b)``
    clamped to ``[0, 2^b)``.  The float steps are single IEEE ops on
    values both engines agree on exactly, so the floor is
    deterministic.  Generated text runs verbatim on Spark AND DuckDB
    (single-source — the two quantizers cannot drift)."""
    off, span = (90.0, 180.0) if is_lat else (180.0, 360.0)
    n = 1 << half_bits
    return (f"least(greatest(CAST(floor((({coord_expr}) + {off}) "
            f"/ {span} * {n}.0) AS BIGINT), 0), {n - 1})")


def geohash_interleave_sql(latq_expr: str, lonq_expr: str,
                           chars: int = 8) -> str:
    """ANSI SQL interleaving quantized lat/lon cells into the geohash
    bit string as one BIGINT: geohash bits alternate lon-first from
    the MSB, i.e. lat bit i lands at LSB position 2i and lon bit i at
    2i+1 (the :func:`zvalue` layout with x = lat).  ``chars`` must be
    even so lat/lon split the bits equally.  Same single-source
    discipline as :func:`zvalue_sql` — generated text runs verbatim
    on Spark AND DuckDB."""
    if chars % 2 or not 2 <= chars <= 12:
        raise ValueError(f"chars must be even in [2, 12], got {chars}")
    half = 5 * chars // 2
    terms = []
    for i in range(half):
        terms.append(f"(((({latq_expr})) >> {i} & 1) << {2 * i})")
        terms.append(f"(((({lonq_expr})) >> {i} & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def geohash_base32_sql(g_expr: str, chars: int = 8) -> str:
    """ANSI SQL mapping an interleaved geohash integer (from
    :func:`geohash_interleave_sql`) to the standard base-32 string
    (Niemeyer 2008): 5-bit groups, MSB first, through the geohash
    alphabet.  Keep ``g_expr`` a simple column name — it is repeated
    once per character."""
    parts = [f"substr('{GEOHASH_ALPHABET}', "
             f"CAST((({g_expr}) >> {5 * (chars - 1 - j)}) & 31 AS INT)"
             f" + 1, 1)"
             for j in range(chars)]
    return "(" + " || ".join(parts) + ")"


def geohash_encode_sql(latq_expr: str, lonq_expr: str,
                       chars: int = 8) -> str:
    """One-expression composition of interleave + base-32 — used by
    tests against the canonical (57.64911, 10.40744) → ``u4pruydq``
    vector; production queries materialize the interleave as a column
    first (the expression otherwise repeats per character)."""
    g = geohash_interleave_sql(latq_expr, lonq_expr, chars)
    return geohash_base32_sql(g, chars)


def zvalue_n(cols: list, bits: int = 16) -> "F.Column":
    """N-column Morton interleave — the multi-dimensional OPTIMIZE
    ZORDER BY key (real table layouts cluster on 3-4 columns, not 2):
    bit ``i`` of column ``j`` lands at position ``i·N + j``.  Requires
    ``N·bits <= 62`` (non-negative int64); values must already fit in
    ``bits`` bits (mask-truncated otherwise — callers clamp/scale
    first, same contract as :func:`zvalue`)."""
    n = len(cols)
    if n < 2:
        raise ValueError(f"need >= 2 columns, got {n}")
    if not 1 <= bits or n * bits > 62:
        raise ValueError(f"n*bits must be in [n, 62], got {n}*{bits}")
    terms = []
    for j, c in enumerate(cols):
        cl = F.col(c).cast("long") if isinstance(c, str) else c.cast("long")
        for i in range(bits):
            terms.append(F.shiftleft(
                F.shiftright(cl, i).bitwiseAND(F.lit(1)), i * n + j))
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zvalue_n_sql(exprs: list, bits: int = 16) -> str:
    """The identical N-way interleave as SQL text (DuckDB-runnable) —
    generated programmatically so the SQL text and the operator cannot
    drift (the :func:`zvalue_sql` discipline)."""
    n = len(exprs)
    if n < 2:
        raise ValueError(f"need >= 2 expressions, got {n}")
    if not 1 <= bits or n * bits > 62:
        raise ValueError(f"n*bits must be in [n, 62], got {n}*{bits}")
    terms = []
    for j, e in enumerate(exprs):
        for i in range(bits):
            terms.append(f"(((CAST({e} AS BIGINT) >> {i}) & 1) "
                         f"<< {i * n + j})")
    return "(" + " + ".join(terms) + ")"


def zonemap_prune_audit(df: DataFrame, file_col, value_col,
                        lo: int, hi: int) -> DataFrame:
    """Zone-map (per-file min/max statistics) pruning audit — the
    data-layout question behind every BETWEEN predicate on a 100 TB
    table: how many files does the predicate SKIP on statistics alone,
    and how much read amplification remains in the files it must scan
    (rows read per matching row — the number clustering/Z-ordering
    exists to drive toward 1)?  A file is scanned iff its value range
    overlaps ``[lo, hi]`` (``vmax >= lo AND vmin <= hi`` — exactly the
    parquet row-group / Iceberg manifest pruning rule).

    Scale shape: ONE map-side-combined per-file agg (count, conditional
    match count, min, max) over a single scan, then one aggregate over
    file rows — the audit costs one pass regardless of file count.
    Output: one row ``(n_files, files_scanned, files_pruned,
    rows_total, rows_scanned, rows_matching, prune_frac_e6,
    read_amp_e6)``; read_amp NULL when nothing matches."""
    lo, hi = int(lo), int(hi)
    per = (df.select(file_col.cast("long").alias("f"),
                     value_col.cast("long").alias("v"))
           .groupBy("f")
           .agg(F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("v").between(lo, hi).cast("long"))
                .alias("n_match"),
                F.min("v").alias("vmin"), F.max("v").alias("vmax")))
    scanned = (F.col("vmax") >= lo) & (F.col("vmin") <= hi)
    agg = per.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum(scanned.cast("long")).cast("long").alias("files_scanned"),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(F.when(scanned, F.col("n_rows")).otherwise(F.lit(0)))
        .cast("long").alias("rows_scanned"),
        F.sum("n_match").cast("long").alias("rows_matching"))
    return agg.select(
        "n_files", "files_scanned",
        (F.col("n_files") - F.col("files_scanned")).cast("long")
        .alias("files_pruned"),
        "rows_total", "rows_scanned", "rows_matching",
        F.expr("(CAST(n_files - files_scanned AS DECIMAL(38,0)) "
               "* 1000000) DIV n_files").cast("long")
        .alias("prune_frac_e6"),
        F.when(F.col("rows_matching") > 0,
               F.expr("(CAST(rows_scanned AS DECIMAL(38,0)) * 1000000) "
                      "DIV rows_matching").cast("long"))
        .alias("read_amp_e6"))


def compaction_plan(files: DataFrame, group_col: str = "source",
                    id_col: str = "doc_id", size_col: str = "n_chars",
                    target: int = 2000) -> DataFrame:
    """Greedy small-file compaction planning — the maintenance pass
    Iceberg exposes as ``rewrite_data_files`` (binpack): walk each
    group's file manifest in ``id_col`` order, accumulate files into
    the current output bin, and CLOSE the bin as soon as its byte size
    reaches ``target`` (the next file starts a fresh bin).  Emits the
    per-bin plan ``(group, bin_id, n_files, bin_bytes, first_id,
    last_id)`` a rewrite job would execute.

    Scale shape: this plans over the MANIFEST (one row per file —
    ~10^5–10^6 rows for 100 TB at 128 MB files), not the data.  ONE
    shuffle on ``group_col``, then a per-group sequential pack inside
    an Arrow batch (greedy close-at-threshold is order-dependent by
    definition — no parallel form exists; at manifest scale the loop
    is microseconds per group).  Groups pack in parallel.  Greedy
    semantics: the boundary file is INCLUDED in the closing bin, and
    the accumulator resets to zero.
    """
    import pandas as pd

    if target < 1:
        raise ValueError(f"target must be >= 1, got {target}")

    out_schema = (f"{group_col} string, bin_id long, n_files long, "
                  f"bin_bytes long, first_id long, last_id long")

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(id_col, kind="mergesort")
        sizes = pdf[size_col].to_numpy()
        ids = pdf[id_col].to_numpy()
        bins = [0] * len(sizes)
        b, acc = 1, 0
        for i, s in enumerate(sizes):
            bins[i] = b
            acc += int(s)
            if acc >= target:
                b, acc = b + 1, 0
        plan = pd.DataFrame({group_col: pdf[group_col].to_numpy(),
                             "bin_id": bins, "sz": sizes, "fid": ids})
        roll = plan.groupby("bin_id", sort=True).agg(
            **{group_col: (group_col, "first"),
               "n_files": ("sz", "size"), "bin_bytes": ("sz", "sum"),
               "first_id": ("fid", "min"), "last_id": ("fid", "max")}
        ).reset_index()
        return roll[[group_col, "bin_id", "n_files", "bin_bytes",
                     "first_id", "last_id"]]

    manifest = files.select(group_col, id_col, size_col)
    return manifest.groupBy(group_col).applyInPandas(pack, out_schema)


def shard_plan(df: DataFrame, n_shards: int,
               id_col: str = "doc_id") -> DataFrame:
    """Deterministic training-shard export plan: rows are globally
    shuffled by ``md5(id)`` (seedless — stable across runs, engines,
    and repartitioning) and dealt round-robin into ``n_shards``
    EXACTLY balanced shards (counts differ by at most 1 — the property
    hash-mod bucketing cannot give), each with an order-independent
    integrity manifest: row count, exact DECIMAL(38,0) sum of the
    64-bit md5-derived row hashes (verifiable shard-local after
    export, in any order), and the id range.  The "shuffle the corpus
    and write N shards with manifests" step every epoch-level training
    pipeline runs before handing data to loaders.

    Scale shape: the global shuffle order comes from
    :func:`~frogocr_spark.operators.ranking.global_rank` (range
    partition + per-partition window + broadcast O(P) offsets — NO
    single-partition exchange), then one shard-keyed map-side-combined
    agg of ``n_shards`` output rows.  EAGER at plan-construction
    (global_rank collects the O(P) partition counts).  Output:
    ``(shard, n_rows, checksum, id_min, id_max)``."""
    from frogocr_spark.operators.ranking import global_rank

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if id_col in ("_k", "rank", "shard"):
        raise ValueError(f"shard_plan reserves column names _k/rank/"
                         f"shard; id_col {id_col!r} collides")
    keyed = df.select(F.col(id_col),
                      F.md5(F.col(id_col).cast("string")).alias("_k"))
    ranked = global_rank(keyed, ["_k", id_col])
    h = (F.conv(F.substring("_k", 1, 15), 16, 10).cast("long")
         .cast("decimal(38,0)"))
    return (ranked
            .select(((F.col("rank") - 1) % n_shards).cast("int")
                    .alias("shard"),
                    F.col(id_col), h.alias("_h"))
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 # exact DECIMAL(38,0) sum, emitted as its decimal string
                 # (the exact value is unrepresentable in any float type)
                 F.sum("_h").cast("decimal(38,0)").cast("string")
                 .alias("checksum"),
                 F.min(id_col).alias("id_min"),
                 F.max(id_col).alias("id_max")))


def shard_write(df: DataFrame, path: str, n_shards: int,
                id_col: str = "doc_id") -> "DataFrame":
    """Execute a :func:`shard_plan`: write each shard's rows under
    ``path/shard=<j>/`` (partitioned parquet — one DIRECTORY per
    shard, loadable independently by a training data-loader) and the
    plan's manifest table to ``path/_MANIFEST`` (count, exact hash
    checksum, id range per shard).  The manifest is aggregated from
    the SAME routed relation the writer consumes (one shard-keyed
    map-side-combined agg over the already-computed rank checkpoint —
    no second :func:`~frogocr_spark.operators.ranking.global_rank`
    pass, no determinism assumption on ``df``; ADVICE r3), so it
    describes exactly the rows just routed; a reader can then verify
    any shard in isolation — in any row order — by recounting and
    re-summing the md5-derived row hashes against its manifest row
    (the integrity check ``tests/test_session36_ops.py`` performs).

    Scale shape: one ``repartition(n_shards, shard)`` keyed exchange
    routes rows before the partitioned write.  Hash partitioning can
    COLLIDE shard keys (two shard values in one task, another task
    empty) — the directory layout is still exactly one ``shard=<j>/``
    per shard (``partitionBy`` splits by value), a colliding task just
    writes files into two directories; loaders consume directories,
    not tasks.  Reserves the internal column names ``_k``/``rank``/
    ``shard`` and fails fast on collision with user columns rather
    than silently clobbering them.  Returns the manifest DataFrame."""
    from frogocr_spark.operators.ranking import global_rank

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    clash = {"_k", "rank", "shard"} & set(df.columns)
    if clash:
        raise ValueError(f"shard_write reserves internal columns "
                         f"{sorted(clash)}; rename them before sharding")
    keyed = df.withColumn("_k", F.md5(F.col(id_col).cast("string")))
    ranked = global_rank(keyed, ["_k", id_col])
    routed = ranked.withColumn(
        "shard", ((F.col("rank") - 1) % n_shards).cast("int"))
    (routed.drop("_k", "rank").repartition(n_shards, "shard")
     .write.mode("overwrite").partitionBy("shard").parquet(path))
    h = (F.conv(F.substring("_k", 1, 15), 16, 10).cast("long")
         .cast("decimal(38,0)"))
    manifest = (routed
                .select("shard", F.col(id_col), h.alias("_h"))
                .groupBy("shard")
                .agg(F.count(F.lit(1)).alias("n_rows"),
                     F.sum("_h").cast("decimal(38,0)").cast("string")
                     .alias("checksum"),
                     F.min(id_col).alias("id_min"),
                     F.max(id_col).alias("id_max")))
    manifest.write.mode("overwrite").parquet(f"{path}/_MANIFEST")
    return manifest
