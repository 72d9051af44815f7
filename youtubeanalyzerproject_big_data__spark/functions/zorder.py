"""Z-order (Morton) clustering keys -- multi-dimensional data layout.

Sorting a table by ONE column makes parquet min/max pruning effective for
that column only; interleaving the bits of several columns' quantized
values gives a single sort key whose contiguous ranges are small
hyper-rectangles in ALL of them, so one layout serves range predicates on
any participating column (the Delta/Iceberg OPTIMIZE ZORDER recipe).

Everything is built-in bit arithmetic (shiftleft/shiftright/AND) inside
whole-stage codegen: computing keys for 100 TB is a map-side scan, and the
layout write is one range repartition + in-partition sort -- the shuffle
you pay once so every later scan prunes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def quantize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Map a numeric column into [0, 2^bits) cells: floor of the linear
    rescale, clamped at the top edge (x == hi lands in the last cell).
    lo/hi are model-sized scalars (one agg) inlined as literals."""
    cells = 1 << bits
    span = hi - lo
    if span <= 0:  # degenerate constant column -> single cell
        return F.lit(0).cast("long")
    scaled = F.floor((col.cast("double") - F.lit(float(lo))) / F.lit(float(span)) * F.lit(float(cells)))
    return F.least(scaled, F.lit(cells - 1)).cast("long")


def interleave_bits(cols: list[Column], bits: int) -> Column:
    """Morton interleave: bit b of column c lands at position
    b * n_cols + c.  Pure shiftleft/shiftright/AND expression tree."""
    n = len(cols)
    key = F.lit(0).cast("long")
    for c_idx, c in enumerate(cols):
        for b in range(bits):
            key = key + F.shiftleft(F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + c_idx)
    return key


def zorder_key(df: DataFrame, cols: list[str], bits: int = 8) -> Column:
    """Z-order key over ``cols`` using each column's observed min/max
    (one aggregate, collected driver-side -- model-sized)."""
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"_lo_{c}"), F.max(F.col(c).cast("double")).alias(f"_hi_{c}")]
    row = df.agg(*aggs).collect()[0]
    qs = [quantize(F.col(c), row[f"_lo_{c}"], row[f"_hi_{c}"], bits) for c in cols]
    return interleave_bits(qs, bits)


def hilbert_key_2d(df: DataFrame, qx: Column, qy: Column, bits: int = 8) -> DataFrame:
    """Hilbert-curve key for two quantized columns (cells in [0, 2^bits)):
    the locality-preserving successor to the Morton key -- consecutive
    Hilbert keys are ALWAYS grid neighbors (no Z-shape jumps), so range
    reads touch fewer files than a z-ordered layout on the same data
    (Databricks liquid clustering / Iceberg hilbert ordering use exactly
    this).

    Unrolled top-down fold of the classic xy2d walk (one quadrant-rotation
    step per level; reflections/swaps masked to the live low bits so every
    intermediate stays in [0, s)) -- pure shiftright/AND/XOR/CASE integer
    arithmetic inside whole-stage codegen, engine-exact, and mirrored
    step-for-step by :func:`hilbert_sql_2d` for the oracle.

    Takes and returns a DATAFRAME (adds ``hkey``, drops scratch):
    each level materializes named columns, keeping the expression tree
    LINEAR in ``bits`` -- a pure column-expression fold re-inlines x/y at
    every level and grows the tree exponentially (a driver OOM at
    bits=8, observed).  CollapseProject leaves the per-level projections
    alone because the intermediates are referenced repeatedly.
    """
    cur = df.withColumn("_hx", qx.cast("long")).withColumn("_hy", qy.cast("long")).withColumn(
        "_hd", F.lit(0).cast("long")
    )
    for level in reversed(range(bits)):
        s = 1 << level
        x, y = F.col("_hx"), F.col("_hy")
        rx = F.shiftright(x, level).bitwiseAND(F.lit(1))
        ry = F.shiftright(y, level).bitwiseAND(F.lit(1))
        xl = x.bitwiseAND(F.lit(s - 1))
        yl = y.bitwiseAND(F.lit(s - 1))
        flip = (ry == 0) & (rx == 1)
        xr = F.when(flip, F.lit(s - 1) - xl).otherwise(xl)
        yr = F.when(flip, F.lit(s - 1) - yl).otherwise(yl)
        cur = cur.withColumns(
            {
                "_hd": F.col("_hd") + (F.lit(s * s) * (F.lit(3) * rx).bitwiseXOR(ry)).cast("long"),
                "_hx": F.when(ry == 0, yr).otherwise(xr),
                "_hy": F.when(ry == 0, xr).otherwise(yr),
            }
        )
    return cur.withColumn("hkey", F.col("_hd")).drop("_hx", "_hy", "_hd")


def hilbert_sql_2d(base_sql: str, id_cols: str, bits: int = 8) -> str:
    """DuckDB twin of :func:`hilbert_key_2d`: wraps ``base_sql`` (which
    must expose ``id_cols``, ``qx`` and ``qy``) in one derived table per
    level, replaying the identical fold.  (DuckDB's ``^`` is POWER, hence
    ``xor()``.)"""
    sql = f"SELECT {id_cols}, qx AS hx, qy AS hy, CAST(0 AS BIGINT) AS hd FROM ({base_sql})"
    for level in reversed(range(bits)):
        s = 1 << level
        rx = f"((hx >> {level}) & 1)"
        ry = f"((hy >> {level}) & 1)"
        xl = f"(hx & {s - 1})"
        yl = f"(hy & {s - 1})"
        flip = f"({ry} = 0 AND {rx} = 1)"
        xr = f"(CASE WHEN {flip} THEN {s - 1} - {xl} ELSE {xl} END)"
        yr = f"(CASE WHEN {flip} THEN {s - 1} - {yl} ELSE {yl} END)"
        sql = (
            f"SELECT {id_cols}, "
            f"CASE WHEN {ry} = 0 THEN {yr} ELSE {xr} END AS hx, "
            f"CASE WHEN {ry} = 0 THEN {xr} ELSE {yr} END AS hy, "
            f"hd + {s * s} * xor(3 * {rx}, {ry}) AS hd "
            f"FROM ({sql})"
        )
    return f"SELECT {id_cols}, CAST(hd AS BIGINT) AS hkey FROM ({sql})"


def zonemap_skip_report(
    df: DataFrame,
    sort_key: Column,
    probe_col: str,
    probe_lo: float,
    probe_hi: float,
    rows_per_zone: int = 1000,
) -> DataFrame:
    """Zone-map effectiveness audit: lay the table out in ``sort_key``
    order, cut it into fixed-size zones (the logical stand-in for files /
    row groups), record each zone's (min, max) of ``probe_col``, and count
    how many zones a range predicate on probe_col could SKIP -- the number
    that tells you whether a clustering key actually buys IO pruning
    before you pay to rewrite 100 TB.  Compare the report for a z-order /
    Hilbert key against a single-column or time sort to choose the layout.

    Zones are DATA-derived (global position in (sort_key, probe) order),
    not physical files, so the report is deterministic and engine-exact.
    The global rank follows the c5/c7 distributed-prefix-sum discipline --
    never a single-reducer window: rows bucket by an order-preserving
    integer prefix of the sort key ((sk - min) DIV span over 1024
    spans, from one 2-scalar min/max collect), rank locally per bucket,
    and offset by the model-sized exclusive prefix sum of bucket counts
    (broadcast back).  Zone stats depend only on the sorted multiset of
    (sort_key, probe) values, so ties across bucket boundaries cannot
    change the report.  Returns one row:
    (n_rows, n_zones, n_zones_hit, n_zones_skipped, skip_ppm).
    """
    keyed = df.select(sort_key.cast("long").alias("_sk"), F.col(probe_col).alias("_p"))
    row = keyed.agg(F.min("_sk").alias("lo"), F.max("_sk").alias("hi")).collect()[0]
    if row["lo"] is None:  # empty input: an all-zero report, not a crash
        return df.sparkSession.createDataFrame(
            [(0, 0, 0, 0, 0)],
            "n_rows long, n_zones long, n_zones_hit long, n_zones_skipped long, skip_ppm long",
        )
    lo, hi = int(row["lo"]), int(row["hi"])
    span = max(1, (hi - lo) // 1024 + 1)
    d = keyed.withColumn("_bucket", F.expr(f"(_sk - {lo}) DIV {span}"))
    w_local = Window.partitionBy("_bucket").orderBy("_sk", "_p")
    local = d.withColumn("_lr", F.row_number().over(w_local) - 1)
    # exclusive prefix sum over <= 1024 rows (model-sized); constant-
    # valued pmod partition keeps WindowExec's warning out (sk3 rule)
    w_buckets = (
        Window.partitionBy(F.pmod(F.col("_bucket"), F.lit(1)))
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        d.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(w_buckets), F.lit(0)).cast("long"))
        .select("_bucket", "_off")
    )
    zoned = local.join(F.broadcast(offsets), "_bucket").select(
        "_p", F.expr(f"(_off + _lr) DIV {rows_per_zone}").alias("_zone")
    )
    zones = zoned.groupBy("_zone").agg(
        F.min("_p").alias("zmin"), F.max("_p").alias("zmax"), F.count(F.lit(1)).alias("zn")
    )
    hit = (F.col("zmax") >= probe_lo) & (F.col("zmin") <= probe_hi)
    return zones.agg(
        F.sum("zn").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_zones"),
        F.sum(hit.cast("long")).cast("long").alias("n_zones_hit"),
        F.sum((~hit).cast("long")).cast("long").alias("n_zones_skipped"),
        F.expr(
            f"(1000000 * SUM(CASE WHEN NOT (zmax >= {probe_lo} AND zmin <= {probe_hi}) THEN 1 ELSE 0 END)) DIV COUNT(1)"
        ).alias("skip_ppm"),
    )
