"""Hash aggregations A1-A5 + count actions A8/A9 (SURVEY.md par.2.4).

Reference semantics being reproduced:
  * A1 category statistics  -- YoutubeNetworkAgg_Final.py:163-179
  * A2 length-bucket stats  -- YoutubeNetworkAgg_Final.py:185-205 (CASE WHEN buckets)
  * A3 global view stats    -- YoutubeNetworkAgg_Final.py:211-223 (count/avg/stddev/p50/p90/max)
  * A4 view-bucket histogram-- YoutubeNetworkAgg_Final.py:225-239 (lexicographic bucket order!)
  * A5 degree distribution  -- run_netagg_job.py:32-43
  * A8/A9 counts/distinct   -- YoutubeNetworkAgg_Final.py:275-276, run_alsrecs_job.py:102

All are single-shuffle partial+final hash aggregates (HashAggregateExec with
map-side combine); group-key cardinality is low, so at 100 TB the shuffle
carries only (keys x partitions) rows.  percentile is exact (sort-based) to
stay oracle-comparable -- swap to percentile_approx for cluster runs where
approximation is acceptable (YoutubeNetworkAgg_Final.py:218 used approx).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.precision import dec_avg, dec_sum, micro_round
from youtubeanalyzerproject_big_data__spark.session import pin


def category_stats(df: DataFrame, key: str, value: str, extra_avgs: dict[str, str] | None = None) -> DataFrame:
    """A1: per-category count/avg/max, ordered by group size desc.

    Generic over (key, value); the reference groups videos by ``category``
    and averages views/length/rate (YoutubeNetworkAgg_Final.py:163-179).
    """
    aggs = [
        F.count(F.lit(1)).alias("num_rows"),
        dec_avg(value, f"avg_{value}"),
        micro_round(F.max(value), f"max_{value}"),
        micro_round(F.min(value), f"min_{value}"),
    ]
    for col, alias in (extra_avgs or {}).items():
        aggs.append(dec_avg(col, alias))
    return df.groupBy(key).agg(*aggs).orderBy(F.desc("num_rows"), key)


def bucketize(col: Column, edges: list[tuple[float, str]], default_label: str) -> Column:
    """CASE-WHEN bucketing (YoutubeNetworkAgg_Final.py:189-194,227-234).

    ``edges`` is a list of (upper_bound_exclusive, label), ascending.
    """
    expr: Column | None = None
    for bound, label in edges:
        cond = col < F.lit(bound)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    assert expr is not None
    return expr.otherwise(default_label)


def bucket_stats(df: DataFrame, value_col: str, edges: list[tuple[float, str]], default_label: str, metric_col: str) -> DataFrame:
    """A2: stats per computed bucket, ordered by bucket label."""
    b = bucketize(F.col(value_col), edges, default_label)
    return (
        df.withColumn("bucket", b)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("num_rows"),
            dec_avg(metric_col, f"avg_{metric_col}"),
            micro_round(F.max(metric_col), f"max_{metric_col}"),
        )
        .orderBy("bucket")
    )


def histogram(df: DataFrame, value_col: str, edges: list[tuple[float, str]], default_label: str) -> DataFrame:
    """A4: bucket -> count.  NB the reference orders by the *label string*
    (lexicographic), reproduced here (FIXTURES.md invariant 6)."""
    b = bucketize(F.col(value_col), edges, default_label)
    return df.withColumn("bucket", b).groupBy("bucket").count().withColumnRenamed("count", "num_rows").orderBy("bucket")


def global_stats(df: DataFrame, value_col: str) -> DataFrame:
    """A3: one-row global summary (count/avg/stddev/median/p90/max/sum)."""
    c = F.col(value_col)
    return df.agg(
        F.count(c).alias("cnt"),
        dec_avg(value_col, "avg_val"),
        micro_round(F.stddev(c), "stddev_val", scale=4),
        micro_round(F.percentile(c, 0.5), "p50_val", scale=4),
        micro_round(F.percentile(c, 0.9), "p90_val", scale=4),
        micro_round(F.max(c), "max_val"),
        dec_sum(value_col, "sum_val"),
    )


def grouped_percentiles(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group p25/p50/p75/p90 (A3 generalized): one hash aggregate.

    Spark's exact ``percentile`` buffers each group's values on the
    reducer -- fine for bounded group sizes, a memory bomb for billion-row
    groups, where ``percentile_approx`` (GK sketch, O(accuracy) state per
    group) is the plan; the a17 gate query machine-checks that sketch's
    rank-window guarantee against the exact form."""
    c = F.col(value_col)
    return df.groupBy(group_col).agg(
        F.count(c).alias("cnt"),
        *[micro_round(F.percentile(c, p), f"p{int(p * 100)}", scale=4) for p in (0.25, 0.5, 0.75, 0.9)],
    )


def equidepth_histogram(df: DataFrame, value_col: str, n_buckets: int = 10) -> DataFrame:
    """Equi-depth (equal-count) histogram: bucket boundaries at exact
    percentile cutpoints, bucket = how many cutpoints the value strictly
    exceeds.  Two passes: one exact-percentile aggregate collects the
    n_buckets-1 cutpoints (model-sized), then a map-side bucket expression
    + one hash aggregate.  The uniform-width histogram (A4) misleads on
    skewed data; this is the optimizer/statistics form."""
    cuts_row = df.agg(F.percentile(F.col(value_col), [i / n_buckets for i in range(1, n_buckets)]).alias("c")).collect()
    cuts = [float(x) for x in cuts_row[0]["c"]]
    bucket = F.lit(0)
    for c in cuts:
        bucket = bucket + F.when(F.col(value_col) > F.lit(c), 1).otherwise(0)
    return (
        df.groupBy(bucket.cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            micro_round(F.min(value_col), "lo"),
            micro_round(F.max(value_col), "hi"),
        )
        .orderBy("bucket")
    )


def frequency_distribution(df: DataFrame, key: str) -> DataFrame:
    """A5: distribution of per-key frequencies (degree distribution shape):
    group by key -> count, then group by count -> how many keys."""
    per_key = df.groupBy(key).agg(F.count(F.lit(1)).alias("degree"))
    return per_key.groupBy("degree").agg(F.count(F.lit(1)).alias("num_keys")).orderBy("degree")


def distinct_count(df: DataFrame, col: str) -> DataFrame:
    """A9: exact distinct count (one row).  At cluster scale prefer
    approx_count_distinct to avoid the distinct shuffle when tolerance allows."""
    return df.agg(F.countDistinct(col).alias("n_distinct"))


def pivot_stats(df: DataFrame, key: str, pivot_col: str, pivot_values: list[str], value: str) -> DataFrame:
    """Wide report pivot with EXPLICIT pivot values.

    Passing the values matters twice at scale: without them Spark runs an
    extra distinct-scan job just to discover the columns, and the output
    schema becomes data-dependent (a new category appearing at 100 TB would
    silently widen the table).  With them, pivot compiles to ONE hash
    aggregate on ``key`` whose buffer holds sum(CASE WHEN pivot=v) per
    value -- no Expand, no second shuffle.  Empty cells coalesce to 0.0
    (sentinel-not-NULL output invariant).
    """
    p = df.groupBy(key).pivot(pivot_col, pivot_values).agg(dec_sum(value, "s"))
    cells = [
        F.coalesce(F.col(f"`{v}`"), F.lit(0.0)).alias(f"sum_{value}_{v.lower()}")
        for v in pivot_values
    ]
    return p.select(key, *cells).orderBy(key)


def unpivot_measures(df: DataFrame, ids: list[str], measures: list[str]) -> DataFrame:
    """Long-form melt of measure columns via native ``unpivot`` (Expand:
    one pass over the input, rows multiplied by len(measures), no shuffle).
    Measures are cast to a common double type as unpivot requires."""
    casted = df.select(*ids, *[F.col(m).cast("double").alias(m) for m in measures])
    return casted.unpivot(list(ids), list(measures), "measure", "value")


def rollup_stats(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (absent from the reference --
    SURVEY.md par.2.7 'not present' list -- but the idiomatic Spark upgrade
    for report-style aggregates).  One Expand + single hash aggregate:
    subtotal rows cost one extra expand multiple, not extra passes."""
    return (
        df.rollup(*keys)
        .agg(F.count(F.lit(1)).alias("num_rows"), dec_sum(value, f"sum_{value}"))
        .orderBy(*[F.col(k).asc_nulls_first() for k in keys])
    )


def cube_stats(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """All grouping-set combinations via CUBE; same Expand-based single
    aggregate as rollup_stats."""
    return (
        df.cube(*keys)
        .agg(F.count(F.lit(1)).alias("num_rows"), dec_sum(value, f"sum_{value}"))
        .orderBy(*[F.col(k).asc_nulls_first() for k in keys])
    )


def grouping_sets_stats(df: DataFrame, sets: list[list[str]], keys: list[str], value: str) -> DataFrame:
    """ARBITRARY grouping sets -- the general form rollup/cube specialize
    (a rollup is the suffix chain, a cube the powerset; report pipelines
    routinely need a hand-picked set list neither expresses).  Same
    physical shape as rollup_stats: ONE Expand multiplies each input row
    per set, ONE hash aggregate -- never one pass per set."""
    return (
        df.groupingSets(sets, *[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("num_rows"), dec_sum(value, f"sum_{value}"))
        .orderBy(*[F.col(k).asc_nulls_first() for k in keys])
    )


def profile_columns(df: DataFrame, cols: list, decimal_cols: set | None = None) -> DataFrame:
    """Data-quality profile: one output row per column with
    (column, n_rows, n_nulls, n_distinct, min_str, max_str) -- the audit a
    pipeline runs on every new table/partition before trusting it (null
    explosions, cardinality collapse, out-of-range values all show here).

    ONE scan: all per-column aggregates run in a single agg (Spark plans
    multi-distinct via expand -- cost scales with #cols, not #scans), then
    the single result row unpivots into per-column rows map-side.
    ``decimal_cols`` names float columns whose min/max must stringify
    through DECIMAL(18,6) so both engines print identical bytes (double
    formatting differs across engines).
    """
    from youtubeanalyzerproject_big_data__spark.functions.precision import DEC

    decimal_cols = decimal_cols or set()
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for c in cols:
        aggs += [
            F.count(c).cast("long").alias(f"_cnt_{c}"),
            F.count_distinct(c).cast("long").alias(f"_dst_{c}"),
            F.min(c).alias(f"_min_{c}"),
            F.max(c).alias(f"_max_{c}"),
        ]
    row = df.agg(*aggs)

    def s(prefix: str, c: str):
        v = F.col(f"{prefix}{c}")
        if c in decimal_cols:
            v = v.cast(DEC)
        return F.coalesce(v.cast("string"), F.lit("__null__"))

    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("_n").alias("n_rows"),
            (F.col("_n") - F.col(f"_cnt_{c}")).cast("long").alias("n_nulls"),
            F.col(f"_dst_{c}").alias("n_distinct"),
            s("_min_", c).alias("min_str"),
            s("_max_", c).alias("max_str"),
        )
        for c in cols
    ]
    return row.select(F.explode(F.array(*structs)).alias("p")).select("p.*")


def robust_group_stats(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group robust statistics: median, MAD (median absolute
    deviation -- the outlier-resistant spread measure; 1.4826*MAD ~ sigma
    under normality), and a robust outlier count
    (|x - median| > 3 * 1.4826 * MAD) -- the screening step a
    data-quality pipeline runs where mean/stddev would be dragged by the
    very outliers it hunts.

    Three-pass by necessity (MAD is not one-shot aggregable, and the
    outlier line needs MAD back per row): per-group median (one hash
    aggregate), medians broadcast back for the deviation median (second
    aggregate), the (median, MAD) model -- group-cardinality rows --
    broadcast back once more for the outlier count.  Every broadcast is
    model-sized; the data shuffles only into hash aggregates.  Reducer
    state is bounded by group size (grouped_percentiles' exact-percentile
    caveat; a GK sketch generalizes identically at 100 TB).

    Returns (group, cnt, median_v, mad, n_outliers); the cut line uses
    the UNROUNDED MAD on both engines, outputs round at 6.
    """
    v = F.col(value_col)
    med = df.groupBy(group_col).agg(
        F.count(v).cast("long").alias("cnt"), F.percentile(v, 0.5).alias("_med")
    )
    dev = df.select(group_col, value_col).join(F.broadcast(med), group_col)
    mad = dev.groupBy(group_col).agg(
        F.first("cnt").alias("cnt"),
        F.first("_med").alias("_med"),
        F.percentile(F.abs(v - F.col("_med")), 0.5).alias("_mad"),
    )
    out = (
        df.select(group_col, value_col)
        .join(F.broadcast(mad), group_col)
        .groupBy(group_col)
        .agg(
            F.first("cnt").alias("cnt"),
            micro_round(F.first("_med"), "median_v"),
            micro_round(F.first("_mad"), "mad"),
            F.sum((F.abs(v - F.col("_med")) > F.lit(3.0 * 1.4826) * F.col("_mad")).cast("long"))
            .cast("long")
            .alias("n_outliers"),
        )
    )
    return out


def rfm_segments(
    orders: DataFrame,
    cust_col: str,
    date_col: str,
    amount_col: str,
) -> DataFrame:
    """RFM customer segmentation (Hughes 1994, the classic marketing
    quartile scheme): per customer recency (days since last order, vs the
    table's max date), frequency (order count), monetary (exact decimal
    total), each scored 1-4 against its own global quartiles; output is
    the per-segment roll-up (count + monetary mass).

    Cross-engine determinism: recency/frequency are exact integers and
    monetary is exact int64 micros (DECIMAL-summed), so quartile cutpoints
    interpolate dyadic fractions (.25/.5/.75) between int64 order
    statistics -- exactly representable, bit-identical in any engine; the
    score comparisons are therefore engine-exact, no float thresholds.

    Scale: one customer-grid shuffle (map-side combined), then a 9-scalar
    exact-percentile cutpoint aggregate, then map-side scoring + one
    segment-sized aggregate.  The only collect is the 9 cutpoints.
    """
    us_day = 86_400_000_000
    rfm = orders.groupBy(F.col(cust_col).alias("custkey")).agg(
        # NTZ-safe: cast to session-tz timestamp first (callers pin UTC, so
        # the NTZ wall clock IS the epoch instant, matching epoch_us()).
        F.max(F.unix_micros(F.col(date_col).cast("timestamp"))).alias("last_us"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        (F.sum(F.col(amount_col).cast("decimal(18,6)")) * 1_000_000).cast("long").alias("mon_micros"),
    )
    gmax = rfm.agg(F.max("last_us")).collect()[0][0]  # scalar
    rfm = rfm.withColumn("rec_days", ((F.lit(int(gmax)) - F.col("last_us")) / F.lit(us_day)).cast("long")).cache()
    pctl = lambda c: F.percentile(F.col(c), [0.25, 0.5, 0.75])  # noqa: E731
    cuts = rfm.agg(
        pctl("rec_days").alias("r"), pctl("frequency").alias("f"), pctl("mon_micros").alias("m")
    ).collect()[0]

    def score(col: str, qs, invert: bool) -> Column:
        s = F.lit(1)
        for q in qs:
            s = s + F.when(F.col(col) > F.lit(float(q)), 1).otherwise(0)
        # low recency = good: mirror 1..4 -> 4..1
        return (F.lit(5) - s if invert else s).cast("long")

    scored = rfm.select(
        score("rec_days", cuts["r"], invert=True).alias("r_score"),
        score("frequency", cuts["f"], invert=False).alias("f_score"),
        score("mon_micros", cuts["m"], invert=False).alias("m_score"),
        "mon_micros",
    )
    out = (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            # int64 micros -> double / 1e6, the dec_sum materialization: a
            # ROUND(double, 6) on top is ulp-fragile at scale (q5 sf30 lesson)
            (F.sum("mon_micros").cast("long").cast("double") / F.lit(1_000_000.0)).alias("monetary_total"),
        )
        .withColumn(
            "segment",
            F.concat(F.col("r_score").cast("string"), F.col("f_score").cast("string"), F.col("m_score").cast("string")),
        )
        .select("segment", "r_score", "f_score", "m_score", "n_customers", "monetary_total")
        .orderBy("segment")
    )
    # Pin the segment-sized result, then release the customer-grid cache
    # (session cache hygiene: operators must not leak entries -- see
    # tests/test_dedup.py::test_pinning_operators_release_what_they_built).
    return pin(out, rfm)
