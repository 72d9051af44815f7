"""Relational queries: aggregates (a), filters and samples (f), keyset
pagination (o), windows (w), joins (j, semi/anti join, set ops), pivots (p),
skew handling (sk) and the Bloom-filter gate (bf)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import (
    md5_int32,
    md5_int32_lane_sql,
    md5_int32_sql,
)
from youtubeanalyzerproject_big_data__spark.functions import precision
from youtubeanalyzerproject_big_data__spark.functions.precision import DEC, dec_sum
from youtubeanalyzerproject_big_data__spark.io import load_events, load_table
from youtubeanalyzerproject_big_data__spark.operators import aggregates as agg, filters, joins, sketches, topk
from youtubeanalyzerproject_big_data__spark.streaming import events as ev
from youtubeanalyzerproject_big_data__spark.contract import _utc, query
from youtubeanalyzerproject_big_data__spark.contract._sql import _davg, _dmicro, _dratio, _dsum


QTY_BUCKETS: list[tuple[float, str]] = [(10, "q1_lt10"), (30, "q2_10to29")]
QTY_DEFAULT = "q3_ge30"
PRICE_BUCKETS: list[tuple[float, str]] = [
    (50_000, "<50k"),
    (150_000, "50k-150k"),
    (300_000, "150k-300k"),
    (450_000, "300k-450k"),
]
PRICE_DEFAULT = ">=450k"


@query("a1_event_type_stats", oracle=f"""
            SELECT event_type, COUNT(*) AS num_rows, {_davg('value')} AS avg_value,
                   {_dmicro('MAX(value)')} AS max_value, {_dmicro('MIN(value)')} AS min_value
            FROM events GROUP BY event_type
        """)
def q_a1(spark: SparkSession, sf: str) -> DataFrame:
    """A1 category statistics (YoutubeNetworkAgg_Final.py:163-179) on events."""
    return agg.category_stats(load_events(spark, sf), "event_type", "value")


@query("a2_quantity_bucket_stats", oracle=f"""
            WITH b AS (
              SELECT CASE WHEN l_quantity < 10 THEN 'q1_lt10'
                          WHEN l_quantity < 30 THEN 'q2_10to29'
                          ELSE 'q3_ge30' END AS bucket, l_extendedprice
              FROM lineitem)
            SELECT bucket, COUNT(*) AS num_rows, {_davg('l_extendedprice')} AS avg_l_extendedprice,
                   {_dmicro('MAX(l_extendedprice)')} AS max_l_extendedprice
            FROM b GROUP BY bucket
        """)
def q_a2(spark: SparkSession, sf: str) -> DataFrame:
    """A2 length-bucket statistics (YoutubeNetworkAgg_Final.py:185-205)."""
    return agg.bucket_stats(load_table(spark, sf, "lineitem"), "l_quantity", QTY_BUCKETS, QTY_DEFAULT, "l_extendedprice")


@query("a3_global_price_stats", oracle=f"""
            SELECT COUNT(l_extendedprice) AS cnt, {_davg('l_extendedprice')} AS avg_val,
                   {_dmicro('stddev(l_extendedprice)', 4)} AS stddev_val,
                   {_dmicro('CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE)', 4)} AS p50_val,
                   {_dmicro('CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE)', 4)} AS p90_val,
                   {_dmicro('MAX(l_extendedprice)')} AS max_val,
                   {_dsum('l_extendedprice')} AS sum_val
            FROM lineitem
        """)
def q_a3(spark: SparkSession, sf: str) -> DataFrame:
    """A3 global statistics (YoutubeNetworkAgg_Final.py:211-223)."""
    return agg.global_stats(load_table(spark, sf, "lineitem"), "l_extendedprice")


@query("a4_price_histogram", oracle="""
            SELECT CASE WHEN o_totalprice < 50000 THEN '<50k'
                        WHEN o_totalprice < 150000 THEN '50k-150k'
                        WHEN o_totalprice < 300000 THEN '150k-300k'
                        WHEN o_totalprice < 450000 THEN '300k-450k'
                        ELSE '>=450k' END AS bucket,
                   COUNT(*) AS num_rows
            FROM orders GROUP BY bucket
        """)
def q_a4(spark: SparkSession, sf: str) -> DataFrame:
    """A4 bucket histogram w/ lexicographic label order (YoutubeNetworkAgg_Final.py:225-239)."""
    return agg.histogram(load_table(spark, sf, "orders"), "o_totalprice", PRICE_BUCKETS, PRICE_DEFAULT)


@query("a5_order_size_distribution", bench=True, oracle="""
            WITH d AS (SELECT l_orderkey, COUNT(*) AS degree FROM lineitem GROUP BY l_orderkey)
            SELECT degree, COUNT(*) AS num_keys FROM d GROUP BY degree
        """)
def q_a5(spark: SparkSession, sf: str) -> DataFrame:
    """A5 out-degree distribution analog (run_netagg_job.py:32-43)."""
    return agg.frequency_distribution(load_table(spark, sf, "lineitem"), "l_orderkey")


@query("a6_top_orders_by_price", oracle="""
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
        """)
def q_a6(spark: SparkSession, sf: str) -> DataFrame:
    """A6/O4 top-K by value (Top_K_Final.py:13-17, intended semantics)."""
    df = topk.top_k(load_table(spark, sf, "orders"), "o_totalprice", 100, tiebreak="o_orderkey")
    return df.select("o_orderkey", "o_custkey", "o_totalprice")


@query("a7_order_parts_csv", bench=True, stdout=True, oracle="""
            SELECT l_orderkey, array_to_string(list(l_partkey ORDER BY l_partkey), ',') AS parts_csv,
                   COUNT(*) AS n_lines
            FROM lineitem GROUP BY l_orderkey
        """)
def q_a7(spark: SparkSession, sf: str) -> DataFrame:
    """A7 deterministic collect_list re-nesting (run_alsrecs_job.py:142-145)."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(",", F.transform(F.sort_array(F.collect_list("l_partkey")), lambda x: x.cast("string"))).alias("parts_csv"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query("a8_table_counts", oracle="""
            SELECT 'lineitem' AS tbl, COUNT(*) AS n_rows FROM lineitem
            UNION ALL SELECT 'orders', COUNT(*) FROM orders
            UNION ALL SELECT 'customer', COUNT(*) FROM customer
        """)
def q_a8(spark: SparkSession, sf: str) -> DataFrame:
    """A8 count actions (YoutubeNetworkAgg_Final.py:25-35) as one result set."""
    parts = []
    for name in ("lineitem", "orders", "customer"):
        parts.append(load_table(spark, sf, name).agg(F.count(F.lit(1)).alias("n_rows")).select(F.lit(name).alias("tbl"), "n_rows"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query("a9_distinct_customers", oracle="SELECT COUNT(DISTINCT o_custkey) AS n_distinct FROM orders")
def q_a9(spark: SparkSession, sf: str) -> DataFrame:
    """A9 distinct (run_alsrecs_job.py:102)."""
    return agg.distinct_count(load_table(spark, sf, "orders"), "o_custkey")


@query("f9_hash_sample", oracle=f"""
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "s1")}) % 1000000 < 100000
        """)
def q_f9(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash sample (~10%): membership is a pure function of
    the key, so the sampled SET is reproducible across engines/partitions/
    re-runs -- unlike RNG df.sample, this is fully oracle-checkable."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import hash_sample

    o = load_table(spark, sf, "orders")
    return hash_sample(o, "o_orderkey", 0.10, seed="s1").select("o_orderkey", "o_totalprice")


# f13: same keyed-md5 rank, k-row cut; (hash, key) is a total order.
@query("f13_exact_k_sample", oracle=f"""
            SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "f13")}) ASC, o_orderkey ASC
            LIMIT 50
        """)
def q_f13(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-k deterministic uniform sample (sampling.exact_k_sample):
    the 50 orders with the lowest keyed-md5 rank -- the fixed-size
    eval-set draw (f9's rate form gives only an EXPECTED size).  Compiles
    to TakeOrderedAndProject: per-partition k-heaps, driver merges P*k
    rows, no global sort."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import exact_k_sample

    o = load_table(spark, sf, "orders")
    return exact_k_sample(o, "o_orderkey", 50, seed="f13").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query("f10_stratified_sample", oracle=f"""
            SELECT o_orderkey, o_orderpriority FROM orders
            WHERE (o_orderpriority = '1-URGENT'
                   AND ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "s2")}) % 1000000 < 1000000)
               OR (o_orderpriority = '5-LOW'
                   AND ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "s2")}) % 1000000 < 100000)
        """)
def q_f10(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified deterministic sampling: rebalance strata (keep all URGENT,
    10% of LOW) -- the corpus-rebalancing step of training-data curation."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import stratified_hash_sample

    o = load_table(spark, sf, "orders")
    out = stratified_hash_sample(o, "o_orderkey", "o_orderpriority", {"1-URGENT": 1.0, "5-LOW": 0.10}, seed="s2")
    return out.select("o_orderkey", "o_orderpriority")


@query("a10_rollup_order_stats", oracle=f"""
            SELECT COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
                   COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
                   COUNT(*) AS num_rows,
                   {_dsum("o_totalprice")} AS sum_o_totalprice
            FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """)
def q_a10(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP subtotals (idiomatic grouping-sets upgrade; not in reference)."""
    out = agg.rollup_stats(load_table(spark, sf, "orders"), ["o_orderpriority", "o_orderstatus"], "o_totalprice")
    # subtotal rows get an explicit label: no NULL group keys reach the
    # driver compare (its NULL ordering semantics are not ours to assume)
    return out.select(
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("o_orderstatus"),
        "num_rows",
        "sum_o_totalprice",
    )


@query("a11_cube_order_stats", oracle=f"""
            SELECT COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
                   COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
                   COUNT(*) AS num_rows,
                   {_dsum("o_totalprice")} AS sum_o_totalprice
            FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        """)
def q_a11(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over priority x status."""
    out = agg.cube_stats(load_table(spark, sf, "orders"), ["o_orderpriority", "o_orderstatus"], "o_totalprice")
    return out.select(
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("o_orderstatus"),
        "num_rows",
        "sum_o_totalprice",
    )


@query("a24_grouping_sets", oracle=f"""
            SELECT COALESCE(o_orderpriority, '(all)') AS o_orderpriority,
                   COALESCE(o_orderstatus, '(all)') AS o_orderstatus,
                   COUNT(*) AS num_rows,
                   {_dsum("o_totalprice")} AS sum_o_totalprice
            FROM orders
            GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
        """)
def q_a24(spark: SparkSession, sf: str) -> DataFrame:
    """Arbitrary GROUPING SETS (agg.grouping_sets_stats): the hand-picked
    set list ((priority,status),(status),()) -- a 'reverse rollup' neither
    ROLLUP (which would drop status first) nor CUBE (which would add the
    (priority) set) expresses.  One Expand + one hash aggregate, same as
    a10/a11; '(all)' labels keep NULL group keys out of outputs."""
    out = agg.grouping_sets_stats(
        load_table(spark, sf, "orders"),
        [["o_orderpriority", "o_orderstatus"], ["o_orderstatus"], []],
        ["o_orderpriority", "o_orderstatus"],
        "o_totalprice",
    )
    return out.select(
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("o_orderstatus"),
        "num_rows",
        "sum_o_totalprice",
    )


@query("f4_returned_mid_quantity", oracle="""
            SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_returnflag
            FROM lineitem WHERE l_quantity BETWEEN 10 AND 30 AND l_returnflag = 'R'
        """)
def q_f4(spark: SparkSession, sf: str) -> DataFrame:
    """F4 conjunctive range predicate (QueryScripts_Final.py:15-18)."""
    li = load_table(spark, sf, "lineitem")
    out = filters.range_query(li, "l_quantity", 10, 30, extra=(F.col("l_returnflag") == "R"))
    return out.select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_returnflag")


@query("f5_price_range", oracle="""
            SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
            WHERE o_totalprice BETWEEN 50000 AND 150000
        """)
def q_f5(spark: SparkSession, sf: str) -> DataFrame:
    """F5 numeric range predicate (QueryScripts_Final.py:36)."""
    o = load_table(spark, sf, "orders")
    return filters.range_query(o, "o_totalprice", 50_000, 150_000).select("o_orderkey", "o_totalprice", "o_orderstatus")


@query("f6_dynamic_search_count", oracle="""
            SELECT COUNT(*) AS num_matches FROM lineitem
            WHERE l_returnflag = 'A' AND l_quantity >= 5 AND l_quantity <= 40
        """)
def q_f6(spark: SparkSession, sf: str) -> DataFrame:
    """F6 dynamic predicate builder + match count (YoutubeNetworkAgg_Final.py:247-276)."""
    li = load_table(spark, sf, "lineitem")
    return filters.dynamic_search_count(li, [("l_returnflag", "eq", "A"), ("l_quantity", "ge", 5), ("l_quantity", "le", 40)])


@query("j1_orders_line_counts_top10", oracle="""
            WITH c AS (SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY l_orderkey)
            SELECT o_orderkey, COALESCE(n, 0) AS n_lines
            FROM orders LEFT JOIN c ON o_orderkey = l_orderkey
            ORDER BY n_lines DESC, o_orderkey LIMIT 10
        """)
def q_j1(spark: SparkSession, sf: str) -> DataFrame:
    """J1 degree-preserving left join + fillna(0) (YoutubeNetworkAgg_Final.py:122-129)."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    counts = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(F.count(F.lit(1)).alias("n_lines"))
    joined = joins.left_join_fill_zero(o.select("o_orderkey"), counts, "o_orderkey", ["n_lines"])
    return topk.top_k(joined, "n_lines", 10, tiebreak="o_orderkey")


@query("j6_topk_enriched_customers", oracle="""
            SELECT o_orderkey, o_totalprice, c_name
            FROM (SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50) o
            LEFT JOIN customer ON o.o_custkey = customer.c_custkey
        """)
def q_j6(spark: SparkSession, sf: str) -> DataFrame:
    """J6 broadcast enrichment replacing the N+1 find_one loop (PageRank_Spark_v5.py:148-156)."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer").select(F.col("c_custkey").alias("o_custkey"), "c_name")
    top = topk.top_k(o, "o_totalprice", 50, tiebreak="o_orderkey")
    return joins.enrich_broadcast(top, c, "o_custkey").select("o_orderkey", "o_totalprice", "c_name")


# datediff on DATE-truncated timestamps matches Spark's datediff
# (timestamps here are date-valued; UTC pinned on both sides).
@query("w3_order_lag_quartiles", oracle="""
            SELECT o_orderkey,
                   CAST(COALESCE(datediff('day',
                                 LAG(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                                 CAST(o_orderdate AS DATE)), -1) AS BIGINT) AS days_since_prev,
                   CAST(NTILE(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_quartile
            FROM orders
        """)
def q_w3(spark: SparkSession, sf: str) -> DataFrame:
    """Window forms not covered by w1/w2: lag (per-customer days since the
    previous order) and ntile (price quartile within each priority class).
    Both windows partition on real keys -- no single-partition global
    window, which would serialize at scale."""
    _utc(spark)
    o = load_table(spark, sf, "orders")
    w_cust = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_prio = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return o.select(
        "o_orderkey",
        F.coalesce(
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w_cust)).cast("long"), F.lit(-1)
        ).alias("days_since_prev"),
        F.ntile(4).over(w_prio).cast("long").alias("price_quartile"),
    )


@query("w1_top3_orders_per_priority", bench=True, oracle="""
            SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rank_in_group
            FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk
                  FROM orders)
            WHERE rk <= 3
        """)
def q_w1(spark: SparkSession, sf: str) -> DataFrame:
    """Window top-K per group (the idiomatic upgrade flagged in SURVEY.md par.2.7)."""
    o = load_table(spark, sf, "orders")
    out = topk.top_k_per_group(o, "o_orderpriority", "o_totalprice", 3, tiebreak="o_orderkey")
    return out.select("o_orderpriority", "o_orderkey", "o_totalprice", F.col("rank_in_group").cast("long").alias("rank_in_group"))


# Frame ordered by integer epoch-micros (not raw nanos): the engine
# frames at microsecond resolution, so the oracle must collapse
# sub-microsecond distinctions before the event_id tiebreak (same
# hardening as w4).
@query("w2_user_running_value", bench=True, oracle="""
            SELECT event_id, user_id,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
                       PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS running_value
            FROM events
        """)
def q_w2(spark: SparkSession, sf: str) -> DataFrame:
    """Running total window (frames) over the event stream."""
    _utc(spark)
    e = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), 6).alias("running_value"),
    )


# Equi-depth replay: quantile_cont's interpolated cutpoints sit
# STRICTLY between neighboring data values (or exactly on one when
# g=0), so a last-ulp interpolation difference cannot move any
# value across a bucket boundary.
@query("a16_equidepth_histogram", oracle=f"""
            WITH c AS (SELECT quantile_cont(o_totalprice, [{", ".join(str(i / 10) for i in range(1, 10))}]) AS cuts FROM orders)
            SELECT CAST(list_sum(list_transform(cuts, t -> CASE WHEN o_totalprice > t THEN 1 ELSE 0 END)) AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   {_dmicro('MIN(o_totalprice)')} AS lo,
                   {_dmicro('MAX(o_totalprice)')} AS hi
            FROM orders, c
            GROUP BY bucket ORDER BY bucket
        """)
def q_a16(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth histogram of order totals (10 equal-count buckets at
    exact percentile cutpoints; operators/aggregates.equidepth_histogram)
    -- the statistics form a skew-robust optimizer keeps."""
    return agg.equidepth_histogram(load_table(spark, sf, "orders"), "o_totalprice", n_buckets=10)


@query("a15_grouped_percentiles", oracle=f"""
            SELECT event_type, COUNT(value) AS cnt,
                   {_dmicro('CAST(quantile_cont(value, 0.25) AS DOUBLE)', 4)} AS p25,
                   {_dmicro('CAST(quantile_cont(value, 0.5) AS DOUBLE)', 4)} AS p50,
                   {_dmicro('CAST(quantile_cont(value, 0.75) AS DOUBLE)', 4)} AS p75,
                   {_dmicro('CAST(quantile_cont(value, 0.9) AS DOUBLE)', 4)} AS p90
            FROM events GROUP BY event_type
        """)
def q_a15(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type exact percentile profile of `value` (a3 generalized
    to groups; one hash aggregate)."""
    return agg.grouped_percentiles(load_events(spark, sf), "event_type", "value")


# Profile replay: per-column UNION ALL of the same aggregates;
# o_totalprice min/max through DECIMAL(18,6) strings.
@query("a18_column_profile", oracle="""
            SELECT 'o_custkey' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
                   COALESCE(CAST(MIN(o_custkey) AS VARCHAR), '__null__') AS min_str,
                   COALESCE(CAST(MAX(o_custkey) AS VARCHAR), '__null__') AS max_str
            FROM orders
            UNION ALL
            SELECT 'o_orderkey', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
                   COALESCE(CAST(MIN(o_orderkey) AS VARCHAR), '__null__'),
                   COALESCE(CAST(MAX(o_orderkey) AS VARCHAR), '__null__')
            FROM orders
            UNION ALL
            SELECT 'o_orderpriority', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
                   COALESCE(MIN(o_orderpriority), '__null__'),
                   COALESCE(MAX(o_orderpriority), '__null__')
            FROM orders
            UNION ALL
            SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
                   CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
                   COALESCE(MIN(o_orderstatus), '__null__'),
                   COALESCE(MAX(o_orderstatus), '__null__')
            FROM orders
            UNION ALL
            SELECT 'o_totalprice', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
                   CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
                   COALESCE(CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,6)) AS VARCHAR), '__null__'),
                   COALESCE(CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,6)) AS VARCHAR), '__null__')
            FROM orders
        """)
def q_a18(spark: SparkSession, sf: str) -> DataFrame:
    """Column profile of orders (operators/aggregates.profile_columns):
    per-column rows/nulls/distinct/min/max in ONE scan (multi-distinct
    agg + map-side unpivot) -- the trust-but-verify audit before a
    pipeline consumes a new partition.  o_totalprice stringifies through
    decimal(18,6) so both engines print identical min/max bytes."""
    return agg.profile_columns(
        load_table(spark, sf, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"],
        decimal_cols={"o_totalprice"},
    ).orderBy("column")


# Per-group HLL gate: sketch internals are engine-specific, so the
# oracle pins the contract bit + exact counts (a12's pattern).
@query("a19_group_distinct_gate", oracle="""
            SELECT event_type, 1 AS within_5pct,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
            FROM events GROUP BY event_type
        """)
def q_a19(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group HLL gate (a12 generalized to groups): approx distinct
    users per event_type (rsd=0.01) must land within 5% of the exact
    count -- the per-partition cardinality monitor that replaces the
    distinct shuffle at 100 TB.  HLL++ is deterministic for a given
    dataset, so the gate bit is stable; the oracle pins it plus the exact
    counts."""
    e = load_events(spark, sf)
    out = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx"),
        F.count_distinct("user_id").alias("exact"),
    )
    return out.select(
        "event_type",
        (F.abs(F.col("approx") - F.col("exact")) / F.col("exact") <= 0.05).cast("int").alias("within_5pct"),
        F.col("exact").cast("long").alias("exact_distinct"),
    ).orderBy("event_type")


# GK-sketch gate, per group: the oracle pins the rank-window
# contract bit (holds mathematically for rank error 1e-4) plus the
# exact median; sketch internals are engine-specific by design.
@query("a17_approx_grouped_percentiles_gate", oracle=f"""
            SELECT event_type, 1 AS in_rank_window,
                   {_dmicro('CAST(quantile_cont(value, 0.5) AS DOUBLE)', 4)} AS exact_p50
            FROM events GROUP BY event_type
        """)
def q_a17(spark: SparkSession, sf: str) -> DataFrame:
    """Approx grouped percentiles gated per group: the 100 TB path of a15
    (``percentile_approx`` -- GK sketch, O(accuracy) state per group
    instead of buffering the whole group on a reducer) must land its
    per-group p50 inside the exact rank window [p49, p51].

    The window gate is the sketch's actual mathematical contract (rank
    error <= 1/accuracy = 1e-4 << 0.01), so it holds on ANY value
    distribution -- unlike a relative-error gate, which gets fragile when
    the median sits near zero.  Oracle pins the contract bit + the exact
    median (a13's gate pattern, per group)."""
    e = load_events(spark, sf)
    out = e.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.percentile("value", 0.49).alias("p49"),
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.51).alias("p51"),
    )
    return out.select(
        "event_type",
        ((F.col("approx_p50") >= F.col("p49")) & (F.col("approx_p50") <= F.col("p51")))
        .cast("int")
        .alias("in_rank_window"),
        precision.micro_round("p50", "exact_p50", scale=4),
    ).orderBy("event_type")


@query("f12_group_examples", oracle=f"""
            SELECT source, doc_id, CAST(rk AS BIGINT) AS sample_rank
            FROM (SELECT source, doc_id,
                         ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "ex")}), doc_id) AS rk
                  FROM documents)
            WHERE rk <= 3
        """)
def q_f12(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source deterministic 3-doc example sample: smallest (md5, id)
    per stratum via the two-stage partial top-n
    (functions/sampling.group_example_sample) -- no stratum ever funnels
    through one reducer."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import group_example_sample

    return group_example_sample(load_table(spark, sf, "documents"), "doc_id", "source", n=3, seed="ex")


# Funnel replay: strict-after joins on the shrinking per-user reach
# tables, timestamps as integer epoch-micros.
@query("f11_funnel_counts", bench=True, oracle="""
            WITH ev AS (SELECT user_id AS u, epoch_ns(ts) // 1000 AS ts_us, event_type AS et FROM events),
            s1 AS (SELECT u, MIN(ts_us) AS t FROM ev WHERE et = 'view' GROUP BY u),
            s2 AS (SELECT ev.u, MIN(ts_us) AS t FROM ev JOIN s1 ON ev.u = s1.u AND ev.ts_us > s1.t
                   WHERE et = 'click' GROUP BY ev.u),
            s3 AS (SELECT ev.u, MIN(ts_us) AS t FROM ev JOIN s2 ON ev.u = s2.u AND ev.ts_us > s2.t
                   WHERE et = 'purchase' GROUP BY ev.u)
            SELECT 'view' AS step, CAST(1 AS BIGINT) AS step_no, (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n_users
            UNION ALL
            SELECT 'click', CAST(2 AS BIGINT), (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
            UNION ALL
            SELECT 'purchase', CAST(3 AS BIGINT), (SELECT CAST(COUNT(*) AS BIGINT) FROM s3)
        """)
def q_f11(spark: SparkSession, sf: str) -> DataFrame:
    """Conversion funnel view -> click -> purchase: per-step user counts
    with strict in-order timestamps (streaming/events.funnel_steps; one
    filtered hash aggregate per step, no per-user event collects).  UTC
    pinned like every event-time query: load_events casts NTZ->TIMESTAMP
    with the session zone, and a non-UTC zone with a DST fold makes
    wall-clock ordering non-monotonic vs the oracle's epoch-nanos order."""
    _utc(spark)
    return ev.funnel_steps(load_events(spark, sf), ["view", "click", "purchase"])


@query("w4_rolling_user_value", bench=True, oracle="""
            SELECT event_id, user_id,
                   CAST(COUNT(*) OVER win AS BIGINT) AS rolling_n,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE), 6) AS rolling_sum,
                   ROUND(MIN(value) OVER win, 6) AS rolling_min,
                   ROUND(MAX(value) OVER win, 6) AS rolling_max
            FROM events
            WINDOW win AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id
                           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """)
def q_w4(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 5-event per-user stats (sliding ROWS frame): the time-series
    smoothing/anomaly primitive.  Decimal-exact rolling sums (order-
    invariant), deterministic (ts, event_id) tiebreak; the oracle orders by
    integer epoch-MICROseconds so both engines frame identical rows even
    where nanosecond inputs collide at microsecond resolution."""
    _utc(spark)
    e = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("rolling_n"),
        F.round(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), 6).alias("rolling_sum"),
        precision.micro_round(F.min("value").over(w), "rolling_min"),
        precision.micro_round(F.max("value").over(w), "rolling_max"),
    )


# Sliding frame ordered by integer epoch-MICROS (epoch_ns // 1000),
# not raw nanos: Spark frames rows at microsecond resolution, so the
# oracle must collapse sub-microsecond distinctions the same way
# before the (ts, event_id) tiebreak.
# RANGE-frame replay: value-defined frames over the same integer
# micros, inclusive bounds, peers included -- no tiebreak needed.
@query("w5_trailing_window_rate", oracle="""
            SELECT event_id, user_id,
                   CAST(COUNT(*) OVER win AS BIGINT) AS trailing_n,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE), 6) AS trailing_sum
            FROM events
            WINDOW win AS (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000
                           RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        """)
def q_w5(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 10-MINUTE per-user stats (time-based RANGE frame, the
    companion to w4's ROWS frame): each event aggregates every event of
    the same user in the trailing 600 s window, however many rows that is
    -- the rate/velocity primitive (events-per-window, value-per-window).
    Frames are value-defined (epoch-micros range, peers included), so no
    row tiebreak is needed; sums are decimal-exact.  Both engines frame on
    the same integer micros with inclusive bounds."""
    _utc(spark)
    e = load_events(spark, sf)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("trailing_n"),
        F.round(F.sum(F.col("value").cast(DEC)).over(w).cast("double"), 6).alias("trailing_sum"),
    )


# i2: full-table recompute == merged incremental state (top-k
# mergeability); deterministic (price desc, orderkey) cut.
# o7: cursor = the 100th row under (price desc, key); page = rows
# strictly after it.  QUALIFY-free formulation via ROW_NUMBER.
@query("o7_keyset_pagination", oracle="""
            WITH r AS (
              SELECT o_orderkey, o_totalprice, o_orderpriority,
                     ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders)
            SELECT o_orderkey, o_totalprice, o_orderpriority
            FROM r WHERE rn > 100 AND rn <= 150 ORDER BY rn
        """)
def q_o7(spark: SparkSession, sf: str) -> DataFrame:
    """Keyset pagination (the serving pattern that replaces OFFSET at
    scale): page 3 of orders by (o_totalprice desc, o_orderkey asc),
    page size 50.  The cursor -- the 100th row's (price, key) -- is ONE
    collected row; the page query is then a pushable predicate + top-50,
    so deep pages cost the same as page 1 (OFFSET n scans-and-discards n
    rows, growing linearly with depth).  Oracle replays cursor + page in
    one query."""
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
    cursor = (
        o.orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(100).orderBy(
            F.col("o_totalprice").asc(), F.col("o_orderkey").desc()
        ).limit(1).collect()[0]
    )  # the 100th row, model-sized collect
    cp, ck = float(cursor["o_totalprice"]), int(cursor["o_orderkey"])
    after = (F.col("o_totalprice") < cp) | (
        (F.col("o_totalprice") == cp) & (F.col("o_orderkey") > ck)
    )
    return o.where(after).orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(50)


@query("sk3_skew_diagnosis", oracle=f"""
            WITH per AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY user_id),
            t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM per),
            top AS (
              SELECT user_id, n_events,
                     CAST(ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id) AS BIGINT) AS rk
              FROM per ORDER BY n_events DESC, user_id LIMIT 20)
            SELECT rk, user_id, n_events,
                   {_dratio('n_events', 't.total')} AS share,
                   {_dratio('CAST(SUM(n_events) OVER (ORDER BY rk) AS BIGINT)', 't.total')} AS cum_share
            FROM top, t ORDER BY rk
        """)
def q_sk3(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew diagnosis (the sk1/sk2 companion: DETECT before you
    salt): the 20 hottest event user_ids with exact per-key shares and a
    running cumulative share -- if cum_share at k=20 is large, the
    aggregate/join needs the salted path.  Two hash aggregates + a
    20-row window; shares divide exact int64 counts once.  The windows
    run over the PRE-LIMITED 20 rows, so one partition is the design, not
    an accident; they partition by pmod(col, 1) -- constant 0 per row,
    but NOT foldable (bare literals and col*0 both get optimized out of
    the spec) -- so WindowExec doesn't log its move-all-data warning on
    every run (VERDICT r5 noise item)."""
    e = load_events(spark, sf)
    per = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    total = per.agg(F.sum("n_events")).collect()[0][0]
    single = F.pmod(F.col("n_events"), F.lit(1))  # 0 for every row; survives the optimizer
    top = (
        per.orderBy(F.col("n_events").desc(), "user_id")
        .limit(20)
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy(single).orderBy(F.col("n_events").desc(), "user_id")).cast("long"),
        )
    )
    w_cum = Window.partitionBy(F.pmod(F.col("rk"), F.lit(1))).orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    return top.select(
        "rk",
        "user_id",
        "n_events",
        precision.ratio_round(F.col("n_events"), F.lit(int(total)), "share"),
        precision.ratio_round(F.sum("n_events").over(w_cum), F.lit(int(total)), "cum_share"),
    ).orderBy("rk")


@query("a22_grouped_mode", oracle="""
            WITH per AS (
              SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
              FROM orders GROUP BY 1, 2),
            rk AS (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                           ORDER BY n DESC, o_orderstatus) AS r
              FROM per)
            SELECT o_orderpriority, o_orderstatus AS mode_status, n
            FROM rk WHERE r = 1 ORDER BY o_orderpriority
        """)
def q_a22(spark: SparkSession, sf: str) -> DataFrame:
    """Grouped mode with DETERMINISTIC ties (most-frequent order status
    per priority): count + ROW_NUMBER(count desc, value asc) on both
    engines -- native mode() tie behavior is engine-unspecified, so the
    deterministic formulation IS the operator."""
    o = load_table(spark, sf, "orders")
    per = o.groupBy("o_orderpriority", "o_orderstatus").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("n").desc(), "o_orderstatus")
    return (
        per.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("o_orderpriority", F.col("o_orderstatus").alias("mode_status"), "n")
        .orderBy("o_orderpriority")
    )


@query("w6_percentile_scores", oracle=f"""
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   {_dmicro('PERCENT_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)')} AS pct_rank,
                   {_dmicro('CUME_DIST() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)')} AS cume
            FROM orders ORDER BY o_orderkey
        """)
def q_w6(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution-normalizing window functions: percent_rank + cume_dist
    of order totals WITHIN each priority -- the per-group percentile score
    used for cross-group-comparable rankings.  Both are pure rank
    arithmetic over exact doubles (ties share ranks, so no order
    dependence); key-partitioned windows only."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        precision.micro_round(F.percent_rank().over(w), "pct_rank"),
        precision.micro_round(F.cume_dist().over(w), "cume"),
    ).orderBy("o_orderkey")


@query("sj_customers_with_orders", oracle="""
            SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """)
def q_semi(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi join: customers having orders."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return joins.semi_join(c, o, "c_custkey").select("c_custkey", "c_name")


@query("aj_customers_without_orders", oracle="""
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """)
def q_anti(spark: SparkSession, sf: str) -> DataFrame:
    """Left-anti join: customers with no orders."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return joins.anti_join(c, o, "c_custkey").select("c_custkey", "c_name")


@query("set_ops_custkeys", oracle="""
            SELECT c_custkey, 'intersect' AS set_op
            FROM (SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders)
            UNION ALL
            SELECT c_custkey, 'except' AS set_op
            FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders)
        """)
def q_setops(spark: SparkSession, sf: str) -> DataFrame:
    """INTERSECT / EXCEPT over customer keys."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    inter = c.intersect(o).withColumn("set_op", F.lit("intersect"))
    exc = c.exceptAll(o.distinct()).distinct().withColumn("set_op", F.lit("except"))
    return inter.unionAll(exc)


@query("sk1_salted_event_stats", oracle=f"""
            SELECT event_type, COUNT(*) AS n,
                   {_dsum("value")} AS sum_value
            FROM events GROUP BY event_type
        """)
def q_sk1(spark: SparkSession, sf: str) -> DataFrame:
    """Salted two-phase aggregation (functions/skew.py) exercised as a
    driver query: per-type count + exact decimal value sum.  The decimal
    partials make the result salt-count- and partition-invariant, so the
    plain GROUP BY oracle must hash-match exactly -- proving the skew path
    changes the PLAN, never the answer."""
    from youtubeanalyzerproject_big_data__spark.functions.skew import salted_agg

    ev = load_events(spark, sf).select("event_type", "value")
    return salted_agg(
        ev,
        "event_type",
        [F.count(F.lit(1)).alias("_c"), F.sum(F.col("value").cast(DEC)).alias("_s")],
        [
            F.sum("_c").cast("long").alias("n"),
            # micro-materialized double (dec_sum_col recipe); NO ROUND(x, 6)
            # re-round on top -- it is an identity at gate scale but
            # ulp-fragile once |sum|*1e6 nears 2^53 (the q5 sf30 lesson)
            ((F.sum("_s") * 1_000_000).cast("long").cast("double") / F.lit(1_000_000.0)).alias("sum_value"),
        ],
        num_salts=16,
    )


# Oracle = the UNSALTED join: proves salted_join is plan-only.
@query("sk2_salted_join_user_clicks", oracle="""
            WITH clicks AS (
              SELECT user_id, COUNT(*) AS n FROM events
              WHERE event_type = 'click' GROUP BY user_id)
            SELECT e.event_id, e.user_id, e.event_type,
                   CAST(COALESCE(c.n, 0) AS BIGINT) AS n_user_clicks
            FROM events e LEFT JOIN clicks c ON e.user_id = c.user_id
        """)
def q_sk2(spark: SparkSession, sf: str) -> DataFrame:
    """Salted/replicated equi-JOIN (functions/skew.salted_join) as a driver
    query: every event enriched with its user's total click count.  The
    left (fact) side is salted, the per-user dim is replicated across the
    salt domain, and the join runs on (user, salt) -- a hot user's events
    spread over 16 reducers instead of one.  The oracle is the PLAIN join:
    salting must change the plan, never the answer (sk1's contract, for
    joins).  No-click users keep the 0 sentinel via the left join."""
    from youtubeanalyzerproject_big_data__spark.functions.skew import salted_join

    evt = load_events(spark, sf).select("event_id", "user_id", "event_type")
    clicks = (
        evt.where(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("c_user"))
        .agg(F.count(F.lit(1)).alias("n_user_clicks"))
    )
    out = salted_join(evt, clicks, "user_id", "c_user", num_salts=16, how="left")
    return (
        out.select(
            "event_id",
            "user_id",
            "event_type",
            F.coalesce(F.col("n_user_clicks"), F.lit(0)).cast("long").alias("n_user_clicks"),
        )
        .orderBy("event_id")
    )


@query("a12_approx_distinct_gate", oracle="""
            SELECT 1 AS within_5pct, COUNT(DISTINCT l_partkey) AS exact_distinct FROM lineitem
        """)
def q_a12(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate-distinct (HLL++) gated against the exact count: sketches
    are engine-specific, so the oracle pins the CONTRACT (relative error
    within 5% at rsd=0.01 -- a 5-sigma bound) plus the exact value, rather
    than the sketch internals."""
    li = load_table(spark, sf, "lineitem")
    out = li.agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx"),
        F.countDistinct("l_partkey").alias("exact"),
    )
    return out.select(
        (F.abs(F.col("approx") - F.col("exact")) / F.col("exact") <= 0.05).cast("int").alias("within_5pct"),
        F.col("exact").cast("long").alias("exact_distinct"),
    )


@query("a14_heavy_hitters_gate", bench=True, oracle="""
            WITH c AS (SELECT CAST(event_type AS VARCHAR) AS k, COUNT(*) AS exact FROM events GROUP BY 1),
            n AS (SELECT COUNT(*) AS nt FROM events),
            h AS (SELECT CAST(COUNT(*) AS BIGINT) AS nh FROM c, n WHERE exact > nt / 64.0)
            SELECT nh AS n_heavy, nh AS n_heavy_found,
                   CAST(1 AS INTEGER) AS all_heavy_found,
                   CAST(1 AS INTEGER) AS no_overestimate,
                   CAST(1 AS INTEGER) AS underestimate_ok
            FROM h
        """)
def q_a14(spark: SparkSession, sf: str) -> DataFrame:
    """Misra-Gries heavy hitters, gated on the sketch GUARANTEES (present /
    no-overestimate / N-over-k underestimate bound) rather than sketch
    internals, which legitimately vary with partitioning -- the a12/a13
    contract pattern applied to a custom partition-local mergeable sketch
    (operators/sketches.py)."""
    return sketches.heavy_hitters_gate(load_events(spark, sf), "event_type", k=64)


# a23: the whole Count-Min sketch replays -- md5 row hashes are the
# engine's portable family, so counters AND estimates are exact.
@query("a23_count_min_gate", bench=True, oracle="""
            WITH e AS (SELECT CASE WHEN user_id % 10 < 5 THEN -1 ELSE user_id END AS k FROM events),
            h AS (SELECT k, t.j,
                         CAST(concat('0x', substring(md5(concat('cm', CAST(t.j AS VARCHAR), ':', CAST(k AS VARCHAR))), 1, 8)) AS BIGINT) % 256 AS bucket
                  FROM e, unnest(generate_series(0, 3)) AS t(j)),
            c AS (SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY 1, 2),
            q AS (SELECT unnest([-1, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19]) AS qk),
            p AS (SELECT q.qk, t.j,
                         CAST(concat('0x', substring(md5(concat('cm', CAST(t.j AS VARCHAR), ':', CAST(q.qk AS VARCHAR))), 1, 8)) AS BIGINT) % 256 AS bucket
                  FROM q, unnest(generate_series(0, 3)) AS t(j)),
            est AS (SELECT p.qk, CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est_n
                    FROM p LEFT JOIN c ON p.j = c.j AND p.bucket = c.bucket GROUP BY p.qk),
            tr AS (SELECT k AS qk, CAST(COUNT(*) AS BIGINT) AS true_n
                   FROM e WHERE k IN (-1, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19) GROUP BY k)
            SELECT CAST(est.qk AS VARCHAR) AS qkey,
                   CAST(COALESCE(tr.true_n, 0) AS BIGINT) AS true_n,
                   est.est_n,
                   CAST(est.est_n - COALESCE(tr.true_n, 0) AS BIGINT) AS overestimate,
                   CAST(est.est_n >= COALESCE(tr.true_n, 0) AS BIGINT) AS no_underestimate
            FROM est LEFT JOIN tr ON est.qk = tr.qk
            ORDER BY qkey
        """)
def q_a23(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min point queries over the sk1 skew fixture (sketches.
    count_min_estimates): half of all events collapse onto key -1, probed
    alongside ten normal users.  The md5 row hashes make the ENTIRE
    sketch -- counters and estimates -- oracle-replayable, and the CM
    no-underestimate guarantee ships as a checked column."""
    e = load_events(spark, sf).select(
        F.when(F.col("user_id") % 10 < 5, F.lit(-1)).otherwise(F.col("user_id")).alias("cm_key")
    )
    return sketches.count_min_estimates(e, "cm_key", [-1] + [2 * u + 1 for u in range(10)], depth=4, width=256)


def _bloom_gate_oracle(m_bits: int, k: int) -> str:
    """Bit-for-bit DuckDB replay of q_bf1: same md5 digest lanes, same
    set-bit position semijoin, same fp budget arithmetic (q*q*q*q sequential
    multiplication; exp() is the only libm call, t8-class ulp residual)."""
    lane = lambda j: f"({md5_int32_lane_sql('k', 'bloom', j)}) % {m_bits}"
    b_lanes = " UNION ALL ".join(f"SELECT k, {lane(j)} AS pos FROM bk" for j in range(k))
    p_lanes = " UNION ALL ".join(f"SELECT k, {lane(j)} AS pos FROM pk" for j in range(k))
    qk = " * ".join(["q.v"] * k)
    return f"""
        WITH bk AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k FROM orders
                    WHERE o_orderpriority = '1-URGENT'),
        pk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer),
        bits AS (SELECT DISTINCT pos FROM ({b_lanes})),
        pp AS (SELECT DISTINCT k, pos FROM ({p_lanes})),
        need AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS need FROM pp GROUP BY k),
        hit AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS hit FROM pp JOIN bits USING (pos) GROUP BY k),
        nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM bk),
        flags AS (SELECT need.k,
                         COALESCE(hit.hit, 0) = need.need AS maybe,
                         bk.k IS NOT NULL AS member
                  FROM need LEFT JOIN hit USING (k) LEFT JOIN bk ON need.k = bk.k),
        agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probe_keys,
                       CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT) AS n_members,
                       CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
                       CAST(SUM(CASE WHEN member AND NOT maybe THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives,
                       CAST(SUM(CASE WHEN maybe AND NOT member THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
                       CAST(SUM(CASE WHEN NOT member THEN 1 ELSE 0 END) AS BIGINT) AS n_nonmembers
                FROM flags),
        q AS (SELECT 1.0 - exp((-{k} * nb.v) / {float(m_bits)}) AS v FROM nb)
        SELECT nb.v AS n_build_keys, n_probe_keys, n_members, n_maybe,
               false_negatives, false_positives,
               {_dratio('false_positives', 'greatest(n_nonmembers, 1)')} AS fp_rate,
               CAST(floor((2.0 * ({qk})) * n_nonmembers) + 5 AS BIGINT) AS fp_budget,
               false_negatives = 0 AS zero_false_negatives,
               false_positives <= CAST(floor((2.0 * ({qk})) * n_nonmembers) + 5 AS BIGINT) AS fp_within_budget
        FROM agg, nb, q
    """


@query("bf1_bloom_membership_gate", oracle=_bloom_gate_oracle(1 << 17, 4))
def q_bf1(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter membership gate (sketches.bloom_membership_gate): the
    filter is a DataFrame of set-bit positions (<= m rows, broadcast), 4
    md5-digest lanes per key, built on urgent-order custkeys and probed by
    all customers.  Gates: zero false negatives (structural) + fp count
    within 2x expected + 5 (Poisson slack).  Every count is
    hash-deterministic, so the oracle replays the filter bit-for-bit."""
    bits_m, k = 1 << 17, 4
    orders = load_table(spark, sf, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return sketches.bloom_membership_gate(
        orders.select("o_custkey"), load_table(spark, sf, "customer").select(F.col("c_custkey").alias("o_custkey")),
        "o_custkey", m_bits=bits_m, k_hashes=k,
    )


# MG gate: the oracle pins exact-heavy cardinality + the contract
# bits; candidate contents are partitioning-dependent by design.
# MAD replay: quantile_cont median, abs-dev median, identical
# 3*1.4826 cut-line arithmetic on the unrounded MAD.
@query("a20_robust_group_stats", oracle=f"""
            WITH med AS (SELECT o_orderpriority, CAST(COUNT(o_totalprice) AS BIGINT) AS cnt,
                                quantile_cont(o_totalprice, 0.5) AS m
                         FROM orders GROUP BY o_orderpriority),
            mad AS (SELECT o.o_orderpriority, ANY_VALUE(med.cnt) AS cnt, ANY_VALUE(med.m) AS m,
                           quantile_cont(abs(o.o_totalprice - med.m), 0.5) AS d
                    FROM orders o JOIN med USING (o_orderpriority)
                    GROUP BY o.o_orderpriority)
            SELECT o.o_orderpriority,
                   ANY_VALUE(mad.cnt) AS cnt,
                   {_dmicro('ANY_VALUE(mad.m)')} AS median_v,
                   {_dmicro('ANY_VALUE(mad.d)')} AS mad,
                   CAST(SUM(CASE WHEN abs(o.o_totalprice - mad.m) > (3.0 * 1.4826) * mad.d THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM orders o JOIN mad USING (o_orderpriority)
            GROUP BY o.o_orderpriority
            ORDER BY o.o_orderpriority
        """)
def q_a20(spark: SparkSession, sf: str) -> DataFrame:
    """Robust per-priority order stats (aggregates.robust_group_stats):
    median + MAD + 3*1.4826*MAD outlier count -- three hash-aggregate
    passes with model-sized broadcasts, quantile_cont-replayed medians."""
    return agg.robust_group_stats(load_table(spark, sf, "orders"), "o_orderpriority", "o_totalprice").orderBy(
        "o_orderpriority"
    )


@query("p1_pivot_flag_status", oracle=f"""
            SELECT l_returnflag,
                   COALESCE({_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")}, 0.0) AS sum_l_quantity_f,
                   COALESCE({_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")}, 0.0) AS sum_l_quantity_o
            FROM lineitem GROUP BY l_returnflag
        """)
def q_p1(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot report: quantity sums per returnflag, one column per
    linestatus.  Explicit pivot values -> single hash aggregate, stable
    schema (operators/aggregates.pivot_stats)."""
    li = load_table(spark, sf, "lineitem")
    return agg.pivot_stats(li, "l_returnflag", "l_linestatus", ["F", "O"], "l_quantity")


@query("p2_unpivot_priority_stats", oracle=f"""
            WITH base AS (
              SELECT o_orderpriority,
                     CAST(COUNT(*) AS DOUBLE) AS n_orders,
                     {_dsum("o_totalprice")} AS sum_price,
                     {_dmicro('CAST(MAX(o_totalprice) AS DOUBLE)')} AS max_price
              FROM orders GROUP BY o_orderpriority)
            SELECT o_orderpriority, 'n_orders' AS measure, n_orders AS value FROM base
            UNION ALL SELECT o_orderpriority, 'sum_price', sum_price FROM base
            UNION ALL SELECT o_orderpriority, 'max_price', max_price FROM base
        """)
def q_p2(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot (melt): per-priority order stats widened to 3 measures, then
    melted to (priority, measure, value) long form via native unpivot."""
    o = load_table(spark, sf, "orders")
    base = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        dec_sum("o_totalprice", "sum_price"),
        precision.micro_round(F.max("o_totalprice"), "max_price"),
    )
    return agg.unpivot_measures(base, ["o_orderpriority"], ["n_orders", "sum_price", "max_price"]).orderBy(
        "o_orderpriority", "measure"
    )


@query("a13_approx_quantile_gate", oracle=f"""
            SELECT 1 AS within_1pct,
                   {_dmicro('CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE)', 4)} AS exact_p50
            FROM lineitem
        """)
def q_a13(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate-percentile (GK sketch) gated against the exact
    percentile: like a12, the sketch is engine-specific, so the oracle pins
    the CONTRACT (approx median within 1% of exact) plus the exact value."""
    li = load_table(spark, sf, "lineitem")
    out = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 10000).alias("approx"),
        F.percentile("l_extendedprice", 0.5).alias("exact"),
    )
    return out.select(
        (F.abs(F.col("approx") - F.col("exact")) / F.col("exact") <= 0.01).cast("int").alias("within_1pct"),
        precision.micro_round(F.col("exact"), "exact_p50", scale=4),
    )


@query("a21_hll_merge_gate", oracle="""
            SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_groups,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
                   CAST(1 AS BIGINT) AS merge_within_2pct,
                   CAST(1 AS BIGINT) AS union_within_5pct
            FROM events
        """)
def q_a21(spark: SparkSession, sf: str) -> DataFrame:
    """HLL sketch MERGEABILITY gate (Datasketches hll_sketch_agg /
    hll_union_agg): per-event-type user sketches merged via union must
    estimate the same cardinality as one direct global sketch to within
    2% (sketch algebra: merge-then-estimate ~= estimate-of-all -- what
    makes pre-aggregated sketch tables valid at 100 TB; exact sketch
    equality is NOT guaranteed because the union path can promote the
    HLL representation, observed at sf0.1), and land within 5% of the
    exact distinct count.  Exact count is oracle-replayed; the two
    estimator bits are engine-computed gates (estimates are Datasketches
    state, deterministic in-engine but not engine-portable)."""
    e = load_events(spark, sf).select("event_type", "user_id")
    per = e.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")).collect()[0]["est"]
    direct = e.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est")).collect()[0]["est"]
    n_groups = per.count()
    exact = e.select("user_id").distinct().count()
    within = 1 if abs(int(merged) - exact) <= 0.05 * exact else 0
    merge_ok = 1 if abs(float(merged) - float(direct)) <= max(1.0, 0.02 * float(direct)) else 0
    return spark.createDataFrame(
        [(int(n_groups), int(exact), merge_ok, within)],
        "n_groups long, exact_distinct long, merge_within_2pct long, union_within_5pct long",
    )


@query("w7_value_windows", bench=True, stdout=True, oracle="""
            SELECT o_orderkey, o_orderpriority,
                   CAST(first_value(o_orderkey) OVER w AS BIGINT) AS cheapest_key,
                   CAST(last_value(o_orderkey) OVER w AS BIGINT) AS priciest_key,
                   CAST(nth_value(o_orderkey, 2) OVER w AS BIGINT) AS second_cheapest_key
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY o_orderkey
        """)
def q_w7(spark: SparkSession, sf: str) -> DataFrame:
    """Frame-pinned value windows (first_value / last_value / nth_value):
    per order, its priority class's cheapest, most expensive, and
    second-cheapest order keys -- the leaderboard-context primitive
    (show each row against its group's extremes).  The full-partition
    frame (unbounded both ways) makes last/nth well-defined; deterministic
    (price, orderkey) tiebreaks; key-partitioned windows only."""
    o = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.first_value("o_orderkey").over(w).cast("long").alias("cheapest_key"),
        F.last_value("o_orderkey").over(w).cast("long").alias("priciest_key"),
        F.nth_value("o_orderkey", 2).over(w).cast("long").alias("second_cheapest_key"),
    ).orderBy("o_orderkey")


# a25: full sketch replay (md5 hashes) -- per-set KMV, union re-cut,
# inclusion-exclusion intersection, exact reference.
@query("a25_kmv_set_ops", bench=True, oracle=f"""
            WITH h AS (
              SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 'a' ELSE 'b' END AS s,
                     {md5_int32_sql("CAST(o_custkey AS VARCHAR)", "kmvset")} AS hv
              FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
            d AS (SELECT DISTINCT s, hv FROM h),
            r AS (SELECT s, hv, row_number() OVER (PARTITION BY s ORDER BY hv) AS rn,
                         COUNT(*) OVER (PARTITION BY s) AS nd
                  FROM d),
            st AS (SELECT s, hv, rn, nd FROM r WHERE rn <= 64),
            est AS (SELECT s,
                           CAST(CASE WHEN nd >= 64 AND MAX(CASE WHEN rn = 64 THEN hv END) > 0
                                     THEN (63 * 4294967296) // MAX(CASE WHEN rn = 64 THEN hv END)
                                     ELSE LEAST(nd, 64) END AS BIGINT) AS e
                    FROM st GROUP BY s, nd),
            ud AS (SELECT DISTINCT hv FROM st),
            ur AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn, COUNT(*) OVER () AS nd FROM ud),
            uest AS (SELECT CAST(CASE WHEN nd >= 64 AND MAX(CASE WHEN rn = 64 THEN hv END) > 0
                                      THEN (63 * 4294967296) // MAX(CASE WHEN rn = 64 THEN hv END)
                                      ELSE LEAST(nd, 64) END AS BIGINT) AS e
                     FROM (SELECT hv, rn, nd FROM ur WHERE rn <= 64) GROUP BY nd),
            ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter FROM (
                     SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
                     INTERSECT
                     SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'))
            SELECT a.e AS est_a, b.e AS est_b, u.e AS est_union,
                   CAST(GREATEST(0, a.e + b.e - u.e) AS BIGINT) AS est_inter,
                   ex.exact_inter
            FROM (SELECT e FROM est WHERE s = 'a') a,
                 (SELECT e FROM est WHERE s = 'b') b,
                 uest u, ex
        """)
def q_a25(spark: SparkSession, sf: str) -> DataFrame:
    """KMV set-operation estimates (the sketch family's SET ALGEBRA --
    union by sketch merge, intersection by inclusion-exclusion): distinct
    urgent-order customers (A) vs high-order customers (B).  The union
    sketch is the two k-sets unioned and re-cut (exactly merge_kmv_state's
    argument); |A n B|_est = max(0, est_A + est_B - est_U), all integer;
    the exact intersection rides along as the reference column.  Every
    hash is md5-derived, so sketch contents AND estimates replay
    hash-exactly in the oracle.  Scale: per-set states are k-row; the only
    corpus-sized work is the distinct + rank window kmv_state always pays;
    the union re-cut runs on 2k rows."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import kmv_estimate, kmv_state

    k = 64
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderpriority")
    hv = md5_int32(F.col("o_custkey").cast("string"), seed="kmvset")
    ab = o.where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        F.when(F.col("o_orderpriority") == "1-URGENT", "a").otherwise("b").alias("s"),
        hv.alias("hv"),
    )
    st = kmv_state(ab, ["s"], "hv", k=k)
    est = kmv_estimate(st, ["s"], k=k)
    u_st = kmv_state(st.select(F.lit("u").alias("s"), "hv"), ["s"], "hv", k=k)
    est_u = kmv_estimate(u_st, ["s"], k=k)
    ea = est.where(F.col("s") == "a").select(F.col("est_distinct").alias("est_a"))
    eb = est.where(F.col("s") == "b").select(F.col("est_distinct").alias("est_b"))
    eu = est_u.select(F.col("est_distinct").alias("est_union"))
    exact = (
        o.where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .join(
            o.where(F.col("o_orderpriority") == "2-HIGH").select("o_custkey").distinct(),
            "o_custkey",
            "left_semi",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    return (
        ea.crossJoin(eb)  # four 1-row totals: the sanctioned crossJoin shape
        .crossJoin(eu)
        .crossJoin(exact)
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.greatest(F.lit(0), F.col("est_a") + F.col("est_b") - F.col("est_union"))
            .cast("long")
            .alias("est_inter"),
            "exact_inter",
        )
    )


# a26: full mergeable-quantile replay -- md5 shards, per-shard
# step-sampled weighted summaries, merged cumulative weights,
# estimates, exact rank counts, and the merge-theorem bound check.
@query("a26_quantile_merge_gate", bench=True, stdout=True, oracle=f"""
            WITH t AS (
              SELECT CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v,
                     o_orderkey AS key,
                     ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "qmerge")}) % 32 AS shard
              FROM orders),
            per AS (SELECT shard, COUNT(*) AS ns, (COUNT(*) + 63) // 64 AS step
                    FROM t GROUP BY shard),
            r AS (SELECT t.shard, v, key, step, ns,
                         row_number() OVER (PARTITION BY t.shard ORDER BY v, key) AS rn
                  FROM t JOIN per ON t.shard = per.shard),
            smp AS (SELECT shard, v, rn, LEAST(step, ns - (rn - 1)) AS w
                    FROM r WHERE (rn - 1) % step = 0),
            cum AS (SELECT v, SUM(w) OVER (ORDER BY v, shard, rn) AS cw FROM smp),
            tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
            bnd AS (SELECT CAST(SUM(step) AS BIGINT) AS rank_bound FROM per),
            qq AS (SELECT CAST(q_ppm AS BIGINT) AS q_ppm
                   FROM (VALUES (500000), (900000), (990000)) AS qv(q_ppm)),
            tgt AS (SELECT q_ppm, (q_ppm * n + 999999) // 1000000 AS target_rank, rank_bound
                    FROM qq, tot, bnd),
            est AS (SELECT q_ppm, target_rank, rank_bound, MIN(v) AS est_micro
                    FROM tgt JOIN cum ON cw >= target_rank
                    GROUP BY q_ppm, target_rank, rank_bound),
            rk AS (SELECT q_ppm, est_micro, target_rank, rank_bound,
                          CAST(SUM(CASE WHEN t.v < est_micro THEN 1 ELSE 0 END) AS BIGINT) AS r_lo,
                          CAST(SUM(CASE WHEN t.v <= est_micro THEN 1 ELSE 0 END) AS BIGINT) AS r_hi
                   FROM est, t GROUP BY q_ppm, est_micro, target_rank, rank_bound)
            SELECT q_ppm, est_micro, r_lo, r_hi,
                   CAST(target_rank AS BIGINT) AS target_rank, rank_bound,
                   CAST(CASE WHEN r_hi >= target_rank - rank_bound
                              AND r_lo <= target_rank - 1 + rank_bound
                             THEN 1 ELSE 0 END AS BIGINT) AS within_bound
            FROM rk ORDER BY q_ppm
        """)
def q_a26(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable quantile summaries gate (sketches.quantile_merge_estimates):
    32 md5-sharded <= 65-row weighted samples of order totals merge into
    global p50/p90/p99 estimates whose TRUE ranks land within the merge
    theorem's bound (sum of per-shard steps) of their targets -- the
    pre-aggregated-quantile-table validity proof, all integer micro
    arithmetic, summaries AND estimates hash-replayed by the oracle."""
    from youtubeanalyzerproject_big_data__spark.operators.sketches import quantile_merge_estimates

    o = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    v = F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
    return quantile_merge_estimates(o, "o_orderkey", v)
