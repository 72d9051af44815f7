"""TPC-H queries (tpch_*) and the q3/q5 revenue rollups."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.precision import DEC, dec_avg, dec_sum, dec_sum_round
from youtubeanalyzerproject_big_data__spark.io import load_table
from youtubeanalyzerproject_big_data__spark.contract import _utc, query
from youtubeanalyzerproject_big_data__spark.contract._sql import _davg, _dsum, _dsum_round


_REV = "l_extendedprice * (1 - l_discount)"


@query("tpch_q1_pricing_summary", bench=True, stdout=True, oracle=f"""
            SELECT l_returnflag, l_linestatus,
                   {_dsum('l_quantity')} AS sum_qty,
                   {_dsum('l_extendedprice')} AS sum_base_price,
                   {_dsum(_REV)} AS sum_disc_price,
                   {_davg('l_quantity')} AS avg_qty,
                   {_davg('l_extendedprice')} AS avg_price,
                   {_davg('l_discount')} AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """)
def q_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: the multi-aggregate workhorse."""
    li = load_table(spark, sf, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            dec_avg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query("q3_revenue_by_customer", bench=True, stdout=True, oracle=f"""
            SELECT c_custkey, c_name, {_dsum_round(_REV, 4)} AS revenue, COUNT(*) AS n_lines
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey LIMIT 20
        """)
def q_q3(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue per customer (fact-fact join + broadcast dim), top 20."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    df = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(dec_sum_round(rev, 4).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )
    return df.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


@query("q5_revenue_by_nation", bench=True, stdout=True, oracle=f"""
            SELECT r_name, n_name, {_dsum_round(_REV, 4)} AS revenue,
                   COUNT(*) AS n_lines, COUNT(DISTINCT c_custkey) AS n_customers
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                          JOIN customer ON o_custkey = c_custkey
                          JOIN nation ON c_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """)
def q_q5(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue per nation through the full dimension chain (flagship query)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            dec_sum_round(rev, 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
        .orderBy("r_name", "n_name")
    )


@query("tpch_q18_big_orders", bench=True, oracle="""
            WITH big AS (
              SELECT l_orderkey, (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING (CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) > 250.0)
            SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice, b.sum_qty
            FROM big b JOIN orders o ON b.l_orderkey = o.o_orderkey
                       JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
        """)
def q_q18(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): HAVING-filtered order
    quantities (decimal-exact) joined back through orders to customer,
    top-100 by (o_totalprice desc, o_orderkey).  The order-qty aggregate
    shuffles once; the join-back carries only qualifying orders; customer
    broadcasts."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(dec_sum("l_quantity", "sum_qty"))
        .where(F.col("sum_qty") > 250.0)
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# q14: decimal-exact sums; the ppm floor division runs in HUGEINT
# (1e6 * micro-sum overflows int64 at sf0.1 -- scale-replay catch).
@query("tpch_q14_promo_effect", bench=True, stdout=True, oracle="""
            SELECT CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS ship_month,
                   (CAST(CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                                 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                                 ELSE CAST(0 AS DECIMAL(18,6)) END) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS promo_revenue,
                   (CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS total_revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST((1000000 * SUM(CASE WHEN p.p_type = 'PROMO'
                                            THEN CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
                                            ELSE CAST(0 AS HUGEINT) END))
                        // SUM(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) * 1000000 AS HUGEINT)) AS BIGINT) AS promo_ppm
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1 ORDER BY ship_month
        """)
def q_q14(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): promo revenue share per ship
    month -- part type broadcast onto the fact, decimal-exact revenue
    sums.  The ppm share needs 1e6 * micro-sum, which OVERFLOWS int64
    already at sf0.1 (first caught by the scale replays), so the ratio is
    computed over the month-cardinality aggregate DRIVER-SIDE in exact
    Python big-ints (model-sized collect: months are calendar-bounded --
    the cutpoints pattern); the oracle uses HUGEINT for the same exact
    floor division."""
    import decimal as _dec

    _utc(spark)
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    p = load_table(spark, sf, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    g = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.date_trunc("month", F.col("l_shipdate").cast("timestamp")).alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(DEC))).alias("_p"),
            F.sum(rev).alias("_t"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy("ship_month")
    )
    rows = g.collect()  # month-cardinality, model-sized
    data = []
    for r in rows:
        p_i = int(_dec.Decimal(r["_p"]).scaleb(6))  # exact micro integers
        t_i = int(_dec.Decimal(r["_t"]).scaleb(6))
        # doubles via int-micros / 1e6 (the dec_sum_col recipe): Python's
        # int->float is correctly rounded, so this matches the oracle's
        # CAST(BIGINT AS DOUBLE)/1e6 bit-for-bit at any magnitude
        data.append(
            (r["ship_month"], p_i / 1e6, t_i / 1e6, r["n_lines"], (1_000_000 * p_i) // t_i)
        )
    return spark.createDataFrame(
        data,
        "ship_month timestamp, promo_revenue double, total_revenue double, n_lines long, promo_ppm long",
    )


@query("tpch_q6_forecast_revenue", oracle="""
            SELECT (CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """)
def q_q6(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): one filtered scan,
    one row -- shipdate year, discount band, quantity cap, revenue =
    sum(extendedprice * discount) decimal-exact.  The pushdown sanity
    query: every predicate must reach the parquet scan."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        dec_sum((F.col("l_extendedprice") * F.col("l_discount")), "revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


# q15: revenue ties compare as exact integer micros, so the
# equality against the max cannot miss by a ulp.
@query("tpch_q15_top_supplier", bench=True, oracle="""
            WITH pr AS (
              SELECT l_suppkey,
                     CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_micro
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
              GROUP BY l_suppkey),
            mx AS (SELECT MAX(rev_micro) AS mx FROM pr)
            SELECT s.s_suppkey, s.s_name, pr.rev_micro,
                   (CAST(pr.rev_micro AS BIGINT) / 1000000.0) AS total_revenue
            FROM pr, mx, supplier s
            WHERE pr.rev_micro = mx.mx AND pr.l_suppkey = s.s_suppkey
            ORDER BY s.s_suppkey
        """)
def q_q15(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): per-supplier revenue over one ship
    year, keep the supplier(s) whose revenue EQUALS the max -- the
    view-plus-max correlated pattern.  Revenue compares as exact integer
    micros (decimal sums), so the equality join cannot miss a tie by a
    ulp; the 1-row max broadcasts."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    per_supp = li.groupBy("l_suppkey").agg((F.sum(rev) * 1_000_000).cast("long").alias("rev_micro"))
    mx = per_supp.agg(F.max("rev_micro").alias("mx"))
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(F.broadcast(mx), per_supp["rev_micro"] == F.col("mx"))
        .join(F.broadcast(s), per_supp["l_suppkey"] == s["s_suppkey"])
        .select(
            "s_suppkey", "s_name", "rev_micro",
            (F.col("rev_micro").cast("double") / F.lit(1e6)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# q17: threshold via cross-multiplied integer micros (5*qty*n < sum),
# never a float 0.2*avg.
@query("tpch_q17_small_qty_revenue", bench=True, oracle="""
            WITH b AS (
              SELECT l.l_partkey, l.l_quantity, l.l_extendedprice,
                     CAST(CAST(l.l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS qty_micro
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_brand = 'Brand#1'),
            pp AS (
              SELECT l_partkey AS pk,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_qty_micro,
                     CAST(COUNT(*) AS BIGINT) AS n_part
              FROM b GROUP BY l_partkey)
            SELECT (CAST(CAST(SUM(CAST(b.l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS small_qty_revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM b JOIN pp ON b.l_partkey = pp.pk
            WHERE b.qty_micro * 5 * pp.n_part < pp.sum_qty_micro
        """)
def q_q17(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lines of Brand#1
    parts whose quantity is below 20% of that part's average quantity --
    the correlated-average pattern.  The threshold compares EXACTLY via
    cross-multiplication (5 * qty * n_part < sum_qty in integer micros),
    never a float 0.2*avg; per-part aggregates broadcast (part-dim-sized)."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    p = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#1").select("p_partkey")
    branded = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    per_part = branded.groupBy("l_partkey").agg(
        (F.sum(F.col("l_quantity").cast(DEC)) * 1_000_000).cast("long").alias("sum_qty_micro"),
        F.count(F.lit(1)).cast("long").alias("n_part"),
    )
    qty_micro = (F.col("l_quantity").cast(DEC) * 1_000_000).cast("long")
    small = (
        branded.withColumn("qty_micro", qty_micro)
        .join(F.broadcast(per_part.withColumnRenamed("l_partkey", "pk")), F.col("l_partkey") == F.col("pk"))
        .where(F.col("qty_micro") * 5 * F.col("n_part") < F.col("sum_qty_micro"))
    )
    return small.agg(
        dec_sum("l_extendedprice", "small_qty_revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


# q22: above-positive-average balance via cross-multiplication;
# no-order customers via anti join.
@query("tpch_q22_idle_customers", oracle="""
            WITH st AS (
              SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS sum_micro,
                     CAST(COUNT(*) AS BIGINT) AS n_pos
              FROM customer WHERE c_acctbal > 0.0),
            idle AS (
              SELECT c.c_nationkey, c.c_acctbal
              FROM customer c, st
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_custkey = c.c_custkey
                                  AND o.o_orderdate >= TIMESTAMP '2000-01-01')
                AND CAST(CAST(c.c_acctbal AS DECIMAL(18,6)) * 1000000 AS BIGINT) * st.n_pos > st.sum_micro)
            SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers,
                   (CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS total_acctbal
            FROM idle GROUP BY c_nationkey ORDER BY c_nationkey
        """)
def q_q22(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity, adapted to this schema):
    customers with NO RECENT order (nothing since 2000-01-01 -- every
    synthetic customer has some order, so the classic no-order-ever form
    is degenerate) and an account balance above the positive-balance
    average, counted per nation.  The average threshold compares exactly
    via cross-multiplication on integer micros (the q17 discipline); the
    idle test is a broadcast-keys anti join."""
    _utc(spark)
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey", "c_acctbal")
    o = (
        load_table(spark, sf, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
        .distinct()
    )
    pos = c.where(F.col("c_acctbal") > 0.0)
    stats = pos.agg(
        (F.sum(F.col("c_acctbal").cast(DEC)) * 1_000_000).cast("long").alias("sum_micro"),
        F.count(F.lit(1)).cast("long").alias("n_pos"),
    )
    bal_micro = (F.col("c_acctbal").cast(DEC) * 1_000_000).cast("long")
    cand = (
        c.join(F.broadcast(o), c["c_custkey"] == o["o_custkey"], "left_anti")
        .crossJoin(F.broadcast(stats))  # 1-row totals: the sanctioned crossJoin shape
        .where(bal_micro * F.col("n_pos") > F.col("sum_micro"))
    )
    return (
        cand.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            dec_sum("c_acctbal", "total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


@query("tpch_q19_bracket_revenue", bench=True, oracle=f"""
            SELECT {_dsum(_REV)} AS revenue, CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
               OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 30)
               OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 40)
        """)
def q_q19(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunction of conjunction
    brackets): three (brand, size-range, quantity-range) OR-branches over
    the lineitem-part join -- the classic test that a multi-bracket
    predicate still evaluates as one broadcast join + one scan with the
    part-side brackets PUSHED to the dimension (each branch's brand/size
    terms prune parts before the join; residual quantity terms evaluate
    on the joined row).  One row out: decimal-exact revenue + line count."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = load_table(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    br = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 40))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return j.where(br).agg(
        dec_sum(rev, "revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


# q2: derived supply relation (min extendedprice per part,supplier);
# pure MIN -> exact double equality on the join-back.
@query("tpch_q2_min_cost_supplier", bench=True, oracle="""
            WITH asup AS (
              SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
              FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'ASIA'),
            pp AS (SELECT p_partkey FROM part WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20),
            supply AS (
              SELECT l.l_partkey, l.l_suppkey, MIN(l.l_extendedprice) AS cost
              FROM lineitem l JOIN pp ON l.l_partkey = pp.p_partkey
              JOIN asup ON l.l_suppkey = asup.s_suppkey
              GROUP BY 1, 2),
            best AS (SELECT l_partkey, MIN(cost) AS best_cost FROM supply GROUP BY 1)
            SELECT a.s_acctbal, a.s_name, a.n_name, sp.l_partkey AS p_partkey, sp.cost
            FROM supply sp JOIN best b ON sp.l_partkey = b.l_partkey AND sp.cost = b.best_cost
            JOIN asup a ON sp.l_suppkey = a.s_suppkey
            ORDER BY a.s_acctbal DESC, a.n_name, a.s_name, p_partkey, sp.l_suppkey
            LIMIT 100
        """)
def q_q2(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): for each STANDARD mid-size part,
    the ASIA supplier(s) achieving the minimum observed supply cost -- the
    correlated-min decorrelation (aggregate once, equi-join back on the
    min).  The schema has no partsupp table, so the supply relation is
    DERIVED from lineitem as min(l_extendedprice) per (part, supplier) --
    a pure MIN, no arithmetic, so the equality join-back compares doubles
    exactly.  Part and supplier prunes broadcast; the per-part min is
    part-dim-sized and broadcasts too.  Reference query semantics:
    YoutubeNetworkAgg_Final.py's dim-enrichment joins, widened to the
    classic decorrelated-subquery plan."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey", "l_extendedprice")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name", "s_acctbal", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA").select("r_regionkey")
    asup = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = (
        load_table(spark, sf, "part")
        .where((F.col("p_type") == "STANDARD") & F.col("p_size").between(10, 20))
        .select("p_partkey")
    )
    supply = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(asup.select("s_suppkey")), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("cost"))
    )
    best = supply.groupBy("l_partkey").agg(F.min("cost").alias("best_cost")).withColumnRenamed("l_partkey", "bk")
    return (
        supply.join(F.broadcast(best), (supply["l_partkey"] == F.col("bk")) & (supply["cost"] == F.col("best_cost")))
        .join(F.broadcast(asup), supply["l_suppkey"] == asup["s_suppkey"])
        .select("s_acctbal", "s_name", "n_name", F.col("l_partkey").alias("p_partkey"), "cost", "s_suppkey")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "s_suppkey")
        .limit(100)
        .drop("s_suppkey")
    )


# q8: year-grouped ppm share in HUGEINT floor division (the q14
# overflow discipline).
@query("tpch_q8_market_share", bench=True, stdout=True, oracle="""
            WITH am AS (
              SELECT c.c_custkey FROM customer c
              JOIN nation n ON c.c_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'AMERICA')
            SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                   (CAST(CAST(SUM(CASE WHEN s.s_nationkey = 6
                                 THEN CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                                 ELSE CAST(0 AS DECIMAL(18,6)) END) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS nation_revenue,
                   (CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS total_revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines,
                   CAST((1000000 * SUM(CASE WHEN s.s_nationkey = 6
                                            THEN CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) * 1000000 AS HUGEINT)
                                            ELSE CAST(0 AS HUGEINT) END))
                        // SUM(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) * 1000000 AS HUGEINT)) AS BIGINT) AS mkt_share_ppm
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'PROMO'
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN am ON o.o_custkey = am.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1 ORDER BY o_year
        """)
def q_q8(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_6's share of PROMO
    revenue sold to AMERICA-region customers, per order year.  Supplier
    nation comes through l_suppkey; the share ratio is ppm computed
    DRIVER-SIDE in exact Python big-ints over the year-cardinality
    aggregate (the q14 pattern -- 1e6 * micro-sum overflows int64), the
    oracle's HUGEINT floor division is its twin."""
    import decimal as _dec

    _utc(spark)
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    p = load_table(spark, sf, "part").where(F.col("p_type") == "PROMO").select("p_partkey")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "AMERICA").select("r_regionkey")
    cust_am = (
        load_table(spark, sf, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    g = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(cust_am), o["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("s_nationkey") == 6, rev).otherwise(F.lit(0).cast(DEC))).alias("_n"),
            F.sum(rev).alias("_t"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy("o_year")
    )
    rows = g.collect()  # year-cardinality, model-sized
    data = []
    for row in rows:
        n_i = int(_dec.Decimal(row["_n"]).scaleb(6))
        t_i = int(_dec.Decimal(row["_t"]).scaleb(6))
        data.append((row["o_year"], n_i / 1e6, t_i / 1e6, row["n_lines"], (1_000_000 * n_i) // t_i))
    return spark.createDataFrame(
        data,
        "o_year long, nation_revenue double, total_revenue double, n_lines long, mkt_share_ppm long",
    )


# q9: profit terms cast DECIMAL(18,6) BEFORE subtraction; the double
# products are single left-assoc IEEE expressions on both engines.
@query("tpch_q9_product_profit", bench=True, oracle="""
            SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                   (CAST(CAST(SUM(CAST(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))
                                 - CAST(p.p_retailprice * 0.5 * l.l_quantity AS DECIMAL(18,6)) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS sum_profit,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2 ORDER BY nation, o_year DESC
        """)
def q_q9(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier nation and
    order year over 'red' parts, profit = disc revenue minus a retail-price
    proxy cost (no partsupp table: cost = 0.5 * p_retailprice * l_quantity).
    Both terms cast DECIMAL(18,6) BEFORE the subtraction so the sum is
    exact; the double products underneath are single IEEE expressions both
    engines evaluate bit-identically (left-assoc, same literal)."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    p = load_table(spark, sf, "part").where(F.col("p_name").like("%red%")).select("p_partkey", "p_retailprice")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    amount = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC) - (
        F.col("p_retailprice") * F.lit(0.5) * F.col("l_quantity")
    ).cast(DEC)
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(dec_sum(amount, "sum_profit"), F.count(F.lit(1)).cast("long").alias("n_lines"))
        .orderBy("nation", F.desc("o_year"))
    )


# q11: v > (3t) // (2n) is exactly 2*v*n > 3t for non-negative
# int64 (3t = q*2n + r, 0<=r<2n: v>q <=> v>=q+1 <=> 2vn >= 2qn+2n
# > 3t; v<=q <=> 2vn <= 2qn <= 3t) -- without the 1e22 overflow of
# the literal cross-multiplication at sf1.
@query("tpch_q11_important_parts", bench=True, oracle="""
            WITH pv AS (
              SELECT l_partkey,
                     CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS value_micro
              FROM lineitem GROUP BY 1),
            t AS (SELECT SUM(value_micro) AS total_micro, CAST(COUNT(*) AS BIGINT) AS n_parts FROM pv)
            SELECT pv.l_partkey AS p_partkey, pv.value_micro,
                   (CAST(pv.value_micro AS BIGINT) / 1000000.0) AS value
            FROM pv, t WHERE pv.value_micro > (3 * t.total_micro) // (2 * t.n_parts)
            ORDER BY pv.value_micro DESC, p_partkey
            LIMIT 100
        """)
def q_q11_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose total disc revenue
    exceeds 1.5x the average per-part value -- the having-vs-global-scalar
    pattern.  (The classic fixed 1/10000-of-total fraction is scale-DEPENDENT
    -- it returned 0 rows already at sf0.1 -- so the threshold is relative
    to the mean, which is scale-free.)  Both sides are exact integer
    micros; the test is value_micro > (3*total_micro) DIV (2*n_parts), which
    for non-negative int64 is EXACTLY equivalent to the cross-multiplied
    2*value*n > 3*total (proof in oracle comment) without the 1e22 overflow
    the multiplication would hit at sf1.  The 1-row total broadcasts
    (sanctioned crossJoin)."""
    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_extendedprice", "l_discount")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    per_part = li.groupBy("l_partkey").agg((F.sum(rev) * 1_000_000).cast("long").alias("value_micro"))
    tot = per_part.agg(
        F.sum("value_micro").alias("total_micro"), F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(tot))
        .where(F.col("value_micro") > F.expr("(3 * total_micro) DIV (2 * n_parts)"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "value_micro",
            (F.col("value_micro").cast("double") / F.lit(1e6)).alias("value"),
        )
        .orderBy(F.desc("value_micro"), "p_partkey")
        .limit(100)
    )


# q12: all-integer latency bucketing (GREATEST clamp keeps // on
# non-negative ints, where both engines truncate identically).
@query("tpch_q12_latency_priority", bench=True, oracle="""
            SELECT CAST(LEAST(GREATEST(datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)), 0) // 180, 4) AS BIGINT) AS latency_bucket,
                   CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS critical_lines,
                   CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS other_lines
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1 ORDER BY latency_bucket
        """)
def q_q12(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-delay priority census): lines bucketed by
    ship latency (180-day buckets, clamped to [0, 4] -- the synthetic data
    has negative latencies) counting critical (1-URGENT/2-HIGH) vs other
    orders per bucket.  All-integer: datediff days, GREATEST/LEAST clamp,
    DIV -- both engines truncate identically on non-negative ints."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    days = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    bucket = F.least(F.expr("GREATEST(_days, 0) DIV 180"), F.lit(4)).cast("long")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .withColumn("_days", days)
        .groupBy(bucket.alias("latency_bucket"))
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).cast("long").alias("critical_lines"),
            F.sum(F.when(crit, 0).otherwise(1)).cast("long").alias("other_lines"),
        )
        .orderBy("latency_bucket")
    )


# q16: NOT IN -> anti join on the derived distinct pair relation.
@query("tpch_q16_supplier_count", bench=True, oracle="""
            WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
            ok AS (
              SELECT * FROM pairs
              WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
            SELECT p.p_brand, p.p_type, p.p_size,
                   CAST(COUNT(DISTINCT ok.l_suppkey) AS BIGINT) AS supplier_cnt
            FROM ok JOIN part p ON ok.l_partkey = p.p_partkey
            WHERE p.p_brand != 'Brand#5'
            GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
            LIMIT 100
        """)
def q_q16(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (supplier count by part attributes): distinct
    suppliers per (brand, type, size) over the DERIVED lineitem
    part-supplier relation, excluding one brand and negative-balance
    suppliers (the NOT IN -> broadcast anti join).  The distinct pair
    projection is the only corpus-sized shuffle; part attrs broadcast."""
    pairs = load_table(spark, sf, "lineitem").select("l_partkey", "l_suppkey").distinct()
    bad = load_table(spark, sf, "supplier").where(F.col("s_acctbal") < 0).select("s_suppkey")
    p = (
        load_table(spark, sf, "part")
        .where(F.col("p_brand") != "Brand#5")
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        pairs.join(F.broadcast(bad), pairs["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(100)
    )


# q20: half-share test cross-multiplies exact integer micros.
@query("tpch_q20_excess_suppliers", bench=True, oracle="""
            WITH red AS (
              SELECT l.l_partkey, l.l_suppkey, l.l_quantity
              FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
              WHERE p.p_name LIKE 'red%'
                AND l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'),
            ps AS (
              SELECT l_partkey, l_suppkey,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS supp_qty_micro
              FROM red GROUP BY 1, 2),
            pt AS (
              SELECT l_partkey AS pk,
                     CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS part_qty_micro
              FROM red GROUP BY 1),
            ex AS (
              SELECT DISTINCT ps.l_suppkey
              FROM ps JOIN pt ON ps.l_partkey = pt.pk
              WHERE 2 * ps.supp_qty_micro > pt.part_qty_micro)
            SELECT s.s_suppkey, s.s_name, n.n_name
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
              AND s.s_suppkey IN (SELECT l_suppkey FROM ex)
            ORDER BY s.s_suppkey
        """)
def q_q20(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (excess-share suppliers): EUROPE suppliers who in
    1997 shipped MORE THAN HALF of some red part's total 1997 quantity --
    nested semi-joins over per-(part,supplier) vs per-part aggregates (the
    partsupp availqty>0.5*sum correlation, derived from lineitem).  The
    half test cross-multiplies exact integer micros (2*supp > part); the
    per-part totals are part-dim-sized and broadcast; the supplier keyset
    semi-joins (never materializes a wide row)."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf, "part").where(F.col("p_name").like("red%")).select("p_partkey")
    red = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).select("l_partkey", "l_suppkey", "l_quantity")
    qty_micro = (F.sum(F.col("l_quantity").cast(DEC)) * 1_000_000).cast("long")
    per_ps = red.groupBy("l_partkey", "l_suppkey").agg(qty_micro.alias("supp_qty_micro"))
    per_p = red.groupBy("l_partkey").agg(qty_micro.alias("part_qty_micro")).withColumnRenamed("l_partkey", "pk")
    excess = (
        per_ps.join(F.broadcast(per_p), F.col("l_partkey") == F.col("pk"))
        .where(F.lit(2) * F.col("supp_qty_micro") > F.col("part_qty_micro"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "EUROPE").select("r_regionkey")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(excess), s["s_suppkey"] == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


# q21: the exists/not-exists double correlation as one grouped pass
# (conditional COUNT DISTINCT + conditional MAX).
@query("tpch_q21_waiting_suppliers", bench=True, stdout=True, oracle="""
            WITH po AS (
              SELECT l.l_orderkey,
                     COUNT(DISTINCT l.l_suppkey) AS n_supp,
                     COUNT(DISTINCT CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) > 730
                                         THEN l.l_suppkey END) AS n_late_supp,
                     MAX(CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) > 730
                              THEN l.l_suppkey END) AS late_supp
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              GROUP BY 1)
            SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
            FROM po JOIN supplier s ON po.late_supp = s.s_suppkey
            WHERE po.n_supp >= 2 AND po.n_late_supp = 1
            GROUP BY 1, 2
            ORDER BY numwait DESC, s.s_name, s.s_suppkey
            LIMIT 100
        """)
def q_q21(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): per order, at
    least two distinct suppliers but EXACTLY ONE distinct late supplier
    (ship > order date + 730 days; no commit/receipt dates in this schema)
    -- the exists + not-exists double correlation collapsed into ONE
    grouped pass over the fact (conditional countDistinct + conditional
    max recovers the sole late supplier), instead of the classic l1/l2/l3
    triple self-join.  One fact shuffle on l_orderkey, then an
    order-cardinality regroup; supplier names broadcast."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    late = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")) > 730
    per_order = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late_supp"),
            F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
        )
        .where((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.groupBy("late_supp")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .join(F.broadcast(s), F.col("late_supp") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name", "s_suppkey")
        .limit(100)
    )


@query("tpch_q7_nation_volume", bench=True, oracle=f"""
            WITH j AS (
              SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                     CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
                     l.l_extendedprice, l.l_discount
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN nation sn ON s.s_nationkey = sn.n_nationkey
              JOIN nation cn ON c.c_nationkey = cn.n_nationkey
              WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
                 OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
            SELECT supp_nation, cust_nation, l_year,
                   {_dsum("l_extendedprice * (1 - l_discount)")} AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_lines
            FROM j GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year
        """)
def q_q7(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): revenue flowing between two
    nations in either direction, by ship year -- supplier-side nation via
    lineitem->supplier, customer-side via lineitem->orders->customer; both
    dimension chains broadcast, the two fact-fact joins shuffle on their
    keys.  Decimal-exact revenue; UTC year extraction."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    n1, n2 = ("NATION_1", "NATION_2")  # fixture nation names
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    df = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation"))), F.col("s_nationkey") == F.col("snk"))
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation"))), F.col("c_nationkey") == F.col("cnk"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return (
        df.groupBy("supp_nation", "cust_nation", F.year(F.col("l_shipdate").cast("timestamp")).cast("long").alias("l_year"))
        .agg(dec_sum(rev, "revenue"), F.count(F.lit(1)).cast("long").alias("n_lines"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query("tpch_q10_returned_items", bench=True, oracle=f"""
            WITH pc AS (
              SELECT o.o_custkey, {_dsum_round(_REV, 4)} AS revenue, CAST(COUNT(*) AS BIGINT) AS n_lines
              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE l.l_returnflag = 'R' GROUP BY o.o_custkey)
            SELECT c.c_custkey, c.c_name, c.c_mktsegment,
                   pc.revenue, pc.n_lines
            FROM pc JOIN customer c ON pc.o_custkey = c.c_custkey
            ORDER BY pc.revenue DESC, c.c_custkey LIMIT 20
        """)
def q_q10(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): revenue lost to returns
    (l_returnflag = 'R') per customer, top 20 -- fact-fact join shuffles
    once, customer broadcast-enriches only the qualifying aggregate,
    decimal-exact revenue, deterministic (revenue desc, custkey) cut."""
    li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name", "c_mktsegment")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_cust = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        # dec_sum_round, NOT ROUND(dec_sum, 4): the q5 sf30 lesson -- a
        # reduced-scale ROUND on the double sum splits one output ulp
        # between engines near the 2^53 limit (CLAUDE.md invariant; this
        # site was the one r9 missed when fixing q3/q5/sk1/e12)
        .agg(dec_sum_round(rev, 4).alias("revenue"), F.count(F.lit(1)).cast("long").alias("n_lines"))
    )
    return (
        per_cust.join(F.broadcast(c), per_cust["o_custkey"] == c["c_custkey"])
        .select("c_custkey", "c_name", "c_mktsegment", "revenue", "n_lines")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# q3/q5: revenue materializes via exact integer micros (the _dsum
# recipe inlined because the ORDER BY reuses the micros column);
# ties on the rounded double are broken by key, so the top-10 cut
# and nation ordering are total orders in both engines.
@query("tpch_q3_shipping_priority", bench=True, oracle="""
            WITH a AS (
              SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
                     CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_micro
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE c.c_mktsegment = 'BUILDING'
                AND o.o_orderdate < TIMESTAMP '1998-06-01'
                AND l.l_shipdate > TIMESTAMP '1998-06-01'
              GROUP BY 1, 2, 3)
            SELECT l_orderkey, CAST(rev_micro AS DOUBLE) / 1000000 AS revenue,
                   strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
                   o_orderpriority
            FROM a ORDER BY revenue DESC, l_orderkey LIMIT 10
        """)
def q_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): top-10 unshipped orders by
    revenue for one market segment -- customer filter broadcast into the
    orders scan, the one fact-fact join shuffles on orderkey, both date
    predicates push down to the parquet scans.  The fixture has no
    o_shippriority column, so the grouping carries o_orderpriority (same
    shape: a per-order dimension attribute riding through the aggregate).
    Revenue compares as exact integer micros so the top-10 cut cannot
    flip on a ulp; (rev desc, orderkey) is a total order."""
    _utc(spark)
    cut = F.lit("1998-06-01").cast("timestamp_ntz")
    c = load_table(spark, sf, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = load_table(spark, sf, "orders").where(F.col("o_orderdate") < cut).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf, "lineitem").where(F.col("l_shipdate") > cut).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev) * 1_000_000).cast("long").alias("rev_micro"))
        .select(
            "l_orderkey",
            (F.col("rev_micro").cast("double") / 1e6).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query("tpch_q5_local_supplier_volume", bench=True, oracle="""
            WITH a AS (
              SELECT n.n_name,
                     CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS rev_micro,
                     CAST(COUNT(*) AS BIGINT) AS n_lines
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              JOIN customer c ON o.o_custkey = c.c_custkey
                             AND c.c_nationkey = s.s_nationkey
              JOIN nation n ON s.s_nationkey = n.n_nationkey
              JOIN region r ON n.n_regionkey = r.r_regionkey
              WHERE r.r_name = 'ASIA'
                AND o.o_orderdate >= TIMESTAMP '1997-01-01'
                AND o.o_orderdate < TIMESTAMP '1998-01-01'
              GROUP BY 1)
            SELECT n_name, CAST(rev_micro AS DOUBLE) / 1000000 AS revenue, n_lines
            FROM a ORDER BY revenue DESC, n_name
        """)
def q_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): revenue per nation for one
    region and one order year, counting only lines where the supplier and
    the ordering customer share a nation -- the equality that makes Q5
    different from a plain rollup.  Supplier/customer/nation/region all
    broadcast (dimension chains); the lineitem-orders join is the only
    shuffle.  Nation count bounds the output, exact-micros ordering."""
    _utc(spark)
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load_table(spark, sf, "region").where(F.col("r_name") == "ASIA").select("r_regionkey")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)
    df = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(
            F.broadcast(c),
            (o["o_custkey"] == c["c_custkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        df.groupBy("n_name")
        .agg(
            (F.sum(rev) * 1_000_000).cast("long").alias("rev_micro"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .select(
            "n_name",
            (F.col("rev_micro").cast("double") / 1e6).alias("revenue"),
            "n_lines",
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query("tpch_q4_late_orders", bench=True, oracle="""
            SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS late_orders
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey
                            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """)
def q_q4(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking, adapted to this schema's
    dates): per priority, how many orders have AT LEAST ONE line shipped
    more than 60 days after the order date -- the EXISTS/semi-join
    workhorse.  A left-semi join never duplicates orders however many
    lines qualify, and only (orderkey, shipdate) flows from the fact
    table.  UTC-pinned: the +60d arithmetic is timestamp arithmetic."""
    _utc(spark)
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("late_orders"))
        .orderBy("o_orderpriority")
    )


@query("tpch_q13_custdist", bench=True, oracle="""
            WITH pc AS (
              SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
              FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
              GROUP BY c.c_custkey)
            SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
            FROM pc GROUP BY c_count ORDER BY custdist DESC, c_count DESC
        """)
def q_q13(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join so
    zero-order customers land in the c_count=0 bucket, then a second
    aggregate histograms the counts.  Two shuffles total (per-customer
    count keyed on custkey, then the model-sized histogram); order by
    (custdist desc, c_count desc) -- the canonical Q13 sort."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )
