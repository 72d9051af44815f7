"""Data-quality queries (dq)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.io import load_table
from youtubeanalyzerproject_big_data__spark.operators import quality as quality_ops
from youtubeanalyzerproject_big_data__spark.contract import query
from youtubeanalyzerproject_big_data__spark.contract._sql import _dratio


# Constraint audit: each check replays in plain SQL; UNION ALL in
# check-name order.
# PSI replay: reference-decile cutpoints via quantile_cont (exact
# percentile parity proven by a16), CASE-sum bin assignment, +1
# Laplace smoothing, floor(term*1e9) quantization.
@query("dq2_psi_drift", oracle=f"""
            WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'),
            cur AS (SELECT o_totalprice AS v FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'),
            cc AS (SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts FROM ref),
            rb AS (SELECT CAST(list_sum(list_transform(cuts, t -> CASE WHEN v > t THEN 1 ELSE 0 END)) AS BIGINT) AS bin
                   FROM ref, cc),
            cb AS (SELECT CAST(list_sum(list_transform(cuts, t -> CASE WHEN v > t THEN 1 ELSE 0 END)) AS BIGINT) AS bin
                   FROM cur, cc),
            counts AS (SELECT bin,
                              CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ref_count,
                              CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cur_count
                       FROM (SELECT bin, 0 AS side FROM rb UNION ALL SELECT bin, 1 FROM cb)
                       GROUP BY bin),
            tot AS (SELECT CAST(SUM(ref_count) AS BIGINT) AS nr, CAST(SUM(cur_count) AS BIGINT) AS nc FROM counts),
            terms AS (SELECT bin, ref_count, cur_count,
                             CAST(floor((((ref_count + 1) / CAST(nr + 10 AS DOUBLE))
                                         - ((cur_count + 1) / CAST(nc + 10 AS DOUBLE)))
                                        * ln(((ref_count + 1) / CAST(nr + 10 AS DOUBLE))
                                             / ((cur_count + 1) / CAST(nc + 10 AS DOUBLE))) * 1e9) AS BIGINT) AS psi_term_nano
                      FROM counts, tot)
            SELECT bin, ref_count, cur_count, psi_term_nano,
                   {_dratio('psi_term_nano', '1000000000')} AS psi_term
            FROM terms ORDER BY bin
        """)
def q_dq2(spark: SparkSession, sf: str) -> DataFrame:
    """PSI distribution-drift audit (quality.psi_drift): order totals
    before vs since 1998-01-01, reference-decile bins (a16's exact
    percentile cutpoints, map-side assignment), Laplace-smoothed
    floor(term*1e9)-quantized per-bin PSI terms."""
    orders = load_table(spark, sf, "orders")
    split = F.lit("1998-01-01").cast("timestamp")
    return quality_ops.psi_drift(
        orders.where(F.col("o_orderdate") < split),
        orders.where(F.col("o_orderdate") >= split),
        "o_totalprice",
        n_bins=10,
    )


@query("dq3_fact_reconciliation", oracle="""
            WITH d AS (
              SELECT l_orderkey AS k,
                     CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1e6) AS BIGINT)) AS BIGINT) AS detail_micros
              FROM lineitem GROUP BY l_orderkey),
            h AS (SELECT o_orderkey AS k, CAST(FLOOR(o_totalprice * 1e6) AS BIGINT) AS head_micros FROM orders),
            j AS (SELECT h.k, h.head_micros, COALESCE(d.detail_micros, 0) AS detail_micros
                  FROM h LEFT JOIN d USING (k))
            SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
                   CAST(SUM(CASE WHEN ABS(head_micros - detail_micros) <= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
                   CAST(SUM(CASE WHEN ABS(head_micros - detail_micros) > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
                   CAST(SUM(ABS(head_micros - detail_micros)) AS BIGINT) AS total_drift_micros
            FROM j
        """)
def q_dq3(spark: SparkSession, sf: str) -> DataFrame:
    """Header-vs-detail reconciliation (quality.fact_reconciliation):
    o_totalprice against the micro-quantized lineitem-implied total,
    1-cent integer tolerance; mismatches quantified, not boolean."""
    return quality_ops.fact_reconciliation(
        load_table(spark, sf, "orders"), load_table(spark, sf, "lineitem")
    )


@query("dq1_constraint_audit", oracle="""
            WITH checks AS (
              SELECT '01_orderkey_unique' AS check_name,
                     CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) AS n_violations
              FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
              UNION ALL
              SELECT '02_custkey_not_null',
                     CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM orders
              UNION ALL
              SELECT '03_totalprice_range',
                     CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0 OR o_totalprice > 1000000 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
              UNION ALL
              SELECT '04_status_domain',
                     CAST(SUM(CASE WHEN o_orderstatus IS NULL OR o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END) AS BIGINT) FROM orders
              UNION ALL
              SELECT '05_custkey_in_customer',
                     CAST(COUNT(*) AS BIGINT)
              FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
              WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
            )
            SELECT check_name, n_violations,
                   CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
            FROM checks ORDER BY check_name
        """)
def q_dq1(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality audit gate (operators/quality.check_constraints,
    Deequ-style): the suite a pipeline runs before consuming a partition.
    Five constraints over orders -- unique key, null-free foreign key,
    price range, status domain (deliberately tight: 'P' rows COUNT as
    violations, proving the counter), and referential closure into
    customer (broadcast anti-join).  Row-local checks fuse into ONE
    conditional-sum aggregate over a single scan."""
    from youtubeanalyzerproject_big_data__spark.operators import quality

    o = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    return quality.check_constraints(
        o,
        [
            {"name": "01_orderkey_unique", "kind": "unique", "cols": ["o_orderkey"]},
            {"name": "02_custkey_not_null", "kind": "not_null", "col": "o_custkey"},
            {"name": "03_totalprice_range", "kind": "in_range", "col": "o_totalprice", "lo": 0.0, "hi": 1_000_000.0},
            {"name": "04_status_domain", "kind": "in_set", "col": "o_orderstatus", "values": ["O", "F"]},
            {"name": "05_custkey_in_customer", "kind": "subset_of", "col": "o_custkey", "ref": cust, "ref_col": "c_custkey"},
        ],
    )


# dq4: per-column profile pairs; each snapshot is one aggregate.
# dq5: first-violated-rule routing, same suite order as the engine.
@query("dq5_quarantine", bench=True, oracle="""
            SELECT doc_id,
                   CASE WHEN n_chars < 80 THEN 'too_short'
                        WHEN n_chars > 500 THEN 'too_long'
                        WHEN lang IS NULL OR lang NOT IN ('en','de','fr','es') THEN 'bad_lang'
                        ELSE 'ok' END AS quarantine_reason,
                   CAST(n_chars AS BIGINT) AS n_chars
            FROM documents
            WHERE n_chars < 80 OR n_chars > 500
               OR lang IS NULL OR lang NOT IN ('en','de','fr','es')
            ORDER BY doc_id
        """)
def q_dq5(spark: SparkSession, sf: str) -> DataFrame:
    """Dead-letter quarantine split (quality.quarantine_split): documents
    routed by the FIRST violated expectation (suite order: too_short ->
    too_long -> bad_lang), quarantined rows emitted with their reason --
    the Deequ-style split where bad rows are ROUTED, not just counted.
    Map-side conditional chain, no shuffle before the output sort."""
    docs = load_table(spark, sf, "documents")
    rules = [
        ("too_short", F.col("n_chars") < 80),
        ("too_long", F.col("n_chars") > 500),
        ("bad_lang", ~F.col("lang").isin("en", "de", "fr", "es") | F.col("lang").isNull()),
    ]
    out = quality_ops.quarantine_split(docs, rules)
    return (
        out.where(F.col("quarantine_reason") != "ok")
        .select("doc_id", "quarantine_reason", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


@query("dq4_profile_drift", bench=True, oracle="""
            WITH o AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS old_rows,
                     CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS on1,
                     CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS od1,
                     CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS on2,
                     CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS od2,
                     CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS on3,
                     CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS od3,
                     CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT) AS on4,
                     CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS od4
              FROM orders WHERE o_orderkey % 10 != 0),
            n AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS new_rows,
                     CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS nn1,
                     CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd1,
                     CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS nn2,
                     CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS nd2,
                     CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT) AS nn3,
                     CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS nd3,
                     CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT) AS nn4,
                     CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS nd4
              FROM orders),
            m AS (
              SELECT * FROM (VALUES
                ('o_custkey', 1), ('o_totalprice', 2), ('o_orderstatus', 3), ('o_orderpriority', 4)
              ) AS v(col, i))
            SELECT m.col AS "column", o.old_rows, n.new_rows,
                   CASE m.i WHEN 1 THEN o.on1 WHEN 2 THEN o.on2 WHEN 3 THEN o.on3 ELSE o.on4 END AS old_nulls,
                   CASE m.i WHEN 1 THEN n.nn1 WHEN 2 THEN n.nn2 WHEN 3 THEN n.nn3 ELSE n.nn4 END AS new_nulls,
                   (1000000 * CASE m.i WHEN 1 THEN o.on1 WHEN 2 THEN o.on2 WHEN 3 THEN o.on3 ELSE o.on4 END) // o.old_rows AS old_null_ppm,
                   (1000000 * CASE m.i WHEN 1 THEN n.nn1 WHEN 2 THEN n.nn2 WHEN 3 THEN n.nn3 ELSE n.nn4 END) // n.new_rows AS new_null_ppm,
                   CASE m.i WHEN 1 THEN o.od1 WHEN 2 THEN o.od2 WHEN 3 THEN o.od3 ELSE o.od4 END AS old_distinct,
                   CASE m.i WHEN 1 THEN n.nd1 WHEN 2 THEN n.nd2 WHEN 3 THEN n.nd3 ELSE n.nd4 END AS new_distinct,
                   CASE m.i WHEN 1 THEN n.nd1 - o.od1 WHEN 2 THEN n.nd2 - o.od2
                            WHEN 3 THEN n.nd3 - o.od3 ELSE n.nd4 - o.od4 END AS distinct_delta
            FROM m, o, n ORDER BY "column"
        """)
def q_dq4(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot column-profile drift (quality.profile_drift): orders
    minus the %10==0 keys (u1's CDC convention) vs the full table -- per
    column, exact null/distinct/row counts with ppm null rates; the
    pre-consumption audit for a refreshed partition.  One scan per
    snapshot, all metrics integer-exact."""
    o = load_table(spark, sf, "orders")
    old = o.where(F.col("o_orderkey") % 10 != 0)
    return quality_ops.profile_drift(
        old, o, ["o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"]
    )
