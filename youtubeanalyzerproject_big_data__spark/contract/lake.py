"""Lakehouse queries: layout and pruning (l), upserts and history (u),
file-format round trips (v) and incremental state (i)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import (
    md5_int32,
    md5_int32_lane_sql,
    md5_int32_lanes as md5_int32_lanes_col,
    md5_int32_sql,
)
from youtubeanalyzerproject_big_data__spark.functions.textfns import normalize as textfns_normalize
from youtubeanalyzerproject_big_data__spark.functions import zorder as zorder_fns
from youtubeanalyzerproject_big_data__spark.functions.zorder import hilbert_sql_2d
from youtubeanalyzerproject_big_data__spark.functions import precision
from youtubeanalyzerproject_big_data__spark.functions.precision import DEC, dec_sum
from youtubeanalyzerproject_big_data__spark.io import load_events, load_table
from youtubeanalyzerproject_big_data__spark.operators import aggregates as agg, dedup
from youtubeanalyzerproject_big_data__spark.operators.merge import scd2_history as merge_scd2
from youtubeanalyzerproject_big_data__spark import serve
from youtubeanalyzerproject_big_data__spark.session import scratch_dir as _scratch_dir
from youtubeanalyzerproject_big_data__spark.contract import _utc, query
from youtubeanalyzerproject_big_data__spark.contract._sql import _davg, _dmicro, _dratio


@query("l1_zorder_keys", oracle=f"""
            WITH st AS (
              SELECT MIN(CAST(o_custkey AS DOUBLE)) AS lox, MAX(CAST(o_custkey AS DOUBLE)) AS hix,
                     MIN(CAST(o_totalprice AS DOUBLE)) AS loy, MAX(CAST(o_totalprice AS DOUBLE)) AS hiy
              FROM orders),
            q AS (
              SELECT o_orderkey,
                     LEAST(CAST(FLOOR((CAST(o_custkey AS DOUBLE) - lox) / (hix - lox) * 256.0) AS BIGINT), 255) AS qx,
                     LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - loy) / (hiy - loy) * 256.0) AS BIGINT), 255) AS qy
              FROM orders, st)
            SELECT o_orderkey,
                   CAST({" + ".join(f"(((q{'xy'[c]} >> {b}) & 1) << {b * 2 + c})" for c in range(2) for b in range(8))} AS BIGINT) AS zkey
            FROM q
        """)
def q_l1(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering keys over (o_custkey, o_totalprice):
    the multi-dimensional layout key behind OPTIMIZE ZORDER -- contiguous
    key ranges are small hyper-rectangles in BOTH columns, so one layout
    serves range scans on either (functions/zorder.py; write_zordered
    materializes the layout, test_zorder.py proves per-file min/max
    tightening).  Pure bit arithmetic, map-side."""
    from youtubeanalyzerproject_big_data__spark.functions.zorder import zorder_key

    o = load_table(spark, sf, "orders")
    return o.select("o_orderkey", zorder_key(o, ["o_custkey", "o_totalprice"], bits=8).alias("zkey"))


@query("l3_hilbert_keys", oracle=hilbert_sql_2d(
    """
            SELECT o_orderkey,
                   LEAST(CAST(FLOOR((CAST(o_custkey AS DOUBLE) - st.lox) / (st.hix - st.lox) * 256.0) AS BIGINT), 255) AS qx,
                   LEAST(CAST(FLOOR((CAST(o_totalprice AS DOUBLE) - st.loy) / (st.hiy - st.loy) * 256.0) AS BIGINT), 255) AS qy
            FROM orders, (
              SELECT MIN(CAST(o_custkey AS DOUBLE)) AS lox, MAX(CAST(o_custkey AS DOUBLE)) AS hix,
                     MIN(CAST(o_totalprice AS DOUBLE)) AS loy, MAX(CAST(o_totalprice AS DOUBLE)) AS hiy
              FROM orders) st
            """,
    "o_orderkey",
    bits=8,
))
def q_l3(spark: SparkSession, sf: str) -> DataFrame:
    """Hilbert-curve clustering keys over (o_custkey, o_totalprice) --
    l1's Morton key upgraded to the jump-free curve (zorder.hilbert_key_2d,
    unrolled xy2d fold; oracle generated from the same fold by
    hilbert_sql_2d, verified against the textbook walk in
    tests/test_zorder.py)."""
    from youtubeanalyzerproject_big_data__spark.functions.zorder import hilbert_key_2d, quantize

    o = load_table(spark, sf, "orders")
    row = o.agg(
        F.min(F.col("o_custkey").cast("double")).alias("lox"),
        F.max(F.col("o_custkey").cast("double")).alias("hix"),
        F.min(F.col("o_totalprice").cast("double")).alias("loy"),
        F.max(F.col("o_totalprice").cast("double")).alias("hiy"),
    ).collect()[0]
    qx = quantize(F.col("o_custkey"), row["lox"], row["hix"], 8)
    qy = quantize(F.col("o_totalprice"), row["loy"], row["hiy"], 8)
    return hilbert_key_2d(o.select("o_orderkey", qx.alias("_qx"), qy.alias("_qy")), F.col("_qx"), F.col("_qy"), bits=8).select(
        "o_orderkey", "hkey"
    )


# SCD2 replay: LAG collapses no-change rows, LEAD closes intervals,
# 9999-12-31 epoch-micros sentinel for open ends.
@query("u3_scd2_history", bench=True, stdout=True, oracle="""
            WITH e AS (SELECT user_id, event_type AS state, epoch_ns(ts) // 1000 AS t_us, event_id
                       FROM events),
            l AS (SELECT *, LAG(state) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS prev FROM e),
            k AS (SELECT * FROM l WHERE prev IS NULL OR state != prev),
            v AS (SELECT user_id, state,
                         CAST(t_us AS BIGINT) AS valid_from_us,
                         CAST(COALESCE(LEAD(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id),
                                       253402214400000000) AS BIGINT) AS valid_to_us,
                         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS BIGINT) AS version
                  FROM k)
            SELECT user_id, state, valid_from_us, valid_to_us, version,
                   valid_to_us = 253402214400000000 AS is_current
            FROM v ORDER BY user_id, version
        """)
def q_u3(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 dimension-history build (merge.scd2_history): the event stream
    as a per-user state-change feed -> versioned validity intervals in
    integer epoch micros, consecutive no-change rows collapsed, open
    intervals closed by the 9999-12-31 sentinel.  (event_id tiebreak:
    equal timestamps are real in change feeds.)  All key-partitioned
    windows; oracle replays LAG-filter-LEAD verbatim."""
    _utc(spark)
    return merge_scd2(load_events(spark, sf), "user_id", "event_type", "ts", "event_id").orderBy(
        "user_id", "version"
    )


# Incremental-agg oracle: recompute from the FULL table; equality
# with the two-way state merge is the mergeability proof.
@query("i1_incremental_agg_state", oracle=f"""
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro,
                   MIN(o_totalprice) AS min_v,
                   MAX(o_totalprice) AS max_v,
                   {_dratio('CAST(SUM(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS BIGINT)', '(COUNT(*) * 1000000)')} AS avg_v
            FROM orders
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority
        """)
def q_i1(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance (merge.agg_state /
    merge_agg_state): per-priority order stats kept as a mergeable state
    table; the batch (orderkeys ending in 0) folds into the base state
    WITHOUT rescanning base rows.  The oracle recomputes from the FULL
    table -- equality IS the mergeability proof (integer-micro sums,
    order-free min/max/count)."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import agg_state, merge_agg_state

    orders = load_table(spark, sf, "orders")
    base = orders.where(F.col("o_orderkey") % 10 != 0)
    batch = orders.where(F.col("o_orderkey") % 10 == 0)
    merged = merge_agg_state(
        agg_state(base, ["o_orderpriority"], "o_totalprice"),
        agg_state(batch, ["o_orderpriority"], "o_totalprice"),
        ["o_orderpriority"],
    )
    return merged.orderBy("o_orderpriority")


@query("u1_cdc_merge", bench=True, stdout=True, oracle=f"""
            WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders),
            upd AS (
              SELECT o_orderkey, o_custkey, o_orderstatus,
                     '5-LOW' AS o_orderpriority, {_dmicro('o_totalprice * 1.1')} AS o_totalprice,
                     FALSE AS _del
              FROM b WHERE ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u1upd")}) % 1000000 < 50000),
            del_ AS (
              SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice, TRUE AS _del
              FROM b WHERE ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u1del")}) % 1000000 < 20000
                AND NOT (({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u1upd")}) % 1000000 < 50000)),
            ins AS (
              SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
                     '9-NEW' AS o_orderpriority, {_dmicro('o_totalprice * 0.5')} AS o_totalprice,
                     FALSE AS _del
              FROM b WHERE ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u1ins")}) % 1000000 < 10000),
            u AS (SELECT * FROM upd UNION ALL SELECT * FROM del_ UNION ALL SELECT * FROM ins)
            SELECT * FROM b WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, o_totalprice
            FROM u WHERE NOT _del
        """)
def q_u1(spark: SparkSession, sf: str) -> DataFrame:
    """CDC merge over orders: a deterministic update batch (5% row updates,
    2% tombstone deletes, 1% inserts under shifted keys, all md5-keyed) is
    merged with operators/merge.merge_upsert -- the anti-join-plus-union
    plan that broadcasts only the touched KEYS and never shuffles the base
    table.  Oracle replays the same batch with NOT IN + UNION ALL."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import hash_sample_predicate
    from youtubeanalyzerproject_big_data__spark.operators.merge import merge_upsert

    base = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    key = F.col("o_orderkey")
    p_upd = hash_sample_predicate(key, 50_000, 1_000_000, seed="u1upd")
    p_del = hash_sample_predicate(key, 20_000, 1_000_000, seed="u1del")
    p_ins = hash_sample_predicate(key, 10_000, 1_000_000, seed="u1ins")
    upd = base.where(p_upd).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.lit("5-LOW").alias("o_orderpriority"),
        precision.micro_round(F.col("o_totalprice") * 1.1, "o_totalprice"),
        F.lit(False).alias("_del"),
    )
    dele = base.where(p_del & ~p_upd).select(*base.columns, F.lit(True).alias("_del"))
    ins = base.where(p_ins).select(
        (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        F.lit("9-NEW").alias("o_orderpriority"),
        precision.micro_round(F.col("o_totalprice") * 0.5, "o_totalprice"),
        F.lit(False).alias("_del"),
    )
    updates = upd.unionByName(dele).unionByName(ins)
    return merge_upsert(base, updates, ["o_orderkey"], delete_col="_del")


# Serve-layer replay: the oracle recomputes the Phase-1
# category-stats job over the same derived videos model; the Spark
# side answers from the materialized JSON artifact (cache HIT), so
# equality proves the write-through/read-back round-trip too.  The
# 5-category result is far under the job's top-50 limit.
@query("v1_served_category_stats", oracle=f"""
            WITH v AS (
              SELECT event_type AS category, value AS views,
                     CAST((epoch_ns(ts) // 1000) % 1000 AS DOUBLE) AS length,
                     CAST((user_id % 5) + 1 AS DOUBLE) AS rate
              FROM events)
            SELECT category, COUNT(*) AS num_videos,
                   {_davg("views")} AS avg_views,
                   {_dmicro('MAX(views)')} AS max_views,
                   {_davg("length")} AS avg_length,
                   {_davg("rate")} AS avg_rating
            FROM v GROUP BY category
        """)
def q_v1(spark: SparkSession, sf: str) -> DataFrame:
    """Phase-2 serve layer end-to-end (serve.QueryService): the reference
    GUI's cache-or-compute contract as a gate-checked query instead of a
    test-only claim.  A videos-shaped model is derived deterministically
    from events (category=event_type, views=value, length=epoch-micros mod
    1000, rate=user_id mod 5 + 1), served TWICE through QueryService --
    first call misses the cache, runs the Phase-1 category-stats job and
    materializes the JSON artifact (write-through + _SUCCESS commit
    marker); second call hits the artifact -- and the HIT-path read is
    what the oracle diffs, so the materialize/read-back round-trip itself
    is verified, not just the underlying aggregate.  UTC pinned: length
    derives from the NTZ->timestamp cast.  The cache dir is query-lifetime
    only: the hit-path artifact is pinned (collected, cache-sized by
    contract) before the dir is removed, so repeated verify/bench runs
    leave no orphaned v1_cache_* directories behind."""
    import shutil

    _utc(spark)
    videos = load_events(spark, sf).select(
        F.col("event_type").alias("category"),
        F.col("value").alias("views"),
        (F.unix_micros("ts") % 1000).cast("double").alias("length"),
        ((F.col("user_id") % 5) + 1).cast("double").alias("rate"),
    )
    cache_dir = _scratch_dir("v1_cache_")
    try:
        with serve.QueryService(spark, videos, cache_dir) as svc:
            svc.serve("categorystats")  # miss: compute + materialize
            hit = svc.serve("categorystats")  # hit: read the committed artifact
            out = hit.select("category", "num_videos", "avg_views", "max_views", "avg_length", "avg_rating")
            rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(cache_dir, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


@query("l2_table_fingerprint", oracle=f"""
            WITH c AS (
              SELECT concat_ws('|', CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR),
                               COALESCE(event_type, '__null__'),
                               CAST(epoch_ns(ts) // 1000 AS VARCHAR),
                               CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR)) AS canon
              FROM events)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "fp", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "fp", 1)}) AS BIGINT) AS fp_lane1
            FROM c
        """)
def q_l2(spark: SparkSession, sf: str) -> DataFrame:
    """Order-invariant table fingerprint of events: per-row md5 over a
    canonical encoding (ints + micros + DECIMAL-formatted value, '|'-
    joined), two 32-bit lanes XOR-folded corpus-wide + the row count --
    the replication/consistency-check primitive (two clusters compare 3
    integers to validate a 100 TB copy).  XOR is associative/commutative
    and never overflows, so the reduction is map-side, partition-order-
    free, and engine-exact; value goes through decimal(18,6)->string so
    both engines hash identical bytes (double formatting differs)."""
    _utc(spark)
    e = load_events(spark, sf)
    canon = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.coalesce(F.col("event_type"), F.lit("__null__")),
        F.unix_micros("ts").cast("string"),
        F.col("value").cast(DEC).cast("string"),
    )
    lanes = md5_int32_lanes_col(canon, seed="fp", lanes=2)
    return e.select(lanes[0].alias("l0"), lanes[1].alias("l1")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.bit_xor("l0").cast("long").alias("fp_lane0"),
        F.bit_xor("l1").cast("long").alias("fp_lane1"),
    )


@query("i2_incremental_topk_state", oracle="""
            SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rank
            FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
                  FROM orders)
            WHERE rk <= 5 ORDER BY o_orderpriority, rank
        """)
def q_i2(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental top-k leaderboard maintenance (merge.topk_state /
    merge_topk_state): per-priority top-5 orders by price kept as
    k-bounded state; the batch (orderkeys ending in 0) folds in by
    union-and-recut -- 2k rows per group shuffle, history never
    rescanned.  The oracle recomputes from the FULL table: equality IS
    the mergeability proof (i1's argument for order statistics)."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import merge_topk_state, topk_state

    orders = load_table(spark, sf, "orders")
    base = orders.where(F.col("o_orderkey") % 10 != 0)
    batch = orders.where(F.col("o_orderkey") % 10 == 0)
    merged = merge_topk_state(
        topk_state(base, ["o_orderpriority"], "o_totalprice", "o_orderkey", k=5),
        topk_state(batch, ["o_orderpriority"], "o_totalprice", "o_orderkey", k=5),
        ["o_orderpriority"],
        "o_totalprice",
        "o_orderkey",
        k=5,
    )
    return merged.orderBy("o_orderpriority", "rank")


@query("u4_snapshot_diff", oracle=f"""
            WITH b AS (SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice FROM orders),
            kept AS (
              SELECT * FROM b
              WHERE NOT ((({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u4del")}) % 1000000 < 20000)
                         AND NOT (({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u4upd")}) % 1000000 < 50000))),
            mut AS (
              SELECT o_orderkey, o_orderstatus,
                     CASE WHEN ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u4upd")}) % 1000000 < 50000
                          THEN '5-LOW' ELSE o_orderpriority END AS o_orderpriority,
                     CASE WHEN ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u4upd")}) % 1000000 < 50000
                          THEN {_dmicro('o_totalprice * 1.1')} ELSE o_totalprice END AS o_totalprice
              FROM kept),
            ins AS (
              SELECT o_orderkey + 100000000 AS o_orderkey, 'N' AS o_orderstatus,
                     '9-NEW' AS o_orderpriority, {_dmicro('o_totalprice * 0.5')} AS o_totalprice
              FROM b WHERE ({md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u4ins")}) % 1000000 < 10000),
            nw AS (SELECT * FROM mut UNION ALL SELECT * FROM ins),
            j AS (
              SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
                     o.o_orderkey IS NOT NULL AS op, n.o_orderkey IS NOT NULL AS np,
                     (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) AS eq_status,
                     (o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority) AS eq_prio,
                     (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice) AS eq_price
              FROM b o FULL OUTER JOIN nw n ON o.o_orderkey = n.o_orderkey),
            st AS (
              SELECT CASE WHEN op AND NOT np THEN 'deleted'
                          WHEN np AND NOT op THEN 'inserted'
                          WHEN eq_status AND eq_prio AND eq_price THEN 'unchanged'
                          ELSE 'changed' END AS status,
                     (NOT eq_status) AS c_status, (NOT eq_prio) AS c_prio, (NOT eq_price) AS c_price,
                     op, np
              FROM j)
            SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys,
                   CAST(SUM(CASE WHEN status = 'changed' AND c_status THEN 1 ELSE 0 END) AS BIGINT) AS changed_o_orderstatus,
                   CAST(SUM(CASE WHEN status = 'changed' AND c_prio THEN 1 ELSE 0 END) AS BIGINT) AS changed_o_orderpriority,
                   CAST(SUM(CASE WHEN status = 'changed' AND c_price THEN 1 ELSE 0 END) AS BIGINT) AS changed_o_totalprice
            FROM st GROUP BY status ORDER BY status
        """)
def q_u4(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot reconciliation diff (merge.snapshot_diff): orders vs a
    deterministically mutated copy (u1's md5 recipe: 5% price updates, 2%
    deletes, 1% shifted-key inserts) -- per-status key counts + per-column
    change attribution in ONE full-outer join + one aggregate."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import hash_sample_predicate
    from youtubeanalyzerproject_big_data__spark.operators.merge import snapshot_diff

    base = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    key = F.col("o_orderkey")
    p_upd = hash_sample_predicate(key, 50_000, 1_000_000, seed="u4upd")
    p_del = hash_sample_predicate(key, 20_000, 1_000_000, seed="u4del")
    p_ins = hash_sample_predicate(key, 10_000, 1_000_000, seed="u4ins")
    kept = base.where(~(p_del & ~p_upd))
    mutated = kept.select(
        "o_orderkey",
        "o_orderstatus",
        F.when(p_upd, F.lit("5-LOW")).otherwise(F.col("o_orderpriority")).alias("o_orderpriority"),
        F.when(p_upd, precision.micro_round(F.col("o_totalprice") * 1.1)).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    inserted = base.where(p_ins).select(
        (F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.lit("9-NEW").alias("o_orderpriority"),
        precision.micro_round(F.col("o_totalprice") * 0.5, "o_totalprice"),
    )
    new = mutated.unionByName(inserted)
    return snapshot_diff(base, new, ["o_orderkey"], ["o_orderstatus", "o_orderpriority", "o_totalprice"])


# CDC replay: identical md5 membership predicates build the batch;
# NOT IN + UNION ALL is the oracle's merge. *1.1/*0.5 and ROUND(,6)
# are the same IEEE double ops on both sides.
# Incremental-index replay: historic index from doc_id < 400,
# batch digests folded in; first-seen (historic) winners stable.
@query("u2_incremental_dedup_index", oracle=r"""
            WITH n AS (SELECT doc_id,
                              md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS k
                       FROM documents),
            hist AS (SELECT k, MIN(doc_id) AS keep FROM n WHERE doc_id < 400 GROUP BY k),
            newb AS (SELECT k, MIN(doc_id) AS keep FROM n WHERE doc_id >= 400 GROUP BY k)
            SELECT k AS text_key, keep AS keep_id, 'kept' AS status FROM hist
            UNION ALL
            SELECT k AS text_key, keep AS keep_id, 'new' AS status
            FROM newb WHERE k NOT IN (SELECT k FROM hist)
        """)
def q_u2(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental dedup-index maintenance (dedup.update_digest_index):
    the first 400 doc_ids play the historic corpus (its digest index built
    by the d1 digest rule), the rest arrive as the ingestion batch; the
    updated index keeps historic first-seen winners ('kept') and admits
    only genuinely new digests from the batch ('new', min batch id).  The
    index side is scanned once and never shuffled -- batch keys broadcast
    both ways (see operator docstring)."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    hist = docs.where(F.col("doc_id") < 400)
    batch = docs.where(F.col("doc_id") >= 400)
    index = (
        hist.select("doc_id", F.md5(textfns_normalize(F.col("text"))).alias("text_key"))
        .groupBy("text_key")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    return dedup.update_digest_index(index, batch, "doc_id", "text").orderBy("text_key")


# Z-order replay: identical rescale ((x-lo)/(hi-lo))*cells -> floor
# -> clamp, then the same Morton bit-interleave; integer bit ops
# are engine-exact, the rescale is the same IEEE sequence.
# Fingerprint replay: identical canonical bytes (decimal(18,6)
# string form on both engines), same md5 lanes, XOR fold.
@query("l4_compaction", oracle=f"""
            WITH c AS (
              SELECT concat_ws('|', CAST(doc_id AS VARCHAR),
                               COALESCE(text, '__null__'),
                               COALESCE(lang, '__null__'),
                               COALESCE(source, '__null__'),
                               CAST(n_chars AS VARCHAR)) AS canon
              FROM documents)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "l4", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "l4", 1)}) AS BIGINT) AS fp_lane1,
                   CAST(1 AS BIGINT) AS was_fragmented,
                   CAST(1 AS BIGINT) AS compacted_balanced
            FROM c
        """)
def q_l4(spark: SparkSession, sf: str) -> DataFrame:
    """Small-file compaction end-to-end (io.compact_parquet): documents
    deliberately shattered into 64 tiny files, compacted to 4
    range-partitioned sorted files.  The row count and XOR-fold md5
    fingerprint of the COMPACTED copy are oracle-matched against the
    parquet source (rewrite provably lossless); file count and per-file
    row balance (max <= 2x mean, range partitioner quality) ship as gate
    bits."""
    import glob as _glob
    import shutil

    from youtubeanalyzerproject_big_data__spark.io import compact_parquet

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("l4_compact_")
    try:
        small, big = f"{tmp}/small", f"{tmp}/big"
        docs.repartition(64).write.mode("overwrite").parquet(small)
        compact_parquet(spark, small, big, n_files=4, sort_col="doc_id")
        n_small = len(_glob.glob(f"{small}/part-*"))
        n_big = len(_glob.glob(f"{big}/part-*"))
        back = spark.read.parquet(big)
        canon = F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("__null__")),
            F.coalesce(F.col("lang"), F.lit("__null__")),
            F.coalesce(F.col("source"), F.lit("__null__")),
            F.col("n_chars").cast("string"),
        )
        lanes = md5_int32_lanes_col(canon, seed="l4", lanes=2)
        fp = back.select(lanes[0].alias("l0"), lanes[1].alias("l1")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("l0").cast("long").alias("fp_lane0"),
            F.bit_xor("l1").cast("long").alias("fp_lane1"),
        ).collect()[0]
        per_file = (
            back.groupBy(F.input_file_name().alias("f")).count().agg(F.max("count")).collect()[0][0]
        )
        balanced = 1 if (n_big == 4 and per_file * 4 <= 2 * fp["n_rows"]) else 0
        return spark.createDataFrame(
            [(int(fp["n_rows"]), int(fp["fp_lane0"]), int(fp["fp_lane1"]), 1 if n_small >= 32 else 0, balanced)],
            "n_rows long, fp_lane0 long, fp_lane1 long, was_fragmented long, compacted_balanced long",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# l5: zones are data-derived rank ranges, so plain row_number
# replays them; two layouts, one probe.
# l6: values from the raw tables (bucketed write+read must lose
# nothing); the two plan-gate bits are literal 1s -- Spark computes
# them from the executed plans (shuffle-free bucketed join, >= 2
# Exchanges in the unbucketed control).
@query("l6_bucketed_join", bench=True, stdout=True, oracle="""
            SELECT c_mktsegment,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS sum_totalprice,
                   CAST(1 AS BIGINT) AS bucketed_shuffle_free,
                   CAST(1 AS BIGINT) AS unbucketed_has_shuffle
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment
        """)
def q_l6(spark: SparkSession, sf: str) -> DataFrame:
    """Bucketed CO-LOCATED join end-to-end: orders and customer written as
    16-bucket tables on the join key (bucketBy + sortBy + saveAsTable),
    re-read and merge-joined -- Catalyst plans the join with ZERO
    Exchanges because both sides' bucket layout already satisfies the
    join's distribution requirement.  THE layout lever for repeated
    100 TB fact-fact joins: the shuffle is paid once at write time and
    amortized over every subsequent join on that key.  Gate bits: the
    bucketed join's executed plan is SortMergeJoin with no Exchange
    (shuffle-free), and the identical unbucketed join carries >= 2
    (discriminating control).  Revenue-by-segment off the bucketed join
    is value-matched by the oracle from the raw tables, proving the
    bucketed write+read lost nothing."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.plans.inspect import executed_plan

    o = load_table(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    tmp = _scratch_dir("l6_bucketed_")
    try:
        spark.sql("DROP TABLE IF EXISTS l6_orders_bkt")
        spark.sql("DROP TABLE IF EXISTS l6_customer_bkt")
        o.write.mode("overwrite").option("path", f"{tmp}/o").bucketBy(16, "o_custkey").sortBy(
            "o_custkey"
        ).saveAsTable("l6_orders_bkt")
        c.write.mode("overwrite").option("path", f"{tmp}/c").bucketBy(16, "c_custkey").sortBy(
            "c_custkey"
        ).saveAsTable("l6_customer_bkt")
        ob, cb = spark.table("l6_orders_bkt"), spark.table("l6_customer_bkt")
        joined = ob.hint("merge").join(cb, ob.o_custkey == cb.c_custkey)
        plan_b = executed_plan(joined)
        bucketed_free = 1 if ("SortMergeJoin" in plan_b and plan_b.count("Exchange") == 0) else 0
        plan_u = executed_plan(o.hint("merge").join(c, o.o_custkey == c.c_custkey))
        control = 1 if plan_u.count("Exchange") >= 2 else 0
        agg = joined.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dec_sum("o_totalprice", "sum_totalprice"),
        )
        rows = [
            (r["c_mktsegment"], r["n_orders"], r["sum_totalprice"], bucketed_free, control)
            for r in agg.collect()
        ]
    finally:
        spark.sql("DROP TABLE IF EXISTS l6_orders_bkt")
        spark.sql("DROP TABLE IF EXISTS l6_customer_bkt")
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "c_mktsegment string, n_orders long, sum_totalprice double, "
        "bucketed_shuffle_free long, unbucketed_has_shuffle long",
    ).orderBy("c_mktsegment")


# l7: values from the raw table; the two plan-gate bits are literal
# 1s -- Spark computes them from the pruned scan's executed plan.
@query("l7_partition_pruning", bench=True, stdout=True, oracle="""
            SELECT o_orderstatus,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000) AS sum_totalprice,
                   CAST(1 AS BIGINT) AS partition_pruned,
                   CAST(1 AS BIGINT) AS partition_col_not_in_files
            FROM orders WHERE o_orderpriority = '1-URGENT'
            GROUP BY o_orderstatus
            ORDER BY o_orderstatus
        """)
def q_l7(spark: SparkSession, sf: str) -> DataFrame:
    """Hive-style partitioned layout + partition PRUNING gate: orders
    written ``partitionBy(o_orderpriority)`` (directory-per-value), read
    back with a single-partition predicate.  At 100 TB this is the
    difference between scanning one directory and scanning the lake:
    pruning happens at PLANNING time from directory names -- zero data
    files of other partitions are even listed into the scan.  Gate bits
    from the executed plan: (a) the scan carries a PartitionFilters
    entry binding o_orderpriority (planner-level pruning engaged), and
    (b) ReadSchema does NOT contain the partition column (it lives in
    directory names, not in data files -- the layout actually moved it
    out of the row payload).  The aggregate off the pruned read is
    value-matched by the oracle from the raw table."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.plans.inspect import executed_plan, scan_schemas

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    tmp = _scratch_dir("l7_partitioned_")
    try:
        o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
        back = spark.read.parquet(tmp)
        pruned = back.where(F.col("o_orderpriority") == "1-URGENT")
        plan = executed_plan(pruned)
        pf = [
            ln.split("PartitionFilters:", 1)[1]
            for ln in plan.splitlines()
            if "PartitionFilters:" in ln
        ]
        pruned_gate = 1 if any("o_orderpriority" in f and "1-URGENT" in f for f in pf) else 0
        schema_gate = 1 if all("o_orderpriority" not in s for s in scan_schemas(pruned)) else 0
        agg = pruned.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            dec_sum("o_totalprice", "sum_totalprice"),
        )
        rows = [
            (r["o_orderstatus"], r["n_orders"], r["sum_totalprice"], pruned_gate, schema_gate)
            for r in agg.collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "o_orderstatus string, n_orders long, sum_totalprice double, "
        "partition_pruned long, partition_col_not_in_files long",
    ).orderBy("o_orderstatus")


@query("v2_jsonl_roundtrip", oracle=f"""
            WITH c AS (
              SELECT concat_ws('|', CAST(doc_id AS VARCHAR),
                               COALESCE(text, '__null__'),
                               COALESCE(lang, '__null__'),
                               COALESCE(source, '__null__'),
                               CAST(n_chars AS VARCHAR)) AS canon
              FROM documents)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v2", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v2", 1)}) AS BIGINT) AS fp_lane1
            FROM c
        """)
def q_v2(spark: SparkSession, sf: str) -> DataFrame:
    """JSONL corpus round trip (io.write_jsonl / read_jsonl): documents ->
    sharded newline-JSON -> explicit-schema read-back, fingerprinted with
    l2's order-invariant XOR-folded md5 lanes.  The oracle computes the
    SAME fingerprint from the parquet source, so a hash match proves the
    JSONL sink+source preserved every row and byte of the corpus -- the
    training-data interchange format, verified, not assumed."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.io import read_jsonl, write_jsonl

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("v2_jsonl_")
    try:
        write_jsonl(docs, tmp, n_files=8)
        back = read_jsonl(
            spark, tmp, schema="doc_id long, text string, lang string, source string, n_chars long"
        ).select("doc_id", "text", "lang", "source", "n_chars")
        canon = F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("__null__")),
            F.coalesce(F.col("lang"), F.lit("__null__")),
            F.coalesce(F.col("source"), F.lit("__null__")),
            F.col("n_chars").cast("string"),
        )
        lanes = md5_int32_lanes_col(canon, seed="v2", lanes=2)
        out = back.select(lanes[0].alias("l0"), lanes[1].alias("l1")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("l0").cast("long").alias("fp_lane0"),
            F.bit_xor("l1").cast("long").alias("fp_lane1"),
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# v4: identical fingerprint recipe to v2 (different seed) -- the
# oracle never sees the CSV, proving the round trip lossless.
@query("v4_csv_roundtrip", bench=True, oracle=f"""
            WITH c AS (
              SELECT concat_ws('|', CAST(doc_id AS VARCHAR),
                               COALESCE(text, '__null__'),
                               COALESCE(lang, '__null__'),
                               COALESCE(source, '__null__'),
                               CAST(n_chars AS VARCHAR)) AS canon
              FROM documents)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v4", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v4", 1)}) AS BIGINT) AS fp_lane1
            FROM c
        """)
def q_v4(spark: SparkSession, sf: str) -> DataFrame:
    """CSV corpus round trip (io.write_csv / read_csv): documents ->
    quoted RFC-4180 CSV (quoteAll, quote-doubling escape, out-of-band
    null token, multiLine read) -> explicit-schema read-back,
    fingerprinted with v2's order-invariant XOR-folded md5 lanes.  The
    oracle computes the SAME fingerprint from the parquet source, so a
    hash match proves the CSV sink+source preserved every row and byte --
    the spreadsheet-facing interchange format, verified like v2's JSONL."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.io import read_csv, write_csv

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("v4_csv_")
    try:
        write_csv(docs, tmp, n_files=8)
        back = read_csv(
            spark, tmp, schema="doc_id long, text string, lang string, source string, n_chars long"
        ).select("doc_id", "text", "lang", "source", "n_chars")
        canon = F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("__null__")),
            F.coalesce(F.col("lang"), F.lit("__null__")),
            F.coalesce(F.col("source"), F.lit("__null__")),
            F.col("n_chars").cast("string"),
        )
        lanes = md5_int32_lanes_col(canon, seed="v4", lanes=2)
        out = back.select(lanes[0].alias("l0"), lanes[1].alias("l1")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("l0").cast("long").alias("fp_lane0"),
            F.bit_xor("l1").cast("long").alias("fp_lane1"),
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# v6: identical source-side fingerprint as v2/v4 (seed v6) -- a
# match proves the ORC sink+source lossless.
@query("v6_orc_roundtrip", bench=True, oracle=f"""
            WITH c AS (
              SELECT concat_ws('|', CAST(doc_id AS VARCHAR),
                               COALESCE(text, '__null__'),
                               COALESCE(lang, '__null__'),
                               COALESCE(source, '__null__'),
                               CAST(n_chars AS VARCHAR)) AS canon
              FROM documents)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v6", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v6", 1)}) AS BIGINT) AS fp_lane1
            FROM c
        """)
def q_v6(spark: SparkSession, sf: str) -> DataFrame:
    """ORC corpus round trip (io.write_orc / read_orc): documents ->
    sharded zlib ORC -> read-back, fingerprinted with v2/v4's
    order-invariant XOR-folded md5 lanes.  The oracle computes the SAME
    fingerprint from the parquet source, so a hash match proves the ORC
    sink+source preserved every row -- closing the interchange matrix
    (JSONL v2, CSV v4, ORC v6, hive-partitioned parquet v5) with the
    Hive-ecosystem columnar format."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.io import read_orc, write_orc

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("v6_orc_")
    try:
        write_orc(docs, tmp, n_files=8)
        back = read_orc(
            spark, tmp, schema="doc_id long, text string, lang string, source string, n_chars long"
        ).select("doc_id", "text", "lang", "source", "n_chars")
        canon = F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("__null__")),
            F.coalesce(F.col("lang"), F.lit("__null__")),
            F.coalesce(F.col("source"), F.lit("__null__")),
            F.col("n_chars").cast("string"),
        )
        lanes = md5_int32_lanes_col(canon, seed="v6", lanes=2)
        out = back.select(lanes[0].alias("l0"), lanes[1].alias("l1")).agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.bit_xor("l0").cast("long").alias("fp_lane0"),
            F.bit_xor("l1").cast("long").alias("fp_lane1"),
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# v5: the oracle recomputes the manifest (shard assignment + per-
# shard fingerprints) from the SOURCE alone -- a match proves the
# hash-sharded export deterministic and lossless.
@query("v5_export_manifest", bench=True, oracle=f"""
            WITH c AS (
              SELECT ({md5_int32_sql("CAST(doc_id AS VARCHAR)", "v5")}) % 8 AS shard,
                     concat_ws('|', CAST(doc_id AS VARCHAR),
                               COALESCE(text, '__null__'),
                               COALESCE(lang, '__null__'),
                               COALESCE(source, '__null__'),
                               CAST(n_chars AS VARCHAR)) AS canon
              FROM documents)
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v5", 0)}) AS BIGINT) AS fp_lane0,
                   CAST(bit_xor({md5_int32_lane_sql("canon", "v5", 1)}) AS BIGINT) AS fp_lane1
            FROM c GROUP BY shard ORDER BY shard
        """)
def q_v5(spark: SparkSession, sf: str) -> DataFrame:
    """Sharded training-data export WITH a verifiable manifest
    (io.export_sharded): documents hash-sharded 8 ways on
    pmod(md5(doc_id)) -- a pure function of the data, never rand() or
    partition index -- written hive-partitioned, read back, and
    manifested (per shard: row count, XOR-md5 fingerprint lanes).  The
    oracle recomputes the IDENTICAL manifest from the parquet source
    alone, so a hash match proves (a) the shard assignment is
    deterministic and (b) the export wrote and reads back every row --
    the ship-to-training handoff, audited."""
    import shutil

    from youtubeanalyzerproject_big_data__spark.io import export_sharded

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("v5_export_")
    try:
        staged = docs.withColumn(
            "shard", F.pmod(md5_int32(F.col("doc_id").cast("string"), seed="v5"), F.lit(8))
        )
        export_sharded(staged, "shard", tmp)
        back = spark.read.parquet(tmp).select("shard", "doc_id", "text", "lang", "source", "n_chars")
        canon = F.concat_ws(
            "|",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("__null__")),
            F.coalesce(F.col("lang"), F.lit("__null__")),
            F.coalesce(F.col("source"), F.lit("__null__")),
            F.col("n_chars").cast("string"),
        )
        lanes = md5_int32_lanes_col(canon, seed="v5", lanes=2)
        out = (
            back.select(F.col("shard").cast("long").alias("shard"), lanes[0].alias("l0"), lanes[1].alias("l1"))
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.bit_xor("l0").cast("long").alias("fp_lane0"),
                F.bit_xor("l1").cast("long").alias("fp_lane1"),
            )
            .orderBy("shard")
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


# v3: values from the raw table (the evolved batch is the odd
# doc_ids); schema/null gates are literal 1s computed engine-side
# from the merged read.
@query("v3_schema_evolution", bench=True, stdout=True, oracle="""
            SELECT lang,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_evolved,
                   CAST(COALESCE(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END), 0) AS BIGINT)
                       AS sum_chars_evolved,
                   CAST(1 AS BIGINT) AS merged_schema_complete,
                   CAST(1 AS BIGINT) AS nulls_exactly_on_old_batch
            FROM documents
            GROUP BY lang
            ORDER BY lang
        """)
def q_v3(spark: SparkSession, sf: str) -> DataFrame:
    """Schema EVOLUTION read (mergeSchema): the lakehouse append pattern
    where a later batch adds columns.  Even-doc_id documents written with
    the original 3-column schema, odd with the evolved 5-column one;
    ``mergeSchema=true`` reconciles footers at read time -- old rows
    surface NULL for the added columns and no rewrite of historical data
    ever happens (the 100 TB schema-change story: evolution is a metadata
    act, not a backfill job).  Gates: the merged read carries all 5
    columns; added-column values are non-null EXACTLY on the evolved
    batch.  Per-lang aggregate off the merged read (sentinel-filled, per
    repo invariant) is value-matched from the raw table."""
    import shutil

    docs = load_table(spark, sf, "documents")
    tmp = _scratch_dir("v3_evolve_")
    try:
        even, odd = F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1
        docs.where(even).select("doc_id", "text", "lang").write.parquet(f"{tmp}/b1")
        docs.where(odd).select("doc_id", "text", "lang", "source", "n_chars").write.parquet(
            f"{tmp}/b2"
        )
        back = spark.read.option("mergeSchema", "true").parquet(f"{tmp}/b1", f"{tmp}/b2")
        has_all = 1 if set(back.columns) >= {"doc_id", "text", "lang", "source", "n_chars"} else 0
        is_old = F.col("doc_id") % 2 == 0
        mismatch = (is_old != F.col("source").isNull()) | (is_old != F.col("n_chars").isNull())
        nulls_exact = back.agg(
            F.sum(F.when(mismatch, 1).otherwise(0)).alias("bad")
        ).collect()[0]["bad"]
        null_gate = 1 if (nulls_exact or 0) == 0 else 0
        agg = back.groupBy("lang").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("source").cast("long").alias("n_evolved"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("sum_chars_evolved"),
        )
        rows = [
            (r["lang"], r["n_docs"], r["n_evolved"], r["sum_chars_evolved"], has_all, null_gate)
            for r in agg.collect()
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "lang string, n_docs long, n_evolved long, sum_chars_evolved long, "
        "merged_schema_complete long, nulls_exactly_on_old_batch long",
    ).orderBy("lang")


@query("u6_partition_refresh", bench=True, oracle="""
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro,
                   MIN(value) AS min_v,
                   MAX(value) AS max_v
            FROM events GROUP BY 1 ORDER BY day
        """)
def q_u6(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-incremental MV refresh (merge.refresh_partitions): a
    daily event-stats view maintained by recomputing ONLY the days a
    batch touches (broadcast semi-join prune -- partition pruning on a
    partitioned table) while untouched days pass through from state via a
    broadcast anti join.  The complement of i1's pure merge: this is the
    REPLACE-a-partition pattern late/corrected data needs.  Oracle
    recomputes from the full table -- equality is the refresh proof."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import agg_state, refresh_partitions

    _utc(spark)
    e = load_events(spark, sf).select(F.date_trunc("day", F.col("ts")).alias("day"), "event_id", "value")
    old = e.where(F.col("event_id") % 10 != 0)
    batch = e.where(F.col("event_id") % 10 == 0)
    state = agg_state(old, ["day"], "value")
    refreshed = refresh_partitions(state, e, batch, "day", lambda src: agg_state(src, ["day"], "value"))
    return refreshed.orderBy("day")


@query("u7_pit_lookup", bench=True, stdout=True, oracle="""
            WITH e AS (SELECT user_id, event_type AS state, epoch_ns(ts) // 1000 AS t_us, event_id
                       FROM events),
            l AS (SELECT *, LAG(state) OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS prev FROM e),
            k AS (SELECT * FROM l WHERE prev IS NULL OR state != prev),
            v AS (SELECT user_id, state,
                         CAST(t_us AS BIGINT) AS valid_from_us,
                         CAST(COALESCE(LEAD(t_us) OVER (PARTITION BY user_id ORDER BY t_us, event_id),
                                       253402214400000000) AS BIGINT) AS valid_to_us,
                         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t_us, event_id) AS BIGINT) AS version
                  FROM k)
            SELECT o.o_orderkey,
                   COALESCE(v.state, '__none__') AS state,
                   CAST(COALESCE(v.version, -1) AS BIGINT) AS version
            FROM orders o LEFT JOIN v
              ON o.o_custkey = v.user_id
             AND epoch_ns(o.o_orderdate) // 1000 >= v.valid_from_us
             AND epoch_ns(o.o_orderdate) // 1000 < v.valid_to_us
            ORDER BY o.o_orderkey
        """)
def q_u7(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time dimension lookup (merge.pit_lookup): every order is
    enriched with the customer's SCD2 event-type state (u3's history,
    built from the event feed) valid AT THE ORDER DATE -- the leakage-free
    feature join (an order must never see a state change from its future).
    LEFT equi-join on the key with the interval test residual; validity
    intervals partition each key's timeline, so no fact can match twice.
    Orders before a user's first event (or for users with no events) get
    the '__none__' / -1 sentinels.  Oracle replays the u3 history CTE plus
    the same interval join."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import pit_lookup

    _utc(spark)
    hist = merge_scd2(load_events(spark, sf), "user_id", "event_type", "ts", "event_id")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    out = pit_lookup(
        o, hist, "o_custkey", F.unix_micros(F.col("o_orderdate").cast("timestamp")), "user_id"
    )
    return out.select("o_orderkey", "state", "version").orderBy("o_orderkey")


# u7: the u3 history CTE + as-of interval join; intervals partition
# each key's timeline so the LEFT join cannot duplicate facts.
# u8: the survivor-fingerprint hash proves the purge removed exactly
# the cascade closure (deleted customers -> their orders -> those
# orders' lineitems) and nothing else.
@query("u8_forget_cascade", bench=True, stdout=True, oracle=f"""
            WITH del AS (
              SELECT c_custkey FROM customer
              WHERE ({md5_int32_sql("CAST(c_custkey AS VARCHAR)", "forget")}) % 1000 < 5),
            del_o AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del)),
            sc AS (SELECT {md5_int32_sql("CAST(c_custkey AS VARCHAR)", "u8fp")} AS h
                   FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM del)),
            so AS (SELECT {md5_int32_sql("CAST(o_orderkey AS VARCHAR)", "u8fp")} AS h
                   FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM del)),
            sl AS (SELECT {md5_int32_sql("concat(CAST(l_orderkey AS VARCHAR), '#', CAST(l_linenumber AS VARCHAR))", "u8fp")} AS h
                   FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_o))
            SELECT tbl, n_before, CAST(n_before - n_after AS BIGINT) AS n_purged, n_after, survivor_fp
            FROM (
              SELECT 'customer' AS tbl,
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_before,
                     CAST(COUNT(*) AS BIGINT) AS n_after,
                     CAST(COALESCE(bit_xor(h), 0) AS BIGINT) AS survivor_fp FROM sc
              UNION ALL
              SELECT 'orders',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
                     CAST(COUNT(*) AS BIGINT),
                     CAST(COALESCE(bit_xor(h), 0) AS BIGINT) FROM so
              UNION ALL
              SELECT 'lineitem',
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
                     CAST(COUNT(*) AS BIGINT),
                     CAST(COALESCE(bit_xor(h), 0) AS BIGINT) FROM sl)
            ORDER BY tbl
        """)
def q_u8(spark: SparkSession, sf: str) -> DataFrame:
    """Right-to-be-forgotten purge CASCADE + audit: a deterministic ~0.5%
    of customers (md5 % 1000 < 5 -- the deletion-request queue) is purged
    from customer, cascaded to their orders, and cascaded again to those
    orders' lineitems.  Per table: before/purged/after counts and an
    order-invariant XOR-md5 fingerprint of the SURVIVING keys, so the
    oracle hash proves the purge removed exactly the cascade closure and
    nothing else -- the audit artifact a deletion pipeline must produce.
    Scale: the deletion keyset is request-queue-sized -> broadcast
    anti/semi joins against customer and orders; the order-level cascade
    set is fact-sized (0.5% of orders), so lineitem purges through a
    SHUFFLE anti-join, never a broadcast."""
    c = load_table(spark, sf, "customer").select("c_custkey")
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_linenumber")
    deleted = c.where(
        md5_int32(F.col("c_custkey").cast("string"), seed="forget") % 1000 < 5
    ).select("c_custkey")
    surv_c = c.join(F.broadcast(deleted), "c_custkey", "left_anti")
    surv_o = o.join(F.broadcast(deleted), o.o_custkey == deleted.c_custkey, "left_anti")
    del_o = o.join(F.broadcast(deleted), o.o_custkey == deleted.c_custkey, "left_semi").select(
        "o_orderkey"
    )
    surv_li = li.join(del_o, li.l_orderkey == del_o.o_orderkey, "left_anti")

    def _row(base: DataFrame, surv: DataFrame, key, tbl: str) -> DataFrame:
        b = base.agg(F.count(F.lit(1)).cast("long").alias("n_before"))
        s = surv.select(md5_int32(key, seed="u8fp").alias("h")).agg(
            F.count(F.lit(1)).cast("long").alias("n_after"),
            F.coalesce(F.bit_xor("h"), F.lit(0)).cast("long").alias("survivor_fp"),
        )
        return b.crossJoin(s).select(  # two 1-row totals: the sanctioned crossJoin shape
            F.lit(tbl).alias("tbl"),
            "n_before",
            (F.col("n_before") - F.col("n_after")).cast("long").alias("n_purged"),
            "n_after",
            "survivor_fp",
        )

    li_key = F.concat_ws("#", F.col("l_orderkey").cast("string"), F.col("l_linenumber").cast("string"))
    return (
        _row(c, surv_c, F.col("c_custkey").cast("string"), "customer")
        .unionByName(_row(o, surv_o, F.col("o_orderkey").cast("string"), "orders"))
        .unionByName(_row(li, surv_li, li_key, "lineitem"))
        .orderBy("tbl")
    )


# i3: the full-table recompute -- equality with the merged
# incremental state IS the KMV mergeability proof (same body as
# se8's oracle minus the streaming drive).
@query("i3_incremental_kmv", bench=True, oracle=f"""
            WITH h AS (
              SELECT date_trunc('hour', ts) AS hour,
                     {md5_int32_sql("CAST(user_id AS VARCHAR)", "kmv")} AS hv
              FROM events),
            d AS (SELECT DISTINCT hour, hv FROM h),
            r AS (SELECT hour, hv,
                         row_number() OVER (PARTITION BY hour ORDER BY hv) AS rn,
                         COUNT(*) OVER (PARTITION BY hour) AS nd
                  FROM d)
            SELECT hour,
                   CAST(LEAST(nd, 64) AS BIGINT) AS n_tracked,
                   CAST(MAX(CASE WHEN rn = LEAST(nd, 64) THEN hv END) AS BIGINT) AS kth_min,
                   CAST(CASE WHEN nd >= 64 AND MAX(CASE WHEN rn = 64 THEN hv END) > 0
                             THEN (63 * 4294967296) // MAX(CASE WHEN rn = 64 THEN hv END)
                             ELSE LEAST(nd, 64) END AS BIGINT) AS est_distinct
            FROM r GROUP BY hour, nd ORDER BY hour
        """)
def q_i3(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental distinct-count state maintenance (merge.kmv_state /
    merge_kmv_state / kmv_estimate): per-hour KMV summaries for the
    event_id % 10 != 0 history fold in the % 10 == 0 batch via the
    2k-rows-per-group merge; the oracle recomputes the estimate from the
    FULL table -- equality IS the mergeability proof (i1/i2's argument
    applied to cardinality; se8 is the streaming twin, same integer
    estimate formula)."""
    from youtubeanalyzerproject_big_data__spark.operators.merge import (
        kmv_estimate,
        kmv_state,
        merge_kmv_state,
    )

    _utc(spark)
    k = 64
    e = load_events(spark, sf).select(
        "event_id",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        md5_int32(F.col("user_id").cast("string"), seed="kmv").alias("hv"),
    )
    base = kmv_state(e.where(F.col("event_id") % 10 != 0), ["hour"], "hv", k=k)
    batch = kmv_state(e.where(F.col("event_id") % 10 == 0), ["hour"], "hv", k=k)
    merged = merge_kmv_state(base, batch, ["hour"], k=k)
    return kmv_estimate(merged, ["hour"], k=k).orderBy("hour")


@query("l5_zonemap_skip_report", bench=True, oracle="""
            WITH r1 AS (SELECT o_custkey AS p,
                               row_number() OVER (ORDER BY o_custkey, o_custkey) - 1 AS rn
                        FROM orders),
            z1 AS (SELECT rn // 200 AS z, MIN(p) AS zmin, MAX(p) AS zmax, COUNT(*) AS zn FROM r1 GROUP BY 1),
            s1 AS (SELECT 'custkey_sorted' AS layout,
                          CAST(SUM(zn) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_zones,
                          CAST(SUM(CASE WHEN zmax >= 100 AND zmin <= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_zones_hit,
                          CAST(SUM(CASE WHEN NOT (zmax >= 100 AND zmin <= 200) THEN 1 ELSE 0 END) AS BIGINT) AS n_zones_skipped,
                          (1000000 * SUM(CASE WHEN NOT (zmax >= 100 AND zmin <= 200) THEN 1 ELSE 0 END)) // COUNT(*) AS skip_ppm
                   FROM z1),
            r2 AS (SELECT o_custkey AS p,
                          row_number() OVER (ORDER BY epoch_us(o_orderdate), o_custkey) - 1 AS rn
                   FROM orders),
            z2 AS (SELECT rn // 200 AS z, MIN(p) AS zmin, MAX(p) AS zmax, COUNT(*) AS zn FROM r2 GROUP BY 1),
            s2 AS (SELECT 'date_sorted' AS layout,
                          CAST(SUM(zn) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_zones,
                          CAST(SUM(CASE WHEN zmax >= 100 AND zmin <= 200 THEN 1 ELSE 0 END) AS BIGINT) AS n_zones_hit,
                          CAST(SUM(CASE WHEN NOT (zmax >= 100 AND zmin <= 200) THEN 1 ELSE 0 END) AS BIGINT) AS n_zones_skipped,
                          (1000000 * SUM(CASE WHEN NOT (zmax >= 100 AND zmin <= 200) THEN 1 ELSE 0 END)) // COUNT(*) AS skip_ppm
                   FROM z2)
            SELECT * FROM s1 UNION ALL SELECT * FROM s2 ORDER BY layout
        """)
def q_l5(spark: SparkSession, sf: str) -> DataFrame:
    """Zone-map skip audit (zorder.zonemap_skip_report): the same orders
    table cut into 200-row zones under TWO layouts -- clustered by the
    probe column (o_custkey) vs sorted by time -- probed with
    o_custkey IN [100, 200].  The report quantifies what a clustering
    rewrite buys in skippable zones BEFORE paying for it at 100 TB; the
    custkey layout must skip nearly everything, the time layout nearly
    nothing, and both replay engine-exactly (zones are data-derived
    positions, not physical files)."""
    _utc(spark)
    o = load_table(spark, sf, "orders")
    by_key = zorder_fns.zonemap_skip_report(
        o, F.col("o_custkey"), "o_custkey", 100, 200, rows_per_zone=200
    ).select(F.lit("custkey_sorted").alias("layout"), "*")
    by_time = zorder_fns.zonemap_skip_report(
        # NTZ -> timestamp under the pinned UTC session == DuckDB's epoch_us
        o, F.unix_micros(F.col("o_orderdate").cast("timestamp")), "o_custkey", 100, 200, rows_per_zone=200
    ).select(F.lit("date_sorted").alias("layout"), "*")
    return by_key.unionByName(by_time).orderBy("layout")
