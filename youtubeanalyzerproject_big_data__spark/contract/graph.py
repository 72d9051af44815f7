"""Graph queries over the order<->part graph (g) and label propagation (lp)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.precision import DEC
from youtubeanalyzerproject_big_data__spark.io import load_table
from youtubeanalyzerproject_big_data__spark.operators import aggregates as agg, graph, joins, topk
from youtubeanalyzerproject_big_data__spark.contract import query


def _copurchase_pairs(li: DataFrame) -> DataFrame:
    """Raw part co-purchase pair stream (src < dst, one row per shared
    order, NOT deduped) for the g6/g9/g10 graph operators, which
    canonicalize + distinct internally.  One groupBy(l_orderkey) +
    in-array pair expansion (graph.copurchase_edges) -- the r10 rewrite
    of the former lineitem self-join, which shuffled/broadcast the fact
    table twice and re-materialized every order as a join product before
    the SAME rows reached the operator's distinct.  Pair SET is
    identical: both forms emit exactly the (p < q, co-ordered) pairs."""
    return graph.copurchase_edges(li, "l_orderkey", "l_partkey", distinct=False)


@query("g6_triangle_census", bench=True, stdout=True, oracle="""
            WITH e AS (
              SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
            deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d
                    FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
            o AS (
              SELECT CASE WHEN (d1.d < d2.d) OR (d1.d = d2.d AND e.a < e.b) THEN e.a ELSE e.b END AS u,
                     CASE WHEN (d1.d < d2.d) OR (d1.d = d2.d AND e.a < e.b) THEN e.b ELSE e.a END AS w
              FROM e JOIN deg d1 ON e.a = d1.v JOIN deg d2 ON e.b = d2.v),
            wedges AS (
              SELECT o1.w AS a, o2.w AS b FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.w < o2.w)
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
                   CAST(COUNT(*) AS BIGINT) AS n_wedges,
                   CAST(COUNT(ec.a) AS BIGINT) AS n_triangles
            FROM wedges w LEFT JOIN e ec ON w.a = ec.a AND w.b = ec.b
        """)
def q_g6(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts sharing an
    order).  Degree-ordered orientation caps wedge generation at m^1.5
    despite hot parts -- see operators/graph.triangle_count.  Pair build
    via _copurchase_pairs (one groupBy + expansion, not a self-join)."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    return graph.triangle_count(_copurchase_pairs(li))


@query("g9_adamic_adar", bench=True, stdout=True, oracle="""
            WITH e AS (
              SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
            adj AS (SELECT a AS v, b AS n FROM e UNION ALL SELECT b AS v, a AS n FROM e),
            w AS (SELECT v AS z, CAST(floor(1e6 / ln(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w_micro
                  FROM adj GROUP BY v HAVING COUNT(*) >= 2),
            seeds AS (SELECT DISTINCT l_partkey AS s FROM lineitem WHERE l_partkey % 1000 = 1),
            sadj AS (SELECT s.s, a.n AS z FROM adj a JOIN seeds s ON a.v = s.s),
            cand AS (SELECT sa.s, a2.n AS y, w.w_micro
                     FROM sadj sa JOIN adj a2 ON sa.z = a2.v JOIN w ON w.z = sa.z
                     WHERE a2.n != sa.s),
            sc AS (SELECT s, y, CAST(COUNT(*) AS BIGINT) AS n_common, CAST(SUM(w_micro) AS BIGINT) AS aa_micro
                   FROM cand GROUP BY s, y),
            nl AS (SELECT sc.* FROM sc LEFT JOIN adj ON adj.v = sc.s AND adj.n = sc.y WHERE adj.v IS NULL),
            rk AS (SELECT s, y, n_common, aa_micro,
                          CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY aa_micro DESC, y) AS BIGINT) AS rank
                   FROM nl)
            SELECT s AS src, y AS dst, rank, n_common, aa_micro, (CAST(aa_micro AS BIGINT) / 1000000.0) AS aa_score
            FROM rk WHERE rank <= 5 ORDER BY src, rank
        """)
def q_g9(spark: SparkSession, sf: str) -> DataFrame:
    """Adamic-Adar link prediction on the part co-purchase graph
    (graph.adamic_adar): top-5 new-link candidates for each seed part
    (partkey % 1000 == 1), seeded 2-hop expansion -- never a global wedge
    enumeration (1.5e8 wedges already at sf0.1).  Pair build via
    _copurchase_pairs (one groupBy + expansion, not a self-join)."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    seeds = li.select(F.col("l_partkey").alias("seed")).where(F.col("l_partkey") % 1000 == 1).distinct()
    return graph.adamic_adar(_copurchase_pairs(li), seeds, k=5)


@query("g10_clustering_coefficient", bench=True, stdout=True, oracle="""
            WITH e AS (
              SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
            deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d
                    FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
            tri AS (
              SELECT e1.a AS a, e1.b AS b, e2.b AS c
              FROM e e1 JOIN e e2 ON e1.b = e2.a
                        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
            pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_triangles
                   FROM (SELECT a AS v FROM tri UNION ALL SELECT b AS v FROM tri UNION ALL SELECT c AS v FROM tri)
                   GROUP BY v)
            SELECT pv.v, deg.d, pv.n_triangles,
                   CAST(FLOOR(2000000 * pv.n_triangles / (deg.d * (deg.d - 1))) AS BIGINT) AS coef_micro,
                   (CAST(FLOOR(2000000 * pv.n_triangles / (deg.d * (deg.d - 1))) AS BIGINT) / 1000000.0) AS clustering_coef
            FROM pv JOIN deg ON pv.v = deg.v
            WHERE deg.d >= 2
            ORDER BY pv.n_triangles DESC, pv.v LIMIT 20
        """)
def q_g10(spark: SparkSession, sf: str) -> DataFrame:
    """Local clustering coefficients on the part co-purchase graph
    (graph.clustering_coefficient_topk): g6's oriented-intersection engine
    with per-corner triangle attribution; integer-micro coefficients,
    top-20 by (triangles desc, v).  Pair build via _copurchase_pairs
    (one groupBy + expansion, not a self-join)."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    return graph.clustering_coefficient_topk(_copurchase_pairs(li), k=20)


# Triangle replay: identical degree-ordered orientation; the LEFT
# JOIN marker counts wedges and closed wedges in one pass, like the
# engine's single wedge-scan aggregate.
@query("g11_degree_assortativity", oracle="""
            WITH e AS (
              SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
            deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d
                    FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v),
            ed AS (
              SELECT da.d AS ja, db.d AS jb
              FROM e JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v),
            s AS (
              SELECT CAST(COUNT(*) AS HUGEINT) AS m,
                     CAST(SUM(CAST(ja AS HUGEINT) * jb) AS HUGEINT) AS sjk,
                     CAST(SUM(CAST(ja AS HUGEINT) + jb) AS HUGEINT) AS s2,
                     CAST(SUM(CAST(ja AS HUGEINT) * ja + CAST(jb AS HUGEINT) * jb) AS HUGEINT) AS h2
              FROM ed)
            SELECT CAST(m AS BIGINT) AS n_edges,
                   CAST(sjk AS BIGINT) AS sum_jk,
                   CAST(s2 AS BIGINT) AS sum_j_plus_k,
                   CAST(h2 AS BIGINT) AS sum_j2_plus_k2,
                   CAST(CASE WHEN 2 * m * h2 - s2 * s2 = 0 THEN 0
                        ELSE FLOOR(1e6 * (CAST(4 * m * sjk - s2 * s2 AS DOUBLE)
                                          / CAST(2 * m * h2 - s2 * s2 AS DOUBLE))) END AS BIGINT) AS assortativity_micro,
                   (CAST(CASE WHEN 2 * m * h2 - s2 * s2 = 0 THEN 0
                        ELSE FLOOR(1e6 * (CAST(4 * m * sjk - s2 * s2 AS DOUBLE)
                                          / CAST(2 * m * h2 - s2 * s2 AS DOUBLE))) END AS BIGINT) / 1000000.0) AS assortativity
            FROM s
        """)
def q_g11(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph
    (graph.degree_assortativity): exact-int64 moment sums, one final
    arbitrary-precision division replayed by the oracle with HUGEINTs."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    pairs = x.join(
        y, (F.col("x.l_orderkey") == F.col("y.l_orderkey")) & (F.col("x.l_partkey") < F.col("y.l_partkey"))
    ).select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
    return graph.degree_assortativity(pairs)


@query("g2_part_indegree_top20", bench=True, oracle="""
            WITH d AS (SELECT l_partkey, COUNT(*) AS in_degree FROM lineitem GROUP BY l_partkey)
            SELECT p_partkey, p_name, in_degree FROM d JOIN part ON l_partkey = p_partkey
            ORDER BY in_degree DESC, p_partkey LIMIT 20
        """)
def q_g2(spark: SparkSession, sf: str) -> DataFrame:
    """G3-style in-degree + broadcast name join, top 20 (YoutubeNetworkAgg_Final.py:131-139)."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part").select("p_partkey", "p_name")
    deg = li.groupBy(F.col("l_partkey").alias("p_partkey")).agg(F.count(F.lit(1)).alias("in_degree"))
    out = joins.enrich_broadcast(deg, p, "p_partkey")
    return topk.top_k(out, "in_degree", 20, tiebreak="p_partkey").select("p_partkey", "p_name", "in_degree")


@query("g3_part_indegree_distribution", oracle="""
            WITH d AS (SELECT l_partkey, COUNT(*) AS degree FROM lineitem GROUP BY l_partkey)
            SELECT degree, COUNT(*) AS num_keys FROM d GROUP BY degree
        """)
def q_g3(spark: SparkSession, sf: str) -> DataFrame:
    """In-degree distribution (degreestat analog, run_netagg_job.py:32-43)."""
    return agg.frequency_distribution(load_table(spark, sf, "lineitem"), "l_partkey")


# BFS replay: one (join, EXCEPT, union) triple per hop, unrolled.
def _encode_part_ids(parts: list[str]) -> list[int]:
    """Contract part ids ("P<k>") to the int64 loop encoding (order 2k,
    part 2k+1) of the _prepared_pagerank_edges / q_g8 / q_g14 graphs."""
    return [2 * int(p[1:]) + 1 for p in parts]


def _decode_op_id(col):
    """int64 order/part vertex id (2k / 2k+1) back to the contract string
    ("O%d" / "P%d") -- the inverse of the loop encoding."""
    return F.concat(
        F.when(col % 2 == 0, F.lit("O")).otherwise(F.lit("P")),
        F.shiftright(col, 1).cast("string"),
    )


def _seed_sql(seeds: list[str]) -> str:
    """Seed ids as a DuckDB list body: ['P1', 'P2'] -> "'P1', 'P2'"."""
    return ", ".join(f"'{s}'" for s in seeds)


G8_SEEDS = ["P1", "P2"]


@query("g8_khop_reachability", bench=True, stdout=True, oracle=f"""
            WITH f AS (SELECT 'O' || CAST(l_orderkey AS VARCHAR) AS src,
                              'P' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
            e AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
            d0 AS (SELECT unnest([{_seed_sql(G8_SEEDS)}]) AS id),
            r1 AS (SELECT DISTINCT e.dst AS id FROM e JOIN d0 ON e.src = d0.id),
            n1 AS (SELECT id FROM r1 EXCEPT SELECT id FROM d0),
            v1 AS (SELECT id FROM d0 UNION SELECT id FROM n1),
            r2 AS (SELECT DISTINCT e.dst AS id FROM e JOIN n1 ON e.src = n1.id),
            n2 AS (SELECT id FROM r2 EXCEPT SELECT id FROM v1),
            v2 AS (SELECT id FROM v1 UNION SELECT id FROM n2),
            r3 AS (SELECT DISTINCT e.dst AS id FROM e JOIN n2 ON e.src = n2.id),
            n3 AS (SELECT id FROM r3 EXCEPT SELECT id FROM v2)
            SELECT id, CAST(0 AS BIGINT) AS hops FROM d0
            UNION ALL SELECT id, 1 FROM n1
            UNION ALL SELECT id, 2 FROM n2
            UNION ALL SELECT id, 3 FROM n3
            ORDER BY id
        """)
def q_g8(spark: SparkSession, sf: str) -> DataFrame:
    """3-hop BFS reachability from seed parts {P1, P2} over the
    UNDIRECTED order<->part graph (graph.k_hop_distances): exact min-hop
    distances, frontier-driven expansion, all-integer state.  Oracle:
    3 unrolled frontier CTEs (join - EXCEPT - union per hop).

    INTEGER vertex encoding (r11, guide par.2.3 narrower types): the loop is
    order-free (distinct + anti-join + min-hop set semantics only), so the
    "O<k>"/"P<k>" string ids -- 2-10 bytes + offsets on EVERY loop shuffle
    row -- ride as int64 (order 2k, part 2k+1, disjoint and reversible)
    and decode back to the contract strings only at the output projection.
    The final ORDER BY runs on the decoded strings, so ordering and every
    result byte are unchanged (oracle untouched)."""
    li = load_table(spark, sf, "lineitem")
    fwd = li.select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    res = graph.k_hop_distances(edges, _encode_part_ids(G8_SEEDS), max_hops=3)
    return res.select(_decode_op_id(F.col("id")).alias("id"), "hops").orderBy("id")


# LPA replay: per round, neighbor-label counts + ROW_NUMBER argmax
# (count desc, label asc) + isolated-vertex carry-through.
@query("lp1_label_propagation", bench=True, stdout=True, oracle="""
            WITH f AS (SELECT 'O' || CAST(l_orderkey AS VARCHAR) AS src,
                              'P' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem),
            e AS (SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f),
            v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
            l0 AS (SELECT id, id AS label FROM v),
            c1 AS (SELECT e.dst AS id, l.label, COUNT(*) AS c
                   FROM e JOIN l0 l ON e.src = l.id GROUP BY e.dst, l.label),
            p1 AS (SELECT id, label FROM
                     (SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn FROM c1)
                   WHERE rn = 1),
            l1 AS (SELECT l0.id, COALESCE(p1.label, l0.label) AS label FROM l0 LEFT JOIN p1 USING (id)),
            c2 AS (SELECT e.dst AS id, l.label, COUNT(*) AS c
                   FROM e JOIN l1 l ON e.src = l.id GROUP BY e.dst, l.label),
            p2 AS (SELECT id, label FROM
                     (SELECT id, label, ROW_NUMBER() OVER (PARTITION BY id ORDER BY c DESC, label) AS rn FROM c2)
                   WHERE rn = 1),
            l2 AS (SELECT l1.id, COALESCE(p2.label, l1.label) AS label FROM l1 LEFT JOIN p2 USING (id))
            SELECT id, label FROM l2 ORDER BY id
        """)
def q_lp1(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic synchronous label propagation, 2 rounds, over the
    undirected order<->part graph (graph.label_propagation): most-frequent
    neighbor label, min-label ties -- the GraphFrames labelPropagation
    analog with an oracle-replayable trajectory."""
    li = load_table(spark, sf, "lineitem")
    fwd = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("dst"),
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return graph.label_propagation(edges, max_iter=2).orderBy("id")


_PAGERANK_EDGE_HANDLES: dict[tuple, DataFrame] = {}


def _prepared_pagerank_edges(spark: SparkSession, sf: str, kind: str) -> DataFrame:
    """Session-scoped memo of the pagerank-family weighted edge table
    (graph.prepare_weighted_edges).  g4 ('fwd'), g5 and g7 ('cyclic') all
    rank over the same order<->part graph; without the memo a bench/serve
    session rebuilds edges -> repartition -> weight -> cache once per
    variant (3x per round -- VERDICT r5 item 6).  The handle is a
    deliberately long-lived session cache (the one exception to the
    pin-then-unpersist operator rule): keyed by (applicationId, sf, kind),
    with stale keys -- other sessions or sf dirs -- evicted and unpersisted
    on miss, so at most one graph's two handles are ever live."""
    key = (spark.sparkContext.applicationId, sf, kind)
    handle = _PAGERANK_EDGE_HANDLES.get(key)
    if handle is not None:
        try:
            lvl = handle.storageLevel
            # is_cached stays True after spark.catalog.clearCache(), but the
            # storage level collapses to NONE -- that is the honest signal
            if lvl.useMemory or lvl.useDisk:
                return handle
        except Exception:
            pass
        # a clearCache() elsewhere dropped the cache behind the memo -- the
        # handle would silently recompute per iteration; rebuild instead
        _PAGERANK_EDGE_HANDLES.pop(key, None)
    for k in [k for k in _PAGERANK_EDGE_HANDLES if k[0] != key[0] or k[1] != key[1]]:
        stale = _PAGERANK_EDGE_HANDLES.pop(k)
        try:
            stale.unpersist()
        except Exception:
            pass  # session already stopped; nothing to release
    li = load_table(spark, sf, "lineitem")
    # INTEGER vertex encoding (r11, the g8/g14 scheme): order 2k, part
    # 2k+1 ride every loop exchange as int64 instead of "O%d"/"P%d"
    # strings.  The rank loops are id-order-free (joins + sums); the only
    # order-sensitive step is the callers' final top-k tiebreak, which
    # runs on the DECODED strings (_decode_op_id applied BEFORE
    # top_influencers), so results are byte-identical and the oracles are
    # untouched.
    fwd = li.select(
        (F.col("l_orderkey") * 2).alias("src"), (F.col("l_partkey") * 2 + 1).alias("dst")
    )
    pairs = fwd
    if kind == "cyclic":
        pairs = fwd.unionAll(
            li.select(
                (F.col("l_partkey") * 2 + 1).alias("src"), (F.col("l_orderkey") * 2).alias("dst")
            )
        )
    handle = graph.prepare_weighted_edges(graph.edges_from_pairs(pairs, "src", "dst"))
    _PAGERANK_EDGE_HANDLES[key] = handle
    return handle


def _pagerank_oracle(edges_sql: str, reset: float = 0.15, max_iter: int = 10, k: int = 100) -> str:
    """DuckDB replay of graph.pagerank's integer-quantized iterations.

    Both engines compute, per edge and iteration, the IDENTICAL IEEE double
    rank*weight*scale (multiplication is deterministic given identical
    inputs; only summation order is not), quantize it with round -> int64,
    and sum integers -- exact in any order.  So the unrolled CTEs below are
    bit-for-bit the engine's arithmetic, and the final ROUND(...,6) matches
    without tolerance.  Literals go through repr() so the oracle parses the
    exact doubles the Spark plan carries.
    """
    r = f"CAST({reset!r} AS DOUBLE)"
    d = f"CAST({1.0 - reset!r} AS DOUBLE)"
    s = f"CAST({int(graph.CONTRIB_SCALE)} AS DOUBLE)"
    ctes = [
        f"edges AS ({edges_sql})",
        "deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY src)",
        "w AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / deg.dg AS wt FROM edges e JOIN deg ON e.src = deg.src)",
        # iteration 1: every rank is the constant 1.0 -> contribution = wt
        f"r1 AS (SELECT dst AS id, {r} + {d} * (SUM(CAST(round(wt * {s}) AS BIGINT)) / {s}) AS rank FROM w GROUP BY dst)",
    ]
    for i in range(2, max_iter + 1):
        # absent src ranks coalesce to reset (a vertex with no in-edges
        # settles there after iteration 1) -- mirrors the engine loop.
        ctes.append(
            f"r{i} AS (SELECT w.dst AS id, {r} + {d} * "
            f"(SUM(CAST(round(COALESCE(p.rank, {r}) * w.wt * {s}) AS BIGINT)) / {s}) AS rank "
            f"FROM w LEFT JOIN r{i - 1} p ON w.src = p.id GROUP BY w.dst)"
        )
    last = f"r{max_iter}"
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
allr AS (
  SELECT id, rank FROM {last}
  UNION ALL
  SELECT src AS id, {r} AS rank FROM (SELECT DISTINCT src FROM edges) so
  WHERE src NOT IN (SELECT id FROM {last})
)
SELECT id, ROUND(rank, 6) AS pagerank FROM allr ORDER BY pagerank DESC, id LIMIT {k}
"""


# The order->part edges (g4, g15) and their cyclic order<->part union
# (g5, g7); tools/segmented_oracle.py's twins replay the same SQL.
PAGERANK_EDGES_SQL = (
    "SELECT 'O' || CAST(l_orderkey AS VARCHAR) AS src, 'P' || CAST(l_partkey AS VARCHAR) AS dst FROM lineitem"
)
PAGERANK_CYCLIC_EDGES_SQL = (
    PAGERANK_EDGES_SQL
    + " UNION ALL SELECT 'P' || CAST(l_partkey AS VARCHAR), 'O' || CAST(l_orderkey AS VARCHAR) FROM lineitem"
)


@query("g4_pagerank_top100", bench=True, stdout=True, oracle=_pagerank_oracle(PAGERANK_EDGES_SQL, reset=0.15, max_iter=10, k=100))
def q_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """G4 PageRank (PageRank_Spark_v5.py:102: resetProb 0.15, maxIter 10)
    over the order->part bipartite graph; top-100 (O1).  Oracle: 10 unrolled
    CTE iterations replaying the engine's integer-quantized contribution
    sums (_pagerank_oracle) -- exact match, no tolerance."""
    ranks = graph.pagerank(
        None, reset_prob=0.15, max_iter=10, weighted=_prepared_pagerank_edges(spark, sf, "fwd")
    )
    # decode BEFORE the top-k so the (pagerank desc, id asc) tiebreak runs
    # on the contract strings -- result identical to the string-id build
    return graph.top_influencers(ranks.select(_decode_op_id(F.col("id")).alias("id"), "pagerank"), 100)


@query("g5_pagerank_cyclic_top100", bench=True, stdout=True, oracle=_pagerank_oracle(
    PAGERANK_CYCLIC_EDGES_SQL,
    reset=0.15,
    max_iter=10,
    k=100,
))
def q_pagerank_cyclic(spark: SparkSession, sf: str) -> DataFrame:
    """G4 PageRank on a CYCLIC graph: order<->part edges in both directions,
    so rank mass genuinely propagates through all 10 iterations (the
    bipartite g4 graph converges after 2 -- this query is the hard evidence
    that the iteration machinery, dangling handling, and per-iteration
    quantization match the oracle at depth).  Top-100."""
    ranks = graph.pagerank(
        None, reset_prob=0.15, max_iter=10, weighted=_prepared_pagerank_edges(spark, sf, "cyclic")
    )
    return graph.top_influencers(ranks.select(_decode_op_id(F.col("id")).alias("id"), "pagerank"), 100)


PPR_SEEDS = ["P1", "P2", "P3", "P4", "P5"]


def _ppr_oracle(edges_sql: str, sources: list, reset: float = 0.15, max_iter: int = 10, k: int = 100) -> str:
    """DuckDB replay of graph.personalized_pagerank: _pagerank_oracle's
    integer-quantized unrolled CTEs with the seed-set reset vector --
    initial rank CASE-folds to 1.0 on seeds / 0.0 elsewhere, absent-src
    ranks coalesce to reset on seeds / 0.0 elsewhere, and each iteration
    adds reset only on seed dsts.  Same bit-exact arithmetic argument."""
    r = f"CAST({reset!r} AS DOUBLE)"
    d = f"CAST({1.0 - reset!r} AS DOUBLE)"
    s = f"CAST({int(graph.CONTRIB_SCALE)} AS DOUBLE)"
    lst = _seed_sql(sources)
    reset_dst = f"CASE WHEN w.dst IN ({lst}) THEN {r} ELSE CAST(0.0 AS DOUBLE) END"
    init_src = f"CASE WHEN w.src IN ({lst}) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
    absent_src = f"CASE WHEN w.src IN ({lst}) THEN {r} ELSE CAST(0.0 AS DOUBLE) END"
    ctes = [
        f"edges AS ({edges_sql})",
        "deg AS (SELECT src, COUNT(*) AS dg FROM edges GROUP BY src)",
        "w AS (SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / deg.dg AS wt FROM edges e JOIN deg ON e.src = deg.src)",
        f"r1 AS (SELECT w.dst AS id, {reset_dst} + {d} * "
        f"(SUM(CAST(round(({init_src}) * w.wt * {s}) AS BIGINT)) / {s}) AS rank FROM w GROUP BY w.dst)",
    ]
    for i in range(2, max_iter + 1):
        ctes.append(
            f"r{i} AS (SELECT w.dst AS id, {reset_dst} + {d} * "
            f"(SUM(CAST(round(COALESCE(p.rank, {absent_src}) * w.wt * {s}) AS BIGINT)) / {s}) AS rank "
            f"FROM w LEFT JOIN r{i - 1} p ON w.src = p.id GROUP BY w.dst)"
        )
    last = f"r{max_iter}"
    joined = ",\n".join(ctes)
    return f"""
WITH {joined},
allr AS (
  SELECT id, rank FROM {last} WHERE rank > 0
  UNION ALL
  SELECT sid AS id, {r} AS rank FROM (SELECT unnest([{lst}]) AS sid)
  WHERE sid NOT IN (SELECT id FROM {last})
)
SELECT id, ROUND(rank, 6) AS pagerank FROM allr ORDER BY pagerank DESC, id LIMIT {k}
"""


@query("g7_personalized_pagerank", bench=True, stdout=True, oracle=_ppr_oracle(
    PAGERANK_CYCLIC_EDGES_SQL,
    PPR_SEEDS,
    reset=0.15,
    max_iter=10,
    k=100,
))
def q_ppr(spark: SparkSession, sf: str) -> DataFrame:
    """Personalized PageRank from a 5-part seed set over the cyclic
    order<->part graph: proximity-to-seeds ranking (the related-items
    primitive), with the same integer-quantized full-depth oracle replay
    as g4/g5 (operators/graph.personalized_pagerank)."""
    # trajectory is seed-SET driven, so only the membership matters --
    # decode before the top-k as in g4/g5
    ranks = graph.personalized_pagerank(
        None,
        _encode_part_ids(PPR_SEEDS),
        reset_prob=0.15,
        max_iter=10,
        weighted=_prepared_pagerank_edges(spark, sf, "cyclic"),
    )
    return graph.top_influencers(ranks.select(_decode_op_id(F.col("id")).alias("id"), "pagerank"), 100)


G13_CORE_K = 80  # median co-purchase degree ~117; 80 peels 5 rounds with a large surviving core
G13_CORE_ROUNDS = 10


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled synchronous-peeling twin of graph.kcore: round i keeps
    vertices with degree >= k in e_{i-1} and the edges among them.  Extra
    rounds after the fixpoint are no-ops, so a fixed unroll equals the
    engine's early-exited loop whenever BOTH reach the fixpoint -- and
    equals its max_rounds-step peel otherwise (same round semantics).

    Every CTE is AS MATERIALIZED: round i references round i-1 THREE
    times, so inlining (DuckDB's default for single-reference CTEs, and
    the same failure mode as the Hilbert pure-Column fold) re-expands the
    tree 3^rounds-fold -- the un-materialized form exhausted file handles
    re-opening the lineitem scan before it could run."""
    ctes = [
        """e0 AS MATERIALIZED (
              SELECT DISTINCT x.l_partkey AS v, y.l_partkey AS u
              FROM lineitem x JOIN lineitem y
                ON x.l_orderkey = y.l_orderkey AND x.l_partkey != y.l_partkey)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"g{i} AS MATERIALIZED (SELECT v FROM e{i-1} GROUP BY v HAVING COUNT(*) >= {k})")
        ctes.append(
            f"e{i} AS MATERIALIZED (SELECT e.v, e.u FROM e{i-1} e JOIN g{i} a ON e.v = a.v JOIN g{i} b ON e.u = b.v)"
        )
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f"""
            SELECT v AS part, CAST(COUNT(*) AS BIGINT) AS core_degree
            FROM e{rounds} GROUP BY v ORDER BY core_degree DESC, part"""
    )


# g13: generated unrolled peeling rounds (see _kcore_oracle_sql).
@query("g13_kcore", bench=True, stdout=True, oracle=_kcore_oracle_sql(G13_CORE_K, G13_CORE_ROUNDS))
def q_g13(spark: SparkSession, sf: str) -> DataFrame:
    """k-core decomposition of the part co-purchase graph (graph.kcore):
    synchronous peeling at k=80 -- each round drops ALL sub-k vertices at
    once (unique fixpoint, so deletion order cannot matter).  Edge build
    via graph.copurchase_edges (one groupBy + in-array pair expansion,
    never a fact-fact self-join); survivor keysets semi-join WITHOUT a
    forced broadcast (vertex-sized -- the r5 g10 lesson).  Converges in 5
    rounds at both gate scales; the oracle unrolls 10 identical rounds."""
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    # distinct=False: kcore canonicalizes + distincts internally, so the
    # builder's own dedup shuffle would just stack under it (r10).
    edges = graph.copurchase_edges(li, "l_orderkey", "l_partkey", distinct=False)
    core = graph.kcore(edges, k=G13_CORE_K, max_rounds=G13_CORE_ROUNDS)
    return core.select(F.col("src").alias("part"), "core_degree").orderBy(
        F.desc("core_degree"), "part"
    )


def _g14_oracle_sql(seeds: list[str], hops: int) -> str:
    """Unrolled (min,+) Bellman-Ford twin of graph.weighted_shortest_paths
    over the quantity-weighted order<->part graph.  Every round CTE is AS
    MATERIALIZED (each references the previous twice -- the g13 inlining
    lesson)."""
    ctes = [
        """f AS MATERIALIZED (
              SELECT 'O' || CAST(l_orderkey AS VARCHAR) AS src,
                     'P' || CAST(l_partkey AS VARCHAR) AS dst,
                     CAST(CAST(l_quantity AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS w
              FROM lineitem)""",
        "e AS MATERIALIZED (SELECT src, dst, w FROM f UNION ALL SELECT dst, src, w FROM f)",
        f"d0 AS (SELECT unnest([{_seed_sql(seeds)}]) AS id, CAST(0 AS BIGINT) AS dist)",
    ]
    for i in range(1, hops + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
              SELECT id, MIN(dist) AS dist FROM (
                SELECT id, dist FROM d{i-1}
                UNION ALL
                SELECT e.dst AS id, d{i-1}.dist + e.w AS dist FROM e JOIN d{i-1} ON e.src = d{i-1}.id
              ) GROUP BY id)"""
        )
    return (
        "WITH "
        + ",\n            ".join(ctes)
        + f"""
            SELECT id, CAST(dist AS BIGINT) AS dist FROM d{hops} ORDER BY id"""
    )


G14_SEEDS = ["P1", "P2"]


# g14: generated unrolled min-plus relaxation (see _g14_oracle_sql).
@query("g14_weighted_paths", bench=True, stdout=True, oracle=_g14_oracle_sql(G14_SEEDS, 3))
def q_g14(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-hop weighted shortest paths (graph.weighted_shortest_paths):
    min-plus Bellman-Ford from seed parts {P1, P2} over the order<->part
    graph with integer-micro quantity edge costs -- the weighted twin of
    g8's BFS (hops count there; cost accumulates here).  3 synchronous
    relaxation rounds, exact integer arithmetic, edge table repartitioned
    once.  Oracle: the identical recurrence unrolled (MATERIALIZED).

    INTEGER vertex encoding (r11): same order-2k/part-2k+1 int64 scheme as
    g8 -- the (min,+) relaxation is id-order-free, ids decode at the output
    projection, and the final ORDER BY runs on the decoded strings, so the
    result is byte-identical (oracle untouched)."""
    li = load_table(spark, sf, "lineitem")
    w = (F.col("l_quantity").cast(DEC) * 1_000_000).cast("long").alias("w")
    fwd = li.select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
        w,
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
    res = graph.weighted_shortest_paths(edges, _encode_part_ids(G14_SEEDS), max_hops=3)
    return res.select(_decode_op_id(F.col("id")).alias("id"), "dist").orderBy("id")


def _hits_oracle(edges_sql: str, rounds: int = 3, quantum: int = 1_000_000, k: int = 20) -> str:
    """Unrolled DuckDB twin of graph.hits: EXACT-INTEGER mutual
    reinforcement with max-renormalization by integer floor division
    (``//`` == Spark ``div`` on non-negative int64), so every round is
    bit-identical across engines -- no float normalization anywhere.
    Round CTEs are AS MATERIALIZED: each renorm references its raw table
    twice (value + scalar max), the g13 inlining lesson."""
    q = int(quantum)
    ctes = [
        f"edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}) "
        "WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst)",
        # round 1: every hub score is the constant quantum -> a_raw = indeg * quantum
        f"a1r AS MATERIALIZED (SELECT dst AS id, COUNT(*) * {q} AS raw FROM edges GROUP BY dst)",
        f"a1 AS MATERIALIZED (SELECT id, (raw * {q}) // (SELECT MAX(raw) FROM a1r) AS s FROM a1r)",
        f"h1r AS MATERIALIZED (SELECT e.src AS id, SUM(a1.s) AS raw FROM edges e JOIN a1 ON e.dst = a1.id GROUP BY e.src)",
        f"h1 AS MATERIALIZED (SELECT id, (raw * {q}) // (SELECT MAX(raw) FROM h1r) AS s FROM h1r)",
    ]
    for i in range(2, rounds + 1):
        ctes.append(
            f"a{i}r AS MATERIALIZED (SELECT e.dst AS id, SUM(h{i-1}.s) AS raw "
            f"FROM edges e JOIN h{i-1} ON e.src = h{i-1}.id GROUP BY e.dst)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT id, (raw * {q}) // (SELECT MAX(raw) FROM a{i}r) AS s FROM a{i}r)"
        )
        ctes.append(
            f"h{i}r AS MATERIALIZED (SELECT e.src AS id, SUM(a{i}.s) AS raw "
            f"FROM edges e JOIN a{i} ON e.dst = a{i}.id GROUP BY e.src)"
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT id, (raw * {q}) // (SELECT MAX(raw) FROM h{i}r) AS s FROM h{i}r)"
        )
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT role, rank, id, score_ppm FROM (
  SELECT 'authority' AS role, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rank, id, s AS score_ppm FROM a{rounds}
  UNION ALL
  SELECT 'hub' AS role, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS rank, id, s AS score_ppm FROM h{rounds}
) WHERE rank <= {k} ORDER BY role, rank
"""


# g15: generated unrolled exact-integer HITS rounds (see _hits_oracle).
@query("g15_hits_top20", bench=True, stdout=True, oracle=_hits_oracle(PAGERANK_EDGES_SQL, rounds=3, quantum=1_000_000, k=20))
def q_g15(spark: SparkSession, sf: str) -> DataFrame:
    """HITS hubs & authorities over the directed order->part graph
    (graph.hits): 3 exact-integer mutual-reinforcement rounds with
    max-renormalization by int64 floor division -- hub-heavy orders vs
    authority-heavy parts, the link-analysis complement of g4's PageRank
    (which ranks by in-link mass only).  No float normalization, so both
    engines replay the scores bit-exactly; each renormalized table is
    pinned (it's referenced twice -- value + max -- and an
    expression fold would double the plan per half-round, the Hilbert
    lesson).  Top-20 per role with (score desc, id) deterministic ranks.

    INTEGER vertex encoding (r11): the order-2k/part-2k+1 int64 scheme of
    g4/g8 -- the mutual-reinforcement loop is id-order-free; the top-k
    tiebreak runs on DECODED strings via hits(decode_id=), so the result
    is byte-identical and the oracle untouched."""
    li = load_table(spark, sf, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    )
    return graph.hits(edges, rounds=3, quantum=1_000_000, k=20, decode_id=_decode_op_id)


# g12: capped bipartite projection -- list positions i < j expand
# each within-cap group's sorted distinct items to ordered pairs.
@query("g12_copurchase_capped", bench=True, stdout=True, oracle="""
            WITH g AS (
              SELECT l_orderkey, list_sort(list_distinct(list(l_partkey))) AS items
              FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY l_orderkey),
            f AS (SELECT items FROM g WHERE len(items) BETWEEN 2 AND 8)
            SELECT DISTINCT items[i.i] AS src, items[j.j] AS dst
            FROM f,
                 unnest(generate_series(1, len(items))) AS i(i),
                 unnest(generate_series(1, len(items))) AS j(j)
            WHERE i.i < j.j
            ORDER BY src, dst
        """)
def q_g12(spark: SparkSession, sf: str) -> DataFrame:
    """Capped bipartite projection (graph.copurchase_edges): the part
    co-purchase edge list built as one groupBy + in-array pair expansion
    with max_group_size=8 -- the scale guard the naive self-join build
    (g6/g9/g10's current inputs) lacks: one 10k-item group is a 5*10^7-
    pair task at 100 TB.  Over-cap orders drop entirely; the oracle
    mirrors the cap, so the trade-off is machine-checked, and the sf0.01
    order-size distribution (up to ~13 parts) guarantees the cap path
    actually fires.

    ONE exchange, not two (r11, guide par.2.4 "share one exchange"):
    `.distinct().orderBy(src, dst)` hash-exchanged the pair stream for the
    dedup and then range-exchanged the survivors for the sort.  Range
    partitioning on (src, dst) ALSO satisfies the dedup aggregate's
    clustered-distribution requirement (equal keys co-locate), so
    range-partition FIRST, then partition-local dropDuplicates +
    partition-local sort -- same rows in the same total order (probed
    row-for-row identical at sf0.1; shuffle write 25.1 -> 14.2 MB)."""
    li = load_table(spark, sf, "lineitem")
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        graph.copurchase_edges(li, "l_orderkey", "l_partkey", max_group_size=8, distinct=False)
        .repartitionByRange(n_part, "src", "dst")
        .dropDuplicates(["src", "dst"])
        .sortWithinPartitions("src", "dst")
    )
