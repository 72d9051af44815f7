"""Segmented DuckDB twins of the oracles whose one-shot SQL outgrows temp
disk or memory on the tiled fixtures (sf >= 1; FIXTURES.md "Scale-replay
exclusions").

g4/g5's oracle is an UNROLLED 10-join CTE (`contract/graph._pagerank_oracle`):
at sf10 each of the 10 rank-join intermediates materializes against the
60M-edge table inside one query and DuckDB's temp spill hit ENOSPC.  The
arithmetic itself is fine -- so the twin replays the SAME integer-quantized
iteration SEGMENTED: each iteration is ONE bounded `CREATE TABLE r_i AS ...
FROM w LEFT JOIN r_{i-1}`, and r_{i-1} is dropped before the next round.
Peak footprint = the weighted edge table + two vertex-sized rank tables,
regardless of iteration count.  The other twins bound their quadratic
stages the same way (batches, rounds, landed stage tables).

``TWINS`` declares each twin once: query name -> a function of a DuckDB
connection (the sf dir's tables as views) that returns the result rows, in
the engine's column order, or the final SELECT over the stage tables it
landed.  ``tools/verify_local.py`` checks a query against its twin instead
of its one-shot ``oracle_sql()`` when the fixture is larger than every
fixture the one-shot oracles are known green on; each twin runs on its own
on-disk database file there.
"""

from __future__ import annotations

from collections.abc import Callable

import duckdb

from youtubeanalyzerproject_big_data__spark import contract
from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32_lane_sql
from youtubeanalyzerproject_big_data__spark.functions.precision import dratio_sql
from youtubeanalyzerproject_big_data__spark.operators import dedup
from youtubeanalyzerproject_big_data__spark.operators.graph import CONTRIB_SCALE


def _segmented_pagerank(
    con: duckdb.DuckDBPyConnection,
    edges_sql: str,
    seeds: list | None,
    reset: float = 0.15,
    max_iter: int = 10,
    k: int = 100,
) -> list[tuple]:
    """Iteration-materialized twin of _pagerank_oracle / _ppr_oracle: the
    same round->int64 quantized per-edge contributions (bit-for-bit the
    engine's arithmetic -- see _pagerank_oracle's docstring for why the
    quantization makes summation order irrelevant), with each r_i landed
    as a TABLE and its predecessor dropped."""
    r = f"CAST({reset!r} AS DOUBLE)"
    d = f"CAST({1.0 - reset!r} AS DOUBLE)"
    s = f"CAST({int(CONTRIB_SCALE)} AS DOUBLE)"
    if seeds is None:
        reset_dst, init_src, absent_src = r, "CAST(1.0 AS DOUBLE)", r
    else:
        lst = ", ".join(f"'{x}'" for x in seeds)
        reset_dst = f"CASE WHEN w.dst IN ({lst}) THEN {r} ELSE CAST(0.0 AS DOUBLE) END"
        init_src = f"CASE WHEN w.src IN ({lst}) THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
        absent_src = f"CASE WHEN w.src IN ({lst}) THEN {r} ELSE CAST(0.0 AS DOUBLE) END"

    con.execute(
        f"""CREATE OR REPLACE TABLE w AS
            SELECT e.src, e.dst, CAST(1.0 AS DOUBLE) / deg.dg AS wt
            FROM ({edges_sql}) e
            JOIN (SELECT src, COUNT(*) AS dg FROM ({edges_sql}) GROUP BY src) deg
              ON e.src = deg.src"""
    )
    con.execute(
        f"""CREATE OR REPLACE TABLE r1 AS
            SELECT w.dst AS id, {reset_dst} + {d} *
                   (SUM(CAST(round(({init_src}) * w.wt * {s}) AS BIGINT)) / {s}) AS rank
            FROM w GROUP BY w.dst"""
    )
    for i in range(2, max_iter + 1):
        con.execute(
            f"""CREATE TABLE r{i} AS
                SELECT w.dst AS id, {reset_dst} + {d} *
                       (SUM(CAST(round(COALESCE(p.rank, {absent_src}) * w.wt * {s}) AS BIGINT)) / {s}) AS rank
                FROM w LEFT JOIN r{i - 1} p ON w.src = p.id GROUP BY w.dst"""
        )
        con.execute(f"DROP TABLE r{i - 1}")
    last = f"r{max_iter}"
    # the one-shot twins' allr: every unreached source at reset, or, for
    # PPR, the positive ranks plus each unreached seed at reset
    if seeds is None:
        ranked = f"SELECT id, rank FROM {last}"
        extra = f"SELECT DISTINCT src AS id, {r} AS rank FROM w WHERE src NOT IN (SELECT id FROM {last})"
    else:
        ranked = f"SELECT id, rank FROM {last} WHERE rank > 0"
        extra = f"SELECT sid AS id, {r} AS rank FROM (SELECT unnest([{lst}]) AS sid) WHERE sid NOT IN (SELECT id FROM {last})"
    rows = con.execute(
        f"""WITH allr AS ({ranked} UNION ALL {extra})
            SELECT id, ROUND(rank, 6) AS pagerank FROM allr
            ORDER BY pagerank DESC, id LIMIT {k}"""
    ).fetchall()
    con.execute(f"DROP TABLE {last}")
    con.execute("DROP TABLE w")
    return rows


def _segmented_kcore(con: duckdb.DuckDBPyConnection, k: int, rounds: int) -> list[tuple]:
    """Round-materialized twin of _kcore_oracle_sql: the one-shot form keeps
    all `rounds` MATERIALIZED edge CTEs alive at once and its ENOSPC'd DuckDB
    temp at sf10 (>78 GB); here each round is one CREATE TABLE with the
    predecessor dropped, so peak footprint is two edge tables regardless of
    round count.  Identical round semantics (degree->=k survivor filter,
    edges among survivors); rounds after the fixpoint are no-ops, so the
    early exit when the survivor edge count stops changing returns exactly
    the unrolled form's result."""
    con.execute(
        """CREATE OR REPLACE TABLE kc_e0 AS
           SELECT DISTINCT x.l_partkey AS v, y.l_partkey AS u
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey AND x.l_partkey != y.l_partkey"""
    )
    prev, n_prev = "kc_e0", con.execute("SELECT COUNT(*) FROM kc_e0").fetchone()[0]
    for i in range(1, rounds + 1):
        con.execute(f"CREATE OR REPLACE TABLE kc_g AS SELECT v FROM {prev} GROUP BY v HAVING COUNT(*) >= {k}")
        con.execute(
            f"""CREATE OR REPLACE TABLE kc_e{i} AS
                SELECT e.v, e.u FROM {prev} e JOIN kc_g a ON e.v = a.v JOIN kc_g b ON e.u = b.v"""
        )
        con.execute(f"DROP TABLE {prev}")
        con.execute("DROP TABLE kc_g")
        prev = f"kc_e{i}"
        n = con.execute(f"SELECT COUNT(*) FROM {prev}").fetchone()[0]
        if n == n_prev:
            break  # fixpoint: remaining unrolled rounds are identity
        n_prev = n
    rows = con.execute(
        f"SELECT v AS part, CAST(COUNT(*) AS BIGINT) AS core_degree FROM {prev} GROUP BY v ORDER BY core_degree DESC, part"
    ).fetchall()
    con.execute(f"DROP TABLE {prev}")
    return rows


def _mat_copurchase_graph(con: duckdb.DuckDBPyConnection) -> None:
    """tc_e (DISTINCT canonical co-purchase edges, a < b), tc_deg, and tc_o
    (degree-ordered orientation, the g6 one-shot's `o` CTE verbatim): the
    co-purchase graph g6/g9/g10's twins land first.  All three are
    edge/vertex-sized; the quadratic wedge work happens in the per-query
    batches, never here."""
    con.execute(
        """CREATE OR REPLACE TABLE tc_e AS
           SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
           FROM lineitem x JOIN lineitem y
             ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey"""
    )
    con.execute(
        """CREATE OR REPLACE TABLE tc_deg AS
           SELECT v, CAST(COUNT(*) AS BIGINT) AS d
           FROM (SELECT a AS v FROM tc_e UNION ALL SELECT b AS v FROM tc_e) GROUP BY v"""
    )
    con.execute(
        """CREATE OR REPLACE TABLE tc_o AS
           SELECT CASE WHEN (d1.d < d2.d) OR (d1.d = d2.d AND e.a < e.b) THEN e.a ELSE e.b END AS u,
                  CASE WHEN (d1.d < d2.d) OR (d1.d = d2.d AND e.a < e.b) THEN e.b ELSE e.a END AS w
           FROM tc_e e JOIN tc_deg d1 ON e.a = d1.v JOIN tc_deg d2 ON e.b = d2.v"""
    )


def _segmented_triangles(con: duckdb.DuckDBPyConnection, n_batches: int = 16) -> list[tuple]:
    """Stage-materialized twin of the g6 one-shot oracle, which pipelines
    DISTINCT-edge build + degree orientation + wedge self-join + closure
    probe in one query and ENOSPC'd DuckDB temp at sf10 (>70 GB).  Here the
    edge and oriented-edge tables land once, and the wedge/triangle counts
    accumulate over disjoint hash(center)%B batches -- both counts partition
    exactly by the wedge's center vertex u, so per-batch counts are additive
    and no batch ever materializes the full wedge set."""
    _mat_copurchase_graph(con)
    n_edges = con.execute("SELECT COUNT(*) FROM tc_e").fetchone()[0]
    n_wedges = n_triangles = 0
    for b in range(n_batches):
        r = con.execute(
            f"""SELECT COUNT(*), COUNT(ec.a)
                FROM (SELECT o1.w AS a, o2.w AS b
                      FROM tc_o o1 JOIN tc_o o2 ON o1.u = o2.u AND o1.w < o2.w
                      WHERE hash(o1.u) % {n_batches} = {b}) w
                LEFT JOIN tc_e ec ON w.a = ec.a AND w.b = ec.b"""
        ).fetchone()
        n_wedges += r[0]
        n_triangles += r[1]
    return [(n_edges, n_wedges, n_triangles)]


def _segmented_clustering_topk(con: duckdb.DuckDBPyConnection, k: int = 20, n_batches: int = 16) -> list[tuple]:
    """Batch-materialized twin of the g10 one-shot oracle, whose global
    3-way triangle-enumeration join (`tri`) ENOSPC'd DuckDB temp at sf10
    (>54 GB, the g6 wedge-scale class).  Per-vertex triangle counts are
    accumulated over disjoint hash(center u)%B batches of the oriented
    wedge enumeration: the degree orientation is a total order, so every
    triangle closes EXACTLY ONE wedge (at its orientation-min vertex) and
    contributes +1 to each of its three corners there -- per-batch
    (v, count) partials are therefore additive and exactly reproduce the
    one-shot `pv` CTE.  The tail (degree join, d>=2 filter, floor-micro
    coefficient, top-k by (n_triangles desc, v)) is the one-shot SQL
    verbatim over the accumulated counts."""
    _mat_copurchase_graph(con)
    con.execute("CREATE OR REPLACE TABLE cc_pv (v BIGINT, c BIGINT)")
    for b in range(n_batches):
        con.execute(
            f"""INSERT INTO cc_pv
                WITH closed AS (
                  SELECT o1.u AS u, o1.w AS a, o2.w AS b
                  FROM tc_o o1 JOIN tc_o o2 ON o1.u = o2.u AND o1.w < o2.w
                  JOIN tc_e ec ON o1.w = ec.a AND o2.w = ec.b
                  WHERE hash(o1.u) % {n_batches} = {b})
                SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM (
                  SELECT u AS v FROM closed
                  UNION ALL SELECT a FROM closed
                  UNION ALL SELECT b FROM closed)
                GROUP BY v"""
        )
    rows = con.execute(
        f"""WITH pv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS n_triangles FROM cc_pv GROUP BY v)
            SELECT pv.v, deg.d, pv.n_triangles,
                   CAST(FLOOR(2000000 * pv.n_triangles / (deg.d * (deg.d - 1))) AS BIGINT) AS coef_micro,
                   (CAST(FLOOR(2000000 * pv.n_triangles / (deg.d * (deg.d - 1))) AS BIGINT) / 1000000.0) AS clustering_coef
            FROM pv JOIN tc_deg deg ON pv.v = deg.v
            WHERE deg.d >= 2
            ORDER BY pv.n_triangles DESC, pv.v LIMIT {k}"""
    ).fetchall()
    con.execute("DROP TABLE cc_pv")
    return rows


def _segmented_adamic_adar(con: duckdb.DuckDBPyConnection, k: int = 5, n_batches: int = 16) -> list[tuple]:
    """Batch-materialized twin of the g9 one-shot oracle (ENOSPC'd DuckDB
    temp at sf10): the candidate -> score -> new-link -> per-seed-rank
    pipeline partitions EXACTLY by the seed s (no stage mixes seeds), so it
    runs per hash(seed)%B batch against the once-landed adjacency and
    weight tables, with each batch's rank<=k survivors appended.  The CTE
    bodies are the one-shot SQL verbatim with only the seed-hash predicate
    added; adjacency/weights/seeds are the one-shot's adj/w/seeds CTEs
    landed as tables."""
    _mat_copurchase_graph(con)
    con.execute("CREATE OR REPLACE TABLE aa_adj AS SELECT a AS v, b AS n FROM tc_e UNION ALL SELECT b, a FROM tc_e")
    con.execute(
        """CREATE OR REPLACE TABLE aa_w AS
           SELECT v AS z, CAST(floor(1e6 / ln(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w_micro
           FROM aa_adj GROUP BY v HAVING COUNT(*) >= 2"""
    )
    con.execute(
        "CREATE OR REPLACE TABLE aa_seeds AS SELECT DISTINCT l_partkey AS s FROM lineitem WHERE l_partkey % 1000 = 1"
    )
    con.execute(
        "CREATE OR REPLACE TABLE aa_out (src BIGINT, dst BIGINT, rank BIGINT, n_common BIGINT, aa_micro BIGINT)"
    )
    for b in range(n_batches):
        con.execute(
            f"""INSERT INTO aa_out
                WITH sadj AS (SELECT s.s, a.n AS z FROM aa_adj a JOIN aa_seeds s ON a.v = s.s
                              WHERE hash(s.s) % {n_batches} = {b}),
                cand AS (SELECT sa.s, a2.n AS y, w.w_micro
                         FROM sadj sa JOIN aa_adj a2 ON sa.z = a2.v JOIN aa_w w ON w.z = sa.z
                         WHERE a2.n != sa.s),
                sc AS (SELECT s, y, CAST(COUNT(*) AS BIGINT) AS n_common, CAST(SUM(w_micro) AS BIGINT) AS aa_micro
                       FROM cand GROUP BY s, y),
                nl AS (SELECT sc.* FROM sc LEFT JOIN aa_adj adj ON adj.v = sc.s AND adj.n = sc.y
                       WHERE adj.v IS NULL),
                rk AS (SELECT s, y, n_common, aa_micro,
                              CAST(ROW_NUMBER() OVER (PARTITION BY s ORDER BY aa_micro DESC, y) AS BIGINT) AS rank
                       FROM nl)
                SELECT s, y, rank, n_common, aa_micro FROM rk WHERE rank <= {k}"""
        )
    rows = con.execute(
        "SELECT src, dst, rank, n_common, aa_micro, (CAST(aa_micro AS BIGINT) / 1000000.0) AS aa_score "
        "FROM aa_out ORDER BY src, rank"
    ).fetchall()
    for t in ("aa_out", "aa_seeds", "aa_w", "aa_adj"):
        con.execute(f"DROP TABLE {t}")
    return rows


def _table_exists(con: duckdb.DuckDBPyConnection, name: str) -> bool:
    return (
        con.execute(
            "SELECT COUNT(*) FROM information_schema.tables WHERE table_name = ?", [name]
        ).fetchone()[0]
        > 0
    )


def _segmented_components(con: duckdb.DuckDBPyConnection, pairs_table: str, out: str, max_rounds: int = 30) -> None:
    """Materialized min-label propagation with path compression -- the
    segmented twin of d7/d15's recursive `reach` closure, whose
    path-enumerating intermediate spilled DuckDB past temp disk at sf>=1
    (FIXTURES.md).  Each round is two bounded joins on the PAIR-sized
    graph (neighbor-min, then label-of-label hop), so convergence takes
    O(log diameter) rounds and peak footprint is two label tables.
    Leaves the result as table ``out`` (id -> component-min label,
    self included at init, matching LEAST(doc_id, min reachable))."""
    con.execute(
        f"CREATE OR REPLACE TABLE e AS "
        f"SELECT doc1 AS a, doc2 AS b FROM {pairs_table} UNION SELECT doc2, doc1 FROM {pairs_table}"
    )
    con.execute("CREATE OR REPLACE TABLE lbl_w AS SELECT DISTINCT a AS id, a AS lbl FROM e")
    for _ in range(max_rounds):
        con.execute(
            """CREATE OR REPLACE TABLE lbl_n AS
               SELECT id, MIN(lbl) AS lbl FROM (
                 SELECT id, lbl FROM lbl_w
                 UNION ALL
                 SELECT e.a AS id, lbl_w.lbl FROM e JOIN lbl_w ON e.b = lbl_w.id
               ) GROUP BY id"""
        )
        # path compression: hop once through the label (labels are node ids,
        # so every label has a row)
        con.execute(
            """CREATE OR REPLACE TABLE lbl2 AS
               SELECT x.id, LEAST(x.lbl, y.lbl) AS lbl
               FROM lbl_n x JOIN lbl_n y ON x.lbl = y.id"""
        )
        changed = con.execute(
            "SELECT COUNT(*) FROM lbl2 JOIN lbl_w USING (id) WHERE lbl2.lbl != lbl_w.lbl"
        ).fetchone()[0]
        con.execute("DROP TABLE lbl_w")
        con.execute("ALTER TABLE lbl2 RENAME TO lbl_w")
        con.execute("DROP TABLE lbl_n")
        if changed == 0:
            break
    else:
        raise RuntimeError(f"components did not converge in {max_rounds} rounds")
    con.execute("DROP TABLE e")
    con.execute(f"ALTER TABLE lbl_w RENAME TO {out}")


SHINGLE_SQL = r"""WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS w
  FROM {source}
),
idx AS (
  SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM toks WHERE len(w) >= 3
)
SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx"""


# Memoized stage tables are per-(connection, table) with their RESULT-DEFINING
# params recorded; reusing a memo under different params is a hard error, not a
# silent stale read (ADVICE r7: _mat_shingles ignored `source`, _mat_lsh_pairs
# ignored num_hashes/bands/threshold/max_bucket -- dr1 only worked because it
# pre-seeded 's_sh' in the right order).  Batch counts are excluded: they change
# evaluation order only, never the result set.
_MEMO_PARAMS: dict[tuple[int, str], tuple] = {}


def _memoized(con: duckdb.DuckDBPyConnection, table: str, params: tuple) -> bool:
    """True if ``table`` was already built on ``con``; asserts same params."""
    key = (id(con), table)
    if _table_exists(con, table):
        prev = _MEMO_PARAMS.get(key)
        if prev is not None and prev != params:
            raise RuntimeError(f"memo table {table} built with params {prev}, requested {params}")
        return True
    _MEMO_PARAMS[key] = params
    return False


def _mat_shingles(con: duckdb.DuckDBPyConnection, p: str = "t", source: str = "documents") -> None:
    """{p}_sh (distinct doc_id/shingle, the `sh` CTE verbatim) + {p}_sizes."""
    if _memoized(con, f"{p}_sh", (source,)):
        return
    con.execute(f"CREATE TABLE {p}_sh AS {SHINGLE_SQL.format(source=source)}")
    con.execute(f"CREATE TABLE {p}_sizes AS SELECT doc_id, COUNT(*) AS n FROM {p}_sh GROUP BY doc_id")


def _mat_thresh_pairs(
    con: duckdb.DuckDBPyConnection,
    max_df: int | None,
    predicates: dict[str, str],
    p: str = "t",
    n_batches: int = 24,
    source: str = "documents",
) -> None:
    """Threshold-filtered pair tables from the `inter`/`jac` stage, computed
    BATCHED by hash(doc1) with the filter applied INSIDE each batch.

    On the K=100-tiled fixture every document is a ~K-clone, so the one-shot
    posting-list self-join emits ~sum_shingle C(df,2) intermediate rows
    (measured 5.2e9 capped / 1.4e10 uncapped at sf10) and even the DISTINCT
    co-occurring pair set is ~1e9 rows -- storing either form ENOSPC'd
    DuckDB temp.  Partitioning by hash(doc1) puts every pair in EXACTLY one
    batch (no cross-batch merge needed), and each per-batch count table is
    joined to sizes and filtered by the requested predicates immediately,
    so nothing pair-multiplicity-sized is ever materialized.

    ``predicates``: out_table -> boolean SQL over (doc1, doc2, n_common,
    n1, n2).  Each out table keeps all five columns so tails can rebuild
    the exact one-shot expressions (jaccard / containment)."""
    todo = {t: e for t, e in predicates.items() if not _memoized(con, t, (source, max_df, e))}
    if not todo:
        return
    _mat_shingles(con, p, source=source)
    post = f"{p}_sh"
    if max_df is not None:
        post = f"{p}_shf"
        if not _table_exists(con, post):
            con.execute(
                f"""CREATE TABLE {post} AS
                SELECT s.doc_id, s.shingle FROM {p}_sh s
                JOIN (SELECT shingle FROM {p}_sh GROUP BY shingle HAVING COUNT(*) <= {max_df}) c USING (shingle)"""
            )
    for out in todo:
        con.execute(f"CREATE TABLE {out} (doc1 BIGINT, doc2 BIGINT, n_common BIGINT, n1 BIGINT, n2 BIGINT)")
    for b in range(n_batches):
        con.execute(
            f"""CREATE OR REPLACE TABLE {p}_batch AS
            SELECT i.doc1, i.doc2, i.n_common, s1.n AS n1, s2.n AS n2
            FROM (
              SELECT a.doc_id AS doc1, b2.doc_id AS doc2, COUNT(*) AS n_common
              FROM {post} a JOIN {post} b2
                ON a.shingle = b2.shingle AND a.doc_id < b2.doc_id
              WHERE hash(a.doc_id) % {n_batches} = {b}
              GROUP BY 1, 2
            ) i
            JOIN {p}_sizes s1 ON i.doc1 = s1.doc_id
            JOIN {p}_sizes s2 ON i.doc2 = s2.doc_id"""
        )
        for out, pred in todo.items():
            con.execute(f"INSERT INTO {out} SELECT * FROM {p}_batch WHERE {pred}")
    con.execute(f"DROP TABLE {p}_batch")


# The exact one-shot `jac`/containment expressions over the five kept
# columns -- integer half-up twins of precision.ratio_round, same as the
# committed oracle_sql (the ROUND(double-quotient) form split one output
# ulp between engines on 41/640-class ratios; VERDICT r9 item 3).
JAC_EXPR = dratio_sql("n_common", "(n1 + n2 - n_common)")
CONT_ANY = f"{dratio_sql('n_common', 'n1')} >= 0.9 OR {dratio_sql('n_common', 'n2')} >= 0.9"


def _mat_lsh_pairs(
    con: duckdb.DuckDBPyConnection,
    p: str = "t",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int = 2000,
    n_batches: int = 8,
    source: str = "documents",
) -> None:
    """{p}_lshpr: the `_minhash_lsh_oracle` result (band-bucket candidates,
    exact-Jaccard verified >= threshold), with BOTH quadratic stages bounded:
    candidate expansion batched by hash(band signature), and the exact
    verification joining only CANDIDATE pairs against the uncapped postings,
    batched by hash(doc1) -- the one-shot form verifies against the full
    uncapped all-pairs `jac`, which ENOSPC'd DuckDB at sf10."""
    if _memoized(con, f"{p}_lshpr", (source, num_hashes, bands, threshold, max_bucket)):
        return
    _mat_shingles(con, p, source=source)
    rpb = num_hashes // bands
    mins = ", ".join(
        f"MIN({md5_int32_lane_sql('shingle', j // 4, j % 4)}) AS h{j}" for j in range(num_hashes)
    )
    con.execute(f"CREATE TABLE {p}_sig AS SELECT doc_id, {mins} FROM {p}_sh GROUP BY doc_id")
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, concat_ws('_', {', '.join(f'h{b * rpb + r}' for r in range(rpb))}) AS sig "
        f"FROM {p}_sig"
        for b in range(bands)
    )
    con.execute(f"CREATE TABLE {p}_bands AS {band_selects}")
    con.execute(
        f"CREATE TABLE {p}_bok AS SELECT band, sig FROM {p}_bands "
        f"GROUP BY band, sig HAVING COUNT(*) <= {max_bucket}"
    )
    con.execute(f"CREATE TABLE {p}_cand (doc1 BIGINT, doc2 BIGINT)")
    for b in range(n_batches):
        con.execute(
            f"""INSERT INTO {p}_cand
            SELECT DISTINCT a.doc_id, b2.doc_id
            FROM {p}_bands a
            JOIN {p}_bok k ON a.band = k.band AND a.sig = k.sig
            JOIN {p}_bands b2 ON a.band = b2.band AND a.sig = b2.sig AND a.doc_id < b2.doc_id
            WHERE hash(a.sig) % {n_batches} = {b}"""
        )
    con.execute(f"CREATE TABLE {p}_candd AS SELECT DISTINCT doc1, doc2 FROM {p}_cand")
    for t in ("sig", "bands", "bok", "cand"):
        con.execute(f"DROP TABLE {p}_{t}")
    con.execute(f"CREATE TABLE {p}_cacc (doc1 BIGINT, doc2 BIGINT, n_common BIGINT)")
    for b in range(n_batches):
        con.execute(
            f"""INSERT INTO {p}_cacc
            SELECT c.doc1, c.doc2, COUNT(*) AS n_common
            FROM {p}_candd c
            JOIN {p}_sh a ON a.doc_id = c.doc1
            JOIN {p}_sh b2 ON b2.doc_id = c.doc2 AND b2.shingle = a.shingle
            WHERE hash(c.doc1) % {n_batches} = {b}
            GROUP BY 1, 2"""
        )
    con.execute(
        f"""CREATE TABLE {p}_lshpr AS
        SELECT doc1, doc2, jaccard FROM (
          SELECT i.doc1, i.doc2,
                 {dratio_sql('i.n_common', '(s1.n + s2.n - i.n_common)')} AS jaccard
          FROM (SELECT doc1, doc2, CAST(SUM(n_common) AS BIGINT) AS n_common
                FROM {p}_cacc GROUP BY 1, 2) i
          JOIN {p}_sizes s1 ON i.doc1 = s1.doc_id
          JOIN {p}_sizes s2 ON i.doc2 = s2.doc_id)
        WHERE jaccard >= {threshold}"""
    )
    con.execute(f"DROP TABLE {p}_cacc")
    con.execute(f"DROP TABLE {p}_candd")
    # No final SELECT reads the shingle tables once {p}_lshpr is landed;
    # drop them before a digest compare's Spark leg runs: at sf30 the
    # shingle table alone is ~450M rows (~20 GB) and the box ran out of
    # headroom with it still landed (the r10 d3 watchdog abort).
    for t in ("sh", "sizes", "shf"):
        con.execute(f"DROP TABLE IF EXISTS {p}_{t}")


# Each doc-family twin lands its pair stage (batched; see _mat_thresh_pairs
# and _mat_lsh_pairs) and returns the final SELECT, which the harness
# either fetches (collect-canon compare) or aggregates into the digest-sum
# scalars without materializing the result (d3's sf30 pair set is ~246M
# rows -- VERDICT r9 item 1).
_JAC08 = {"t_jac08": f"{JAC_EXPR} >= 0.8"}


def _d2(con: duckdb.DuckDBPyConnection) -> str:
    _mat_thresh_pairs(con, dedup.DEFAULT_MAX_DF, _JAC08)
    return f"SELECT doc1, doc2, {JAC_EXPR} AS jaccard FROM t_jac08"


def _d12(con: duckdb.DuckDBPyConnection) -> str:
    _mat_thresh_pairs(con, dedup.DEFAULT_MAX_DF, {"t_cont09": CONT_ANY})
    return f"""SELECT contained_id, container_id, containment FROM (
             SELECT doc1 AS contained_id, doc2 AS container_id, {dratio_sql('n_common', 'n1')} AS containment FROM t_cont09
             UNION ALL
             SELECT doc2 AS contained_id, doc1 AS container_id, {dratio_sql('n_common', 'n2')} AS containment FROM t_cont09)
           WHERE containment >= 0.9
           ORDER BY contained_id, container_id"""


def _d3(con: duckdb.DuckDBPyConnection) -> str:
    _mat_lsh_pairs(con, max_bucket=dedup.DEFAULT_MAX_BUCKET)
    return "SELECT doc1, doc2, jaccard FROM t_lshpr"


def _dr1(con: duckdb.DuckDBPyConnection) -> str:
    # Both legs run on the deterministic md5 sample, truth UNCAPPED
    # (max_df=None) exactly as the one-shot SQL; only the evaluation
    # order is segmented.
    sample_src = contract.dedup._DR1_SAMPLE_SQL
    _mat_thresh_pairs(con, None, {"s_jac08": f"{JAC_EXPR} >= 0.8"}, p="s", n_batches=32, source=sample_src)
    _mat_lsh_pairs(con, p="s", max_bucket=2000, n_batches=16, source=sample_src)
    return """WITH tru AS (SELECT doc1, doc2 FROM s_jac08),
           t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM tru),
           f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_found FROM tru
                 WHERE EXISTS (SELECT 1 FROM s_lshpr l WHERE l.doc1 = tru.doc1 AND l.doc2 = tru.doc2))
           SELECT t.n_true, f.n_found,
                  CAST(CASE WHEN t.n_true = 0 THEN -1
                            ELSE (1000000 * f.n_found) // t.n_true END AS BIGINT) AS recall_ppm
           FROM t, f"""


def _capped_clusters(con: duckdb.DuckDBPyConnection) -> None:
    """lbl_cap: the components of the capped shingle-Jaccard >= 0.8 pairs
    (d7's clusters, c1's dedup stage)."""
    _mat_thresh_pairs(con, dedup.DEFAULT_MAX_DF, _JAC08)
    _segmented_components(con, "t_jac08", out="lbl_cap")


def _d7(con: duckdb.DuckDBPyConnection) -> str:
    _capped_clusters(con)
    return ("SELECT d.doc_id, CAST(COALESCE(l.lbl, d.doc_id) AS BIGINT) AS cluster_id "
            "FROM documents d LEFT JOIN lbl_cap l ON d.doc_id = l.id")


def _c1(con: duckdb.DuckDBPyConnection) -> str:
    # c1's one-shot oracle embeds the SAME recursive `reach` closure as
    # d7 (pair stage: shingle-jaccard >= 0.8); on the 100x-tiled fixture
    # the closure enumerates ~s^2 paths per s-sized clone group and was
    # observed at 119 GB RSS with no output after 30 min at sf10.  The
    # pair stage is batched, the component stage label-propagated; the
    # token/langid tail is linear and replays verbatim.
    _capped_clusters(con)
    return rf"""
        WITH rep AS (
          SELECT d.doc_id FROM documents d LEFT JOIN lbl_cap l ON d.doc_id = l.id
          WHERE COALESCE(l.lbl, d.doc_id) = d.doc_id
        ),
        q AS (
          SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
                 {dratio_sql('(len(tk) - len(list_distinct(tk)))', 'greatest(len(tk), 1)')} AS dup_token_ratio
          FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x != '') AS tk
                FROM documents)
        ),
        lng AS (SELECT doc_id, lang_pred FROM ({contract.text._lang_id_oracle()}))
        SELECT q.doc_id, q.n_tokens, lng.lang_pred
        FROM q JOIN lng ON q.doc_id = lng.doc_id
        JOIN rep ON q.doc_id = rep.doc_id
        WHERE lng.lang_pred = 'en' AND q.n_tokens >= 10 AND q.dup_token_ratio <= 0.6
        """


def _d15(con: duckdb.DuckDBPyConnection) -> str:
    _mat_lsh_pairs(con, max_bucket=dedup.DEFAULT_MAX_BUCKET)
    _segmented_components(con, "t_lshpr", out="lbl_lsh")
    return """WITH m AS (SELECT l.id AS doc_id, l.lbl AS cluster_id, d.n_chars
                      FROM lbl_lsh l JOIN documents d ON l.id = d.doc_id),
           rk AS (SELECT cluster_id, doc_id, n_chars,
                         row_number() OVER (PARTITION BY cluster_id
                                            ORDER BY n_chars DESC, doc_id) AS rn
                  FROM m),
           sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
                  FROM m GROUP BY cluster_id)
           SELECT sz.cluster_id, sz.n_members, rk.doc_id AS canonical_id,
                  CAST(rk.n_chars AS BIGINT) AS canonical_chars,
                  CAST(sz.n_members - 1 AS BIGINT) AS n_removed
           FROM sz JOIN rk ON sz.cluster_id = rk.cluster_id AND rk.rn = 1
           WHERE sz.n_members >= 2
           ORDER BY sz.cluster_id"""


TWINS: dict[str, Callable[[duckdb.DuckDBPyConnection], list[tuple] | str]] = {
    "g4_pagerank_top100": lambda con: _segmented_pagerank(con, contract.graph.PAGERANK_EDGES_SQL, None),
    "g5_pagerank_cyclic_top100": lambda con: _segmented_pagerank(con, contract.graph.PAGERANK_CYCLIC_EDGES_SQL, None),
    "g7_personalized_pagerank": lambda con: _segmented_pagerank(
        con, contract.graph.PAGERANK_CYCLIC_EDGES_SQL, contract.graph.PPR_SEEDS
    ),
    "g6_triangle_census": _segmented_triangles,
    "g9_adamic_adar": _segmented_adamic_adar,
    "g10_clustering_coefficient": _segmented_clustering_topk,
    "g13_kcore": lambda con: _segmented_kcore(con, contract.graph.G13_CORE_K, contract.graph.G13_CORE_ROUNDS),
    "d2_ngram_jaccard_pairs": _d2,
    "d12_containment_pairs": _d12,
    "d3_minhash_lsh_pairs": _d3,
    "dr1_dedup_recall": _dr1,
    "d7_dup_clusters": _d7,
    "c1_corpus_curation": _c1,
    "d15_dedup_keep_best": _d15,
}
