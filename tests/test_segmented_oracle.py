"""Unit tests for tools/segmented_oracle.py — the high-SF oracle twins —
and for how tools/verify_local.py chooses between a twin and the one-shot
oracle.

These run pure DuckDB and pyarrow (no Spark session): the twins' whole
claim is that a segmented evaluation is RESULT-identical to the one-shot
oracle SQL, so each piece gets a small direct equivalence check, plus the
memo-params guard that ADVICE r7 asked for (a memoized stage table reused
under different result-defining params must be a hard error, never a
silent stale read).
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from tools import segmented_oracle as seg
from tools import verify_local


@pytest.fixture()
def con():
    c = duckdb.connect()
    yield c
    c.close()


def _docs(c: duckdb.DuckDBPyConnection, rows: list[tuple[int, str]]) -> None:
    c.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    c.executemany("INSERT INTO documents VALUES (?, ?)", rows)


class TestMemoParamsGuard:
    def test_same_params_reuse_is_silent(self, con):
        _docs(con, [(1, "a b c d"), (2, "a b c e")])
        seg._mat_shingles(con, p="t", source="documents")
        seg._mat_shingles(con, p="t", source="documents")  # no error, reuses t_sh
        assert con.execute("SELECT COUNT(*) FROM t_sh").fetchone()[0] > 0

    def test_different_source_same_prefix_raises(self, con):
        _docs(con, [(1, "a b c d"), (2, "a b c e")])
        seg._mat_shingles(con, p="t", source="documents")
        with pytest.raises(RuntimeError, match="params"):
            seg._mat_shingles(con, p="t", source="(SELECT * FROM documents WHERE doc_id = 1)")

    def test_thresh_pairs_param_change_raises(self, con):
        _docs(con, [(1, "a b c d e"), (2, "a b c d f")])
        preds = {"t_jac08": f"{seg.JAC_EXPR} >= 0.8"}
        seg._mat_thresh_pairs(con, max_df=None, predicates=preds)
        with pytest.raises(RuntimeError, match="params"):
            seg._mat_thresh_pairs(con, max_df=5, predicates=preds)

    def test_lsh_pairs_param_change_raises(self, con):
        _docs(con, [(1, "a b c d e"), (2, "a b c d e")])
        seg._mat_lsh_pairs(con, p="t", max_bucket=2000)
        with pytest.raises(RuntimeError, match="params"):
            seg._mat_lsh_pairs(con, p="t", max_bucket=7)


class TestSegmentedComponentsEquivalence:
    def test_matches_recursive_closure(self, con):
        # Two chains, a triangle, an isolated pair: min-label propagation
        # with path compression must reproduce LEAST(id, min reachable).
        con.execute("CREATE TABLE pr (doc1 BIGINT, doc2 BIGINT)")
        edges = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21), (30, 31), (31, 32), (32, 33), (33, 34)]
        con.executemany("INSERT INTO pr VALUES (?, ?)", edges)
        seg._segmented_components(con, "pr", out="lbl_t")
        got = dict(con.execute("SELECT id, lbl FROM lbl_t").fetchall())
        want = dict(
            con.execute(
                """WITH RECURSIVE e AS (SELECT doc1 a, doc2 b FROM pr UNION SELECT doc2, doc1 FROM pr),
                   reach(a, b) AS (SELECT a, a FROM (SELECT a FROM e UNION SELECT b FROM e)
                                   UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
                   SELECT a, MIN(b) FROM reach GROUP BY a"""
            ).fetchall()
        )
        assert got == want


class TestSegmentedPagerankEquivalence:
    def test_matches_oneshot_quantized_iteration(self, con):
        # 4-node graph with a dangling node (4 has no out-edges as 'D4').
        edges_sql = (
            "SELECT * FROM (VALUES ('A','B'), ('A','C'), ('B','C'), ('C','A'), ('C','D')) t(src, dst)"
        )
        rows = seg._segmented_pagerank(con, edges_sql, seeds=None, max_iter=10, k=100)
        got = {r[0]: r[1] for r in rows}

        # Reference: the same reset/damping/quantization iterated in Python.
        edges = [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A"), ("C", "D")]
        out: dict[str, list[str]] = {}
        for s, d in edges:
            out.setdefault(s, []).append(d)
        scale, reset = 1e9, 0.15
        rank = {s: 1.0 for s in out}
        for _ in range(10):
            nxt: dict[str, float] = {}
            for s, dsts in out.items():
                w = 1.0 / len(dsts)
                for d in dsts:
                    nxt[d] = nxt.get(d, 0.0) + round(rank.get(s, reset) * w * scale) / scale
            rank = {d: reset + 0.85 * v for d, v in nxt.items()}
        for s in out:
            rank.setdefault(s, reset)
        want = {k: round(v, 6) for k, v in rank.items()}
        assert got == pytest.approx(want)


    @pytest.mark.parametrize("name", ["g4_pagerank_top100", "g5_pagerank_cyclic_top100", "g7_personalized_pagerank"])
    def test_twin_matches_oneshot_on_a_small_graph(self, con, name):
        # fewer than k ranked vertices, and seeds P4/P5 absent from the
        # graph: the final union decides every row here
        con.execute(
            "CREATE TABLE lineitem AS SELECT * FROM (VALUES (1, 1), (1, 2), (2, 2), (2, 3), (3, 7), (4, 8), (4, 9)) "
            "t(l_orderkey, l_partkey)"
        )
        assert seg.TWINS[name](con) == con.execute(entrymod.oracle_sql()[name]).fetchall()


class TestSegmentedWedgeOracles:
    """g6/g9/g10 share the landed tc_e/tc_deg/tc_o graph; each segmented
    twin must be RESULT-identical to the committed one-shot oracle SQL
    (pulled from entrymod, so drift in either side fails here)."""

    @pytest.fixture()
    def licon(self):
        c = duckdb.connect()
        # co-purchase fixture with a clique, shared triangles, a seed part
        # (l_partkey % 1000 == 1 -> 1 and 1001), degree ties (orientation
        # tiebreak), and a degree-1 vertex (excluded from g9's w CTE).
        orders = {
            1: [1, 2, 3, 4],
            2: [3, 4, 5],
            3: [5, 6],
            4: [1001, 2, 7],
            5: [7, 8, 9, 10],
            6: [9, 10, 11],
            7: [2, 5],
        }
        rows = [(o, p) for o, ps in orders.items() for p in ps]
        c.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT)")
        c.executemany("INSERT INTO lineitem VALUES (?, ?)", rows)
        yield c
        c.close()

    def test_g6_triangle_census_matches_oneshot(self, licon):
        got = seg._segmented_triangles(licon, n_batches=4)
        want = licon.execute(entrymod.oracle_sql()["g6_triangle_census"]).fetchall()
        assert got == want

    def test_g10_clustering_matches_oneshot(self, licon):
        got = seg._segmented_clustering_topk(licon, n_batches=4)
        want = licon.execute(entrymod.oracle_sql()["g10_clustering_coefficient"]).fetchall()
        assert got == want
        assert len(got) > 1  # non-vacuous: several vertices carry triangles

    def test_g9_adamic_adar_matches_oneshot(self, licon):
        got = seg._segmented_adamic_adar(licon, n_batches=4)
        want = licon.execute(entrymod.oracle_sql()["g9_adamic_adar"]).fetchall()
        assert got == want
        assert len(got) > 1 and {r[0] for r in got} == {1, 1001}  # both seeds ranked


class TestOracleChoice:
    """verify_local reads lineitem's row count from the parquet footer: at
    or below ONE_SHOT_MAX_ROWS every query keeps its one-shot oracle_sql()
    twin, above it each query in TWINS goes to its segmented twin."""

    @pytest.fixture()
    def sf(self, tmp_path):
        pq.write_table(pa.table({"l_orderkey": [1, 2, 3]}), tmp_path / "lineitem.parquet")
        return str(tmp_path)

    def test_one_shot_at_or_below_the_bound(self, sf, monkeypatch):
        monkeypatch.setattr(verify_local, "ONE_SHOT_MAX_ROWS", 3)
        assert verify_local.pick_oracles(sf) == entrymod.oracle_sql()

    def test_twins_above_the_bound(self, sf, monkeypatch):
        monkeypatch.setattr(verify_local, "ONE_SHOT_MAX_ROWS", 2)
        picked, one_shot = verify_local.pick_oracles(sf), entrymod.oracle_sql()
        assert picked.keys() == one_shot.keys()
        for name, oracle in picked.items():
            assert oracle == seg.TWINS.get(name, one_shot[name])

    def test_every_twin_replaces_a_declared_oracle(self):
        assert len(seg.TWINS) == 14
        assert set(seg.TWINS) <= set(entrymod.queries())
        assert set(seg.TWINS) <= set(entrymod.oracle_sql())
