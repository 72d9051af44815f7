"""G1-G4 graph semantics (SURVEY.md par.2.6, par.1.3): explode/clean rules,
dangling in-degrees, degree-0 preservation, PageRank closed forms."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark import session
from youtubeanalyzerproject_big_data__spark.operators import graph, joins


def test_edges_from_arrays_cleaning(videos):
    edges = graph.edges_from_arrays(videos, "video_id", "related")
    got = {(r["src"], r["dst"]) for r in edges.collect()}
    # null-array (v05) and empty-array (v04) rows dropped; v03 self-loop removed.
    assert ("v03", "v03") not in got
    assert got == {
        ("v01", "v02"), ("v01", "v03"), ("v01", "dangling1"),
        ("v02", "v01"), ("v03", "v01"), ("v06", "v01"), ("v06", "v02"),
    }


def test_in_degree_includes_dangling(videos):
    edges = graph.edges_from_arrays(videos, "video_id", "related")
    indeg = {r["dst"]: r["in_degree"] for r in graph.in_degrees(edges).collect()}
    assert indeg["dangling1"] == 1  # id absent from videos still counted (par.1.3)
    assert indeg["v01"] == 3


def test_degree_zero_preserved_by_left_join(videos):
    edges = graph.edges_from_arrays(videos, "video_id", "related")
    out = joins.left_join_fill_zero(
        videos.select(F.col("video_id").alias("src")), graph.out_degrees(edges), "src", ["out_degree"]
    )
    deg = {r["src"]: r["out_degree"] for r in out.collect()}
    assert deg["v04"] == 0 and deg["v05"] == 0  # invariant 2


def test_pagerank_two_node_cycle(spark):
    edges = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    ranks = {r["id"]: r["pagerank"] for r in graph.pagerank(edges, max_iter=10).collect()}
    # symmetric cycle: both converge to exactly 1.0
    assert ranks == {"a": pytest.approx(1.0), "b": pytest.approx(1.0)}


def test_pagerank_chain_closed_form(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    ranks = {r["id"]: r["pagerank"] for r in graph.pagerank(edges, max_iter=10).collect()}
    # a has no in-links -> resetProb; b = 0.15 + 0.85*rank(a); fixpoint after 2 iters
    assert ranks["a"] == pytest.approx(0.15)
    assert ranks["b"] == pytest.approx(0.15 + 0.85 * 0.15)


def test_pagerank_mass_conservation_no_dangling(spark):
    # 3-cycle: stochastic, no dangling mass -> sum of ranks == N
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string")
    total = sum(r["pagerank"] for r in graph.pagerank(edges, max_iter=10).collect())
    assert total == pytest.approx(3.0, abs=1e-6)


def test_top_influencers_shape(videos):
    edges = graph.edges_from_arrays(videos, "video_id", "related")
    top = graph.top_influencers(graph.pagerank(edges, max_iter=5), k=3).collect()
    assert len(top) == 3
    assert top[0]["pagerank"] >= top[1]["pagerank"] >= top[2]["pagerank"]
    # v01 has the most in-links (3) -> highest rank
    assert top[0]["id"] == "v01"


def test_densify_min_related_filter(videos):
    """F1: the pre-graph densification filter (PageRank_Spark_v5.py:61)."""
    kept2 = {r["video_id"] for r in graph.densify(videos, "related", 2).collect()}
    all_ids = {r["video_id"] for r in videos.collect()}
    sizes = {r["video_id"]: r["n"] for r in videos.select("video_id", F.size("related").alias("n")).collect()}
    assert kept2 == {v for v in all_ids if sizes[v] is not None and sizes[v] >= 2}
    # null related arrays -> size is null (Spark 4 non-legacy) -> filtered out
    assert graph.densify(videos, "related", 0).count() == sum(1 for v in all_ids if sizes[v] is not None)


def test_connected_components_chain_and_clusters(spark):
    """Distributed star rounds: chains converge to the smallest member."""
    edges = spark.createDataFrame(
        # component {1,2,3,4} as a chain; component {10,11}; {20,21,22} star
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (22, 20)],
        "src long, dst long",
    )
    out = {
        r["id"]: r["component"]
        for r in graph.connected_components_star(edges, small_graph_threshold=0).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_label_propagation_zero_iterations_identity(spark):
    """max_iter=0 returns identity labels (ADVICE r10: the delta loop left
    cur unset and crashed on the final join)."""
    df = spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string")
    out = {r["id"]: r["label"] for r in graph.label_propagation(df, max_iter=0).collect()}
    assert out == {"a": "a", "b": "b"}


def test_star_components_match_min_label(spark):
    """large-star/small-star labels every vertex with its component's
    minimum on mixed component shapes (chain, pair, star).  Self-loops are
    excluded: the star variant drops them (callers pre-filter;
    edges_from_pairs does)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (22, 20)],
        "src long, dst long",
    )
    star = {r["id"]: r["component"] for r in graph.connected_components_star(edges).collect()}
    assert star == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_star_components_chain_rounds_logarithmic(spark):
    """A 64-node chain must converge in ~log(n) alternating rounds -- the
    whole point of the algorithm vs O(diameter) label propagation."""
    n = 64
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], "src long, dst long")
    rounds: list = []
    out = {
        r["id"]: r["component"]
        for r in graph.connected_components_star(
            edges, small_graph_threshold=0, _round_counter=rounds
        ).collect()
    }
    assert out == {i: 0 for i in range(n + 1)}
    assert rounds and 0 < rounds[0] <= 10, f"chain of {n} took {rounds} rounds"


def test_star_components_fast_path_equals_distributed(spark):
    """The driver union-find fast path must return exactly the distributed
    star rounds' labels (same min-label contract)."""
    import random

    rng = random.Random(7)
    edges = spark.createDataFrame(
        [(rng.randrange(200), rng.randrange(200)) for _ in range(150)], "src long, dst long"
    )
    fast = {r["id"]: r["component"] for r in graph.connected_components_star(edges).collect()}
    dist = {
        r["id"]: r["component"]
        for r in graph.connected_components_star(edges, small_graph_threshold=0).collect()
    }
    assert fast == dist and len(fast) > 0


def test_triangle_count_known_graphs(spark):
    from youtubeanalyzerproject_big_data__spark.operators.graph import triangle_count

    # K4: 6 edges, 4 triangles, every oriented wedge closes
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    r = triangle_count(spark.createDataFrame(k4, "src long, dst long")).collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (6, 4)
    assert r["n_wedges"] == r["n_triangles"]  # K4 closes every wedge

    # square + one diagonal: 5 edges, 2 triangles; dup/reversed/self edges ignored
    sq = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (2, 1), (3, 3), (1, 2)]
    r = triangle_count(spark.createDataFrame(sq, "src long, dst long")).collect()[0]
    assert (r["n_edges"], r["n_triangles"]) == (5, 2)

    # path graph: no triangles, no oriented wedges (both endpoints orient inward)
    r = triangle_count(spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")).collect()[0]
    assert (r["n_edges"], r["n_wedges"], r["n_triangles"]) == (2, 0, 0)


def _rank_replica(edges, seeds=None, reset=0.15, max_iter=10):
    """Pure-Python replay of graph._rank_rounds' quantized recurrence plus
    the final held-vertex step: PageRank when ``seeds`` is None (held: every
    src), personalized PageRank otherwise (held: the seeds; zero ranks
    dropped).  Same IEEE operations in the same order as the engine."""
    from collections import Counter, defaultdict

    outd = Counter(s for s, _ in edges)
    on = (lambda v: True) if seeds is None else (lambda v: v in seeds)
    ranks = None
    for _ in range(max_iter):
        contrib = defaultdict(int)
        for s, d in edges:
            r = (1.0 if on(s) else 0.0) if ranks is None else ranks.get(s, reset if on(s) else 0.0)
            contrib[d] += int(round(r * (1.0 / outd[s]) * 1e9))
        ranks = {d: (reset if on(d) else 0.0) + (1.0 - reset) * (c / 1e9) for d, c in contrib.items()}
    ranks = ranks or {}
    held = {s for s, _ in edges} if seeds is None else set(seeds)
    out = dict(ranks) if seeds is None else {v: r for v, r in ranks.items() if r > 0}
    out.update({v: reset for v in held - set(ranks)})
    return {v: round(r, 6) for v, r in out.items()}


def test_personalized_pagerank_matches_python_replica(spark):
    """Tiny-graph PPR equals a literal Python replay of the quantized
    iteration; unreachable vertices are absent; sink seeds hold reset."""
    from youtubeanalyzerproject_big_data__spark.operators.graph import personalized_pagerank

    edges = [("A", "B"), ("B", "A"), ("A", "C"), ("X", "Y")]  # X,Y unreachable from A
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r["id"]: r["pagerank"] for r in personalized_pagerank(df, ["A"], 0.15, max_iter=10).collect()}
    assert out == _rank_replica(edges, ["A"])
    assert "X" not in out  # zero rank, excluded
    assert out["A"] > out["B"] > 0 and out["C"] > 0


_DEGENERATE_GRAPHS = {
    "single_edge": [("a", "b")],
    "all_dangling_star": [("h", f"l{i}") for i in range(5)],
    "self_loops_only": [("a", "a"), ("b", "b")],
    "duplicate_edges": [("a", "b"), ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"), ("c", "a")],
}


@pytest.mark.parametrize("case", sorted(_DEGENERATE_GRAPHS))
def test_rank_functions_on_degenerate_graphs(spark, case):
    """ROADMAP item 5 for both rank functions: each degenerate graph, after
    edges_from_pairs' cleaning (self-loops dropped, duplicates kept as
    multiplicity), matches the Python replica -- an empty graph yields an
    empty PageRank and only the held seeds for PPR, never an exception."""
    rows = _DEGENERATE_GRAPHS[case]
    edges = graph.edges_from_pairs(spark.createDataFrame(rows, "src string, dst string"), "src", "dst")
    clean = [(s, d) for s, d in rows if s != d]
    assert sorted(tuple(r) for r in edges.collect()) == sorted(clean)
    pr = {r["id"]: r["pagerank"] for r in graph.pagerank(edges).collect()}
    assert pr == _rank_replica(clean)
    for seeds in (["a"], ["b", "h"], []):
        ppr = {r["id"]: r["pagerank"] for r in graph.personalized_pagerank(edges, seeds).collect()}
        assert ppr == _rank_replica(clean, seeds), seeds


def test_repeated_seeds_count_once(spark):
    """A seed listed twice is one seed: every seeded loop returns the same
    rows as for the seed listed once, with no id twice (row lists, which
    the dict-built degenerate-graph checks cannot see)."""
    rows = _DEGENERATE_GRAPHS["all_dangling_star"]
    edges = graph.edges_from_pairs(spark.createDataFrame(rows, "src string, dst string"), "src", "dst")
    weighted = edges.withColumn("w", F.lit(1).cast("long"))
    for run in (
        lambda seeds: graph.personalized_pagerank(edges, seeds),
        lambda seeds: graph.k_hop_distances(edges, seeds),
        lambda seeds: graph.weighted_shortest_paths(weighted, seeds),
    ):
        once = sorted(tuple(r) for r in run(["h"]).collect())
        assert sorted(tuple(r) for r in run(["h", "h"]).collect()) == once
        assert len({r[0] for r in once}) == len(once) == 6


def _random_rank_graph(seed: int) -> list:
    """A seeded graph with duplicate edges, dangling dst ids (``d*``, never
    a src), src-only vertices (``s*``, never a dst) and rank ties (two
    identical 2-cycles, and every src-only vertex at reset).  Its src
    ``s0`` has out-degree 1024, so its round-1 contributions are
    1e9 / 1024 = 976562.5 units, where HALF_UP and half-to-even differ;
    with the round-1 contributions of srcs of out-degree 2, 35 and 41,
    that one unit moves ``z``'s 1-round PageRank across a 6-place rounding
    boundary (0.620848 against 0.620847)."""
    import random

    rng = random.Random(seed)
    core = [f"v{i}" for i in range(12)]
    rows = [(rng.choice(core), rng.choice(core + ["d0", "d1"])) for _ in range(40)]
    rows += [(f"s{i}", rng.choice(core)) for i in range(3)]
    rows += [("t0", "t1"), ("t1", "t0"), ("u0", "u1"), ("u1", "u0")]
    rows += [("s0", f"w{i}") for i in range(1022)] + [("s0", "z")]
    for deg in (2, 35, 41):
        rows += [(f"p{deg}", "z")] + [(f"p{deg}", f"f{deg}_{i}") for i in range(deg - 1)]
    rows += rows[:5]  # duplicates count as multiplicity
    return [(s, d) for s, d in rows if s != d]


# seeds: repeated ("v0" twice), absent ("nope"), a sink ("d0") and a
# src-only vertex ("s0")
_MIXED_SEEDS = ["v0", "nope", "v0", "d0", "s0"]

# case -> (edge rows, or None for a source with no partitions; PPR seeds).
# The rank functions keep null ids (edges_from_pairs would drop them): a
# null src, and in the integer case a null dst too, which pandas sees as a
# float column.
_RANK_CASES = {
    "random_7": (_random_rank_graph(7), _MIXED_SEEDS),
    "random_2027": (_random_rank_graph(2027), _MIXED_SEEDS + ["t0"]),
    "empty": ([], ["a", "a"]),
    "no_partitions": (None, ["a"]),
    "single_edge": ([("a", "b")], ["b", "zz", "b"]),
    "null_src": ([(None, "a"), ("a", "b"), ("b", "a"), (None, "b")], ["a", None]),
    "null_ids_long": ([(None, 1), (1, 2), (2, 1), (3, None), (2**40, 1)], [1, 7]),
}


@pytest.mark.parametrize("max_iter", [1, 3, 10])
@pytest.mark.parametrize("case", sorted(_RANK_CASES))
def test_one_task_kernel_matches_rounds(spark, monkeypatch, case, max_iter):
    """The one-task numpy kernel and the Spark rounds return identical rows
    (not just equal ranks: the same ids, each as often) for pagerank and
    personalized_pagerank, with the one-piece decision forced each way."""
    rows, seeds = _RANK_CASES[case]
    schema = "src long, dst long" if case.endswith("_long") else "src string, dst string"
    edges = spark.createDataFrame(spark.sparkContext.emptyRDD() if rows is None else rows, schema)
    if rows is None:
        assert edges.rdd.getNumPartitions() == 0
    for run in (
        lambda: graph.pagerank(edges, max_iter=max_iter),
        lambda: graph.personalized_pagerank(edges, seeds, max_iter=max_iter),
    ):
        out = {}
        for one_piece in (False, True):
            monkeypatch.setattr(graph, "_fits_one_piece", lambda e, w, one=one_piece: one)
            out[one_piece] = sorted((tuple(r) for r in run().collect()), key=repr)
        assert out[True] == out[False]
    if rows is None:
        assert out[True] == [("a", 0.15)]  # the kernel ran: an absent seed holds reset


def test_rank_sum_overflow_raises_on_both_paths(spark, monkeypatch):
    """A per-dst contribution sum past the long range raises on the kernel
    as Spark's ANSI sum does on the rounds, never wraps: three 4e18-unit
    contributions into one dst overflow a long."""
    edges = spark.createDataFrame([("a", "z"), ("b", "z"), ("c", "z")], "src string, dst string")
    monkeypatch.setattr(graph, "CONTRIB_SCALE", 4e18)
    for one_piece in (False, True):
        monkeypatch.setattr(graph, "_fits_one_piece", lambda e, w, one=one_piece: one)
        with pytest.raises(Exception, match="(?i)overflow"):
            graph.pagerank(edges, max_iter=1).collect()


def test_one_task_kernel_refuses_inexact_integer_ids(spark, monkeypatch):
    """An integer id column reaches pandas as float64 in an Arrow batch
    that holds a null, exact only below 2**53: the kernel raises on a
    larger id there rather than rank a rounded one (one source partition,
    so both rows share a batch)."""
    edges = spark.createDataFrame([(None, 1), (2**60 + 1, 1)], "src long, dst long").coalesce(1)
    monkeypatch.setattr(graph, "_fits_one_piece", lambda e, w: True)
    with pytest.raises(Exception, match=r"2\*\*53"):
        graph.pagerank(edges, max_iter=1)


def _bfs_replica(edges, seeds, max_hops=3):
    hops = dict.fromkeys(seeds, 0)
    frontier = set(seeds)
    for h in range(1, max_hops + 1):
        frontier = {d for s, d in edges if s in frontier} - hops.keys()
        hops.update(dict.fromkeys(frontier, h))
    return hops


def _bellman_ford_replica(edges, seeds, max_hops=3):
    dist = dict.fromkeys(seeds, 0)
    for _ in range(max_hops):
        relaxed = dict(dist)
        for s, d, w in edges:
            if s in dist:
                relaxed[d] = min(relaxed.get(d, dist[s] + w), dist[s] + w)
        dist = relaxed
    return dist


def _label_propagation_replica(edges, max_iter=2):
    from collections import Counter

    labels = {v: v for e in edges for v in e}
    for _ in range(max_iter):
        best = {}
        for (v, label), c in Counter((d, labels[s]) for s, d in edges).items():
            best[v] = min(best.get(v, (-c, label)), (-c, label))
        labels = {v: best[v][1] if v in best else label for v, label in labels.items()}
    return labels


def _kcore_replica(edges, k, max_rounds=10):
    nbrs = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
        nbrs.setdefault(d, set()).add(s)
    for _ in range(max_rounds):
        removed = {v for v, n in nbrs.items() if len(n) < k}
        if not removed:
            break
        nbrs = {v: n - removed for v, n in nbrs.items() if v not in removed}
    return {v: len(n) for v, n in nbrs.items() if n}


def _components_replica(edges):
    comp = {v: v for e in edges for v in e}
    changed = True
    while changed:
        changed = False
        for s, d in edges:
            if comp[s] != comp[d]:
                comp[s] = comp[d] = min(comp[s], comp[d])
                changed = True
    return comp


def _hits_rows(edges, k=20):
    if not edges:
        return []
    rows = []
    for role, scores in zip(("authority", "hub"), _ref_hits(edges)):
        top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        rows += [(role, rank, v, score) for rank, (v, score) in enumerate(top, 1)]
    return rows


@pytest.mark.parametrize("case", sorted({**_DEGENERATE_GRAPHS, "empty": []}))
def test_loops_on_degenerate_graphs(spark, case, tmp_path):
    """ROADMAP item 5 for the other loops: each degenerate graph and an
    empty edge table, read from parquet (so Catalyst sizes it) and cleaned
    by edges_from_pairs, takes the one-piece layout, and every loop matches
    its Python replica without raising.  On an empty graph k-hop and
    Bellman-Ford return only the seeds (at 0) and the others return
    nothing."""
    rows = {**_DEGENERATE_GRAPHS, "empty": []}[case]
    path = str(tmp_path / "edges")
    spark.createDataFrame(rows, "src string, dst string").write.parquet(path)
    edges = graph.edges_from_pairs(spark.read.parquet(path), "src", "dst")
    clean = [(s, d) for s, d in rows if s != d]
    assert session.loop_partitions(edges) == 1
    seeds = ["a", "h", "zz"]  # zz is in no graph

    def by_id(df, col):
        return {r["id"]: r[col] for r in df.collect()}

    hops = by_id(graph.k_hop_distances(edges, seeds), "hops")
    weighted = edges.withColumn("w", F.length("dst").cast("long"))
    dist = by_id(graph.weighted_shortest_paths(weighted, seeds), "dist")
    labels = by_id(graph.label_propagation(edges), "label")
    core = {r["src"]: r["core_degree"] for r in graph.kcore(edges, k=2).collect()}
    fast, distributed = (  # union-find fast path, star rounds
        by_id(graph.connected_components_star(edges, small_graph_threshold=t), "component") for t in (100_000, 0)
    )
    authorities_hubs = [tuple(r) for r in graph.hits(edges).collect()]
    assert hops == _bfs_replica(clean, seeds)
    assert dist == _bellman_ford_replica([(s, d, len(d)) for s, d in clean], seeds)
    assert labels == _label_propagation_replica(clean)
    assert core == _kcore_replica(clean, 2)
    assert fast == distributed == _components_replica(clean)
    assert authorities_hubs == _hits_rows(clean)
    if not clean:
        assert hops == dist == dict.fromkeys(seeds, 0)
        assert not (labels or core or fast or authorities_hubs)


def test_loop_partitions_empty_table_is_one_partition(spark, tmp_path):
    """An empty edge table lays out as one partition, and both rank
    functions return an empty frame over it."""
    path = str(tmp_path / "edges")
    spark.createDataFrame([], "src string, dst string").write.parquet(path)
    edges = spark.read.parquet(path)
    assert session.loop_partitions(edges) == 1
    assert graph.pagerank(edges).count() == 0
    assert graph.personalized_pagerank(edges, []).count() == 0


def test_loop_partitions_crawl_sized_graph_is_one_partition(spark, tmp_path):
    """A crawl-shaped graph (~38.7k related-video edges, 11-char ids) fits
    one AQE minimum partition by Catalyst's estimate: one partition."""
    n_v = 7_740
    videos = spark.createDataFrame(
        [(f"v{i:010d}", [f"v{(i * 31 + k * 977) % n_v:010d}" for k in range(5)]) for i in range(n_v)],
        "video_id string, related array<string>",
    )
    path = str(tmp_path / "videos")
    videos.write.parquet(path)
    edges = graph.edges_from_arrays(graph.densify(spark.read.parquet(path), "related"), "video_id", "related")
    assert session.loop_partitions(edges) == 1


def test_loop_partitions_large_graph_capped_by_spark_confs(spark):
    """A 200k-edge graph is laid out in spark.sql.shuffle.partitions pieces;
    the rule reads only Spark's own confs (minPartitionSize and the shuffle
    partition cap), so changing them moves the answer."""
    import inspect

    from pyspark.sql import functions as F

    edges = spark.range(200_000).select(F.col("id").alias("src"), (F.col("id") * 7 % 5_000).alias("dst"))
    assert session.loop_partitions(edges) == int(spark.conf.get("spark.sql.shuffle.partitions"))
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        assert session.loop_partitions(edges) == 3
        spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64MB")
        assert session.loop_partitions(edges) == 1
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "environ" not in inspect.getsource(session.loop_partitions)


def test_personalized_pagerank_sink_seed(spark):
    """A seed with no in-edges still appears, at exactly reset_prob."""
    from youtubeanalyzerproject_big_data__spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame([("S", "B")], "src string, dst string")
    out = {r["id"]: r["pagerank"] for r in personalized_pagerank(df, ["S"], 0.15, max_iter=3).collect()}
    assert out["S"] == 0.15
    assert out["B"] > 0


def test_k_hop_distances_exact_min_hops(spark):
    from youtubeanalyzerproject_big_data__spark.operators.graph import k_hop_distances

    # path a->b->c->d->e plus shortcut a->c; undirected not required
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("a", "c")], "src string, dst string"
    )
    out = {r["id"]: r["hops"] for r in k_hop_distances(e, ["a"], max_hops=3).collect()}
    assert out == {"a": 0, "b": 1, "c": 1, "d": 2, "e": 3}  # shortcut wins for c


def test_k_hop_distances_seed_not_in_graph_and_multi_seed(spark):
    from youtubeanalyzerproject_big_data__spark.operators.graph import k_hop_distances

    e = spark.createDataFrame([("x", "y")], "src string, dst string")
    out = {r["id"]: r["hops"] for r in k_hop_distances(e, ["x", "ghost"], max_hops=2).collect()}
    assert out == {"x": 0, "ghost": 0, "y": 1}


def test_k_hop_distances_integer_ids(spark):
    """Integer-typed vertex ids work end-to-end (the r11 g8/g14 narrow-id
    encoding): seed schema must follow the edge id type."""
    from youtubeanalyzerproject_big_data__spark.operators.graph import k_hop_distances

    e = spark.createDataFrame([(2, 3), (3, 4), (4, 6)], "src long, dst long")
    out = {r["id"]: r["hops"] for r in k_hop_distances(e, [2], max_hops=2).collect()}
    assert out == {2: 0, 3: 1, 4: 2}


def test_weighted_shortest_paths_integer_ids(spark):
    from youtubeanalyzerproject_big_data__spark.operators.graph import weighted_shortest_paths

    e = spark.createDataFrame([(2, 3, 10), (3, 4, 1), (2, 4, 20)], "src long, dst long, w long")
    out = {r["id"]: r["dist"] for r in weighted_shortest_paths(e, [2], max_hops=3).collect()}
    assert out == {2: 0, 3: 10, 4: 11}  # 2->3->4 beats direct 2->4


def test_label_propagation_two_triangles(spark):
    from youtubeanalyzerproject_big_data__spark.operators.graph import label_propagation

    tri = [("a", "b"), ("b", "c"), ("a", "c"), ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")]
    edges = tri + [(d, s) for s, d in tri]  # undirected
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r["id"]: r["label"] for r in label_propagation(df, max_iter=2).collect()}
    # round 1: everyone adopts min neighbor label; round 2 consolidates the
    # 'a' community; trajectory is deterministic
    assert out["a"] == "a" and out["b"] == "a" and out["c"] == "a"
    assert len(out) == 6


def test_label_propagation_isolated_vertex_keeps_label(spark):
    from youtubeanalyzerproject_big_data__spark.operators.graph import label_propagation

    # 'solo' only appears as src (dangling dst side absent): it is never a
    # dst, so nothing propagates INTO it; it must keep its own label.
    df = spark.createDataFrame([("solo", "hub"), ("hub", "other"), ("other", "hub")], "src string, dst string")
    out = {r["id"]: r["label"] for r in label_propagation(df, max_iter=2).collect()}
    assert out["solo"] == "solo"


def test_adamic_adar_hand_computed(spark):
    import math

    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.operators.graph import adamic_adar

    # Graph: seed 1 -- 2, 1 -- 3;  2 -- 4, 3 -- 4, 2 -- 5.
    # Candidates for 1: 4 (via 2 and 3), 5 (via 2).  deg(2)=3, deg(3)=2.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (2, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "seed long")
    out = {r["dst"]: r for r in adamic_adar(edges, seeds, k=5).collect()}
    assert set(out) == {4, 5}  # 2 and 3 are existing neighbors, excluded
    w2 = math.floor(1e6 / math.log(3))
    w3 = math.floor(1e6 / math.log(2))
    assert out[4]["aa_micro"] == w2 + w3 and out[4]["n_common"] == 2
    assert out[5]["aa_micro"] == w2 and out[5]["n_common"] == 1
    assert out[4]["rank"] == 1 and out[5]["rank"] == 2


def test_clustering_coefficient_hand_computed(spark):
    from youtubeanalyzerproject_big_data__spark.operators.graph import clustering_coefficient_topk

    # K4 on {1,2,3,4} plus pendant 5-1: every K4 vertex is in 3 triangles;
    # deg(1)=4 -> C(1) = 2*3/(4*3) = 0.5; deg(2..4)=3 -> C = 2*3/(3*2) = 1.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 1)], "src long, dst long"
    )
    out = {r["v"]: r for r in clustering_coefficient_topk(edges, k=10).collect()}
    assert 5 not in out  # degree-1 vertex excluded
    assert out[1]["n_triangles"] == 3 and out[1]["clustering_coef"] == 0.5
    for v in (2, 3, 4):
        assert out[v]["n_triangles"] == 3 and out[v]["clustering_coef"] == 1.0


def test_degree_assortativity_signs(spark):
    from youtubeanalyzerproject_big_data__spark.operators.graph import degree_assortativity

    # Star K1,4: hub degree 4 joined only to degree-1 leaves -> perfectly
    # disassortative, r = -1.
    star = spark.createDataFrame([(0, i) for i in range(1, 5)], "src long, dst long")
    out = degree_assortativity(star).collect()[0]
    assert out["n_edges"] == 4 and out["assortativity"] == -1.0
    # 3-regular graph (K4): zero degree variance -> r = 0 by convention.
    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], "src long, dst long"
    )
    assert degree_assortativity(k4).collect()[0]["assortativity"] == 0.0


def test_adamic_adar_weight_floor_is_libm_stable():
    """g9's floor(1e6/ln(d)) weight is engine-portable only if no degree
    puts the quotient within libm-disagreement range of an integer
    (ADVICE r5 item 2).  Exhaustively sweep every degree up to 1e7: the
    closest integer approach must exceed the worst few-ULP cross-libm
    perturbation (<= ~1e-9 at |w| <= 1.45e6) by >= 100x."""
    import numpy as np

    min_dist = 1.0
    for lo in range(2, 10_000_002, 1_000_000):
        d = np.arange(lo, min(lo + 1_000_000, 10_000_002), dtype=np.float64)
        w = 1e6 / np.log(d)
        min_dist = min(min_dist, float(np.abs(w - np.round(w)).min()))
    ulp_residual = 1e6 / np.log(2.0) * 2.0**-52  # |w|max * ulp
    assert min_dist >= 1.5e-7, min_dist  # measured true min: 1.614e-7
    assert min_dist > 100 * ulp_residual


def test_prepared_weighted_edges_shared_across_rank_variants(spark):
    """g5/g7 must reuse ONE prepare_weighted_edges handle per (session,
    sf, graph kind) instead of rebuilding edges->repartition->weight->cache
    per variant (VERDICT r5 item 6): the memo returns the identical cached
    DataFrame object, pagerank never unpersists a caller-owned handle, and
    results match the self-built path exactly."""
    from youtubeanalyzerproject_big_data__spark import contract
    from youtubeanalyzerproject_big_data__spark.operators.graph import pagerank, prepare_weighted_edges

    sf = "/root/testdata/sf0.001"
    h1 = contract.graph._prepared_pagerank_edges(spark, sf, "cyclic")
    h2 = contract.graph._prepared_pagerank_edges(spark, sf, "cyclic")
    assert h1 is h2  # memo hit: one edge build per handle
    expected = sorted(tuple(r) for r in contract.graph.q_pagerank_cyclic(spark, sf).collect())
    assert h1.is_cached  # the rank call must NOT release the shared handle
    # caller-owned handle path == self-built path, row for row
    own = pagerank(h1.select("src", "dst"), reset_prob=0.15, max_iter=10)
    reused = pagerank(None, reset_prob=0.15, max_iter=10, weighted=h1)
    assert sorted(tuple(r) for r in own.collect()) == sorted(tuple(r) for r in reused.collect())
    del expected


def test_prepared_edges_memo_bounded_across_sf_switches(spark):
    """Memo lifecycle audit (VERDICT r6 item 8): the one sanctioned
    long-lived cache must stay BOUNDED across a multi-sf verify sweep --
    switching sf dirs evicts AND unpersists the previous graph's handles,
    so a sf0.01+sf0.1+sf1 run never holds three graphs of cached edges.
    Within one sf, both kinds (fwd + cyclic) may be live: that cap is 2."""
    from youtubeanalyzerproject_big_data__spark import contract

    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    # clean slate for this session (other tests may have populated the memo)
    for k in list(contract.graph._PAGERANK_EDGE_HANDLES):
        contract.graph._PAGERANK_EDGE_HANDLES.pop(k).unpersist()

    ha_f = contract.graph._prepared_pagerank_edges(spark, sf_a, "fwd")
    ha_c = contract.graph._prepared_pagerank_edges(spark, sf_a, "cyclic")
    assert len(contract.graph._PAGERANK_EDGE_HANDLES) == 2
    lvl = ha_f.storageLevel
    assert lvl.useMemory or lvl.useDisk

    hb_c = contract.graph._prepared_pagerank_edges(spark, sf_b, "cyclic")
    # the sf switch evicted BOTH sf_a handles and released their cache
    assert len(contract.graph._PAGERANK_EDGE_HANDLES) == 1
    for stale in (ha_f, ha_c):
        lvl = stale.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), "stale sf handle still cached"
    lvl = hb_c.storageLevel
    assert lvl.useMemory or lvl.useDisk
    # keys carry the applicationId, so a different session could never hit
    (app, sf, kind), = contract.graph._PAGERANK_EDGE_HANDLES
    assert app == spark.sparkContext.applicationId and sf == sf_b and kind == "cyclic"
    # leave the memo empty for whoever runs next
    contract.graph._PAGERANK_EDGE_HANDLES.pop((app, sf, kind)).unpersist()


def test_copurchase_cap_drops_degenerate_group(spark):
    """g12: a group over max_group_size contributes NOTHING (the whole
    point -- its g*(g-1)/2 pairs would run in one task); within-cap groups
    expand exactly, duplicates and nulls ignored.  The cap is inclusive: a
    group of exactly 8 distinct items is kept, one of 9 is dropped."""
    from youtubeanalyzerproject_big_data__spark.operators.graph import copurchase_edges

    rows = (
        [("big", i) for i in range(10)]
        + [("ok", 100), ("ok", 101), ("ok", 102), ("ok", 101), ("nil", None)]
        + [("at_cap", 200 + i) for i in range(8)] + [("at_cap", 200)]
        + [("over_cap", 300 + i) for i in range(9)]
    )
    df = spark.createDataFrame(rows, "g string, i long")
    out = sorted(tuple(r) for r in copurchase_edges(df, "g", "i", max_group_size=8).collect())
    at_cap = [(200 + a, 200 + b) for a in range(8) for b in range(a + 1, 8)]
    assert out == [(100, 101), (100, 102), (101, 102)] + at_cap
    # uncapped: C(10,2) + 3 + C(8,2) + C(9,2) pairs
    assert copurchase_edges(df, "g", "i").count() == 45 + 3 + 28 + 36


def test_kcore_peels_chain_keeps_clique(spark):
    from youtubeanalyzerproject_big_data__spark.operators import graph

    # 4-clique {1,2,3,4} + tail 4-5-6: k=3 must peel the tail over TWO
    # cascading rounds (6 first, then 5) and keep exactly the clique.
    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = spark.createDataFrame(clique + [(4, 5), (5, 6)], "src long, dst long")
    out = graph.kcore(edges, k=3).orderBy("src").collect()
    assert [(r["src"], r["core_degree"]) for r in out] == [(1, 3), (2, 3), (3, 3), (4, 3)]


def test_kcore_empty_when_graph_unravels(spark):
    from youtubeanalyzerproject_big_data__spark.operators import graph

    # a path graph has max degree 2: the 3-core is empty
    edges = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], "src long, dst long")
    assert graph.kcore(edges, k=3).count() == 0


def test_kcore_max_rounds_caps_the_peel(spark):
    from youtubeanalyzerproject_big_data__spark.operators import graph

    # chain 1-2-3-4-5 with k=2: each round peels only the current
    # endpoints, so max_rounds=1 stops after one synchronous deletion --
    # survivors are the inner path 2-3-4 (degree 2,1-ish recount):
    # round 1 drops {1,5}; remaining edges 2-3,3-4.
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long")
    out = graph.kcore(edges, k=2, max_rounds=1)
    assert sorted(r["src"] for r in out.collect()) == [2, 3, 4]


def test_weighted_paths_prefer_cheap_multi_hop(spark):
    from youtubeanalyzerproject_big_data__spark.operators import graph

    # direct edge costs 100; the two-hop detour costs 20 -- min-plus must
    # take the detour (the distinction from BFS hop counting)
    edges = spark.createDataFrame(
        [("a", "b", 10), ("b", "c", 10), ("a", "c", 100)], "src string, dst string, w long"
    )
    out = {r["id"]: r["dist"] for r in graph.weighted_shortest_paths(edges, ["a"], max_hops=3).collect()}
    assert out == {"a": 0, "b": 10, "c": 20}


def test_weighted_paths_hop_bound_limits_reach(spark):
    from youtubeanalyzerproject_big_data__spark.operators import graph

    chain = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1), ("c", "d", 1)], "src string, dst string, w long"
    )
    out = {r["id"]: r["dist"] for r in graph.weighted_shortest_paths(chain, ["a"], max_hops=2).collect()}
    assert out == {"a": 0, "b": 1, "c": 2}  # d needs 3 hops -> absent


def _ref_hits(edges, rounds=3, quantum=1_000_000):
    """Driver-side integer replay of graph.hits' recurrence (exact int64
    arithmetic, so dict iteration order cannot matter)."""
    edges = sorted({(s, d) for s, d in edges if s != d})
    a, h = {}, None
    for r in range(rounds):
        ar = {}
        for s, d in edges:
            ar[d] = ar.get(d, 0) + (quantum if h is None else h[s])
        m = max(ar.values())
        a = {v: (x * quantum) // m for v, x in ar.items()}
        hr = {}
        for s, d in edges:
            hr[s] = hr.get(s, 0) + a[d]
        m = max(hr.values())
        h = {u: (x * quantum) // m for u, x in hr.items()}
    return a, h


def test_hits_matches_integer_reference(spark):
    from youtubeanalyzerproject_big_data__spark.operators import graph

    # two authorities with different in-degree, hubs with different reach;
    # a duplicate edge and a self-loop exercise the distinct/self-loop prep
    raw = [
        ("a", "x"), ("b", "x"), ("c", "x"), ("a", "y"), ("d", "y"),
        ("a", "y"),  # duplicate
        ("x", "x"),  # self-loop
    ]
    edges = spark.createDataFrame(raw, "src string, dst string")
    out = graph.hits(edges, rounds=3, quantum=1_000_000, k=10).collect()
    ref_a, ref_h = _ref_hits(raw)
    got_a = {r["id"]: r["score_ppm"] for r in out if r["role"] == "authority"}
    got_h = {r["id"]: r["score_ppm"] for r in out if r["role"] == "hub"}
    assert got_a == ref_a
    assert got_h == ref_h
    # max-renormalization: the top score on each side is exactly quantum
    assert max(got_a.values()) == 1_000_000 and max(got_h.values()) == 1_000_000
    # ranks are (score desc, id asc) dense 1..n per role
    for role in ("authority", "hub"):
        rows = sorted((r for r in out if r["role"] == role), key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        keys = [(-r["score_ppm"], r["id"]) for r in rows]
        assert keys == sorted(keys)


def test_hits_star_graph_extremes(spark):
    from youtubeanalyzerproject_big_data__spark.operators import graph

    # pure star: every u_i -> v.  v is the sole authority at quantum; all
    # hubs tie at quantum (each points at the single max authority).
    edges = spark.createDataFrame([(f"u{i}", "v") for i in range(4)], "src string, dst string")
    out = graph.hits(edges, rounds=2, k=10).collect()
    auth = [(r["id"], r["score_ppm"]) for r in out if r["role"] == "authority"]
    hubs = {r["id"]: r["score_ppm"] for r in out if r["role"] == "hub"}
    assert auth == [("v", 1_000_000)]
    assert hubs == {f"u{i}": 1_000_000 for i in range(4)}
