"""Graph operators G1-G4 (SURVEY.md par.2.6) as plain DataFrame programs --
no GraphFrames jar dependency.

Reference pipeline being reproduced (PageRank_Spark_v5.py:52-115,
YoutubeNetworkAgg_Final.py:85-139):
  edges   = explode_outer(related) -> drop null dst -> drop self-loops
  degrees = groupBy(src/dst).count()  [in-degree keeps dangling dst ids --
            golden degreestat sums 22.66M endpoints over 7.78M videos]
  pagerank= damping 0.85, maxIter 10 over the densified subgraph

Scale design:
  * Degrees are single partial+final hash aggregates on the edge table.
  * The PageRank loops lay edges out by ``src`` ONCE, through
    ``session.data_sized`` (one coalesced piece, no shuffle, when the graph
    fits one AQE minimum partition; else a hash repartition), and join the
    ranks to that layout as a pinned shuffle-hash build side: no
    per-round broadcast, the edge table never moves, and a round's only
    exchange is its dst aggregate (none on one piece) -- the
    co-partitioning the reference approximated with repartition(400),
    PageRank_Spark_v5.py:94-95.
  * The other edge-table loops (k-hop, Bellman-Ford, label propagation,
    hits) take their layout from the same rule, keyed by ``src`` (hits'
    hub copy by ``dst``): one coalesced piece below one AQE minimum
    partition, else ``repartition(n, key)``.
  * Every loop pins each round through ``session.pin``, so its plan
    doesn't grow unboundedly (planner OOM / scheduler stalls at scale), and
    that pin releases the round it replaces once nothing lazy reads it;
    the final pin releases the edge caches.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.operators.dedup import _pairs_from_groups
from youtubeanalyzerproject_big_data__spark.session import data_sized, free, pin

CONTRIB_SCALE = 1e9
"""Rank contributions are summed as integer multiples of 1/CONTRIB_SCALE
(see :func:`_rank_rounds`); the DuckDB oracles of g4/g5/g7 replay the same
quantum."""

_HITS_EDGE_STORAGE = StorageLevel.MEMORY_ONLY
"""Storage level for hits' two edge-table caches (src- and dst-partitioned).
MEMORY_ONLY, not the default MEMORY_AND_DISK: A/B at the sf1 replay (r11,
VERDICT r10 item 6) measured 11.8 vs 12.3 s median (cold first sample 13.9
vs 26.9 s), and the dedup-shingle precedent applies -- an iterative
edge-table cache is scan-shaped state whose DISK spill competes with the
shuffle's disk at scale; evicted partitions recompute (CPU) instead."""


def densify(df: DataFrame, related_col: str, min_related: int = 5) -> DataFrame:
    """F1: keep only rows whose related-array has >= min_related entries --
    the reference's graph-densification filter applied BEFORE the expensive
    graph build (PageRank_Spark_v5.py:61), a filter-early design choice
    worth keeping at any scale."""
    return df.where(F.size(related_col) >= min_related)


def edges_from_arrays(df: DataFrame, id_col: str, related_col: str) -> DataFrame:
    """G1: (src, dst) edge list from an id + array<id> column.

    explode_outer keeps empty/null-array rows as null dst, which the
    null-filter then drops -- reference order of operations preserved
    (PageRank_Spark_v5.py:77-92).
    """
    return (
        df.select(F.col(id_col).alias("src"), F.explode_outer(related_col).alias("dst"))
        .where(F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
    )


def edges_from_pairs(df: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """G1 for pair-shaped inputs (e.g. fact tables as bipartite graphs)."""
    return (
        df.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("dst").isNotNull() & F.col("src").isNotNull())
        .where(F.col("src") != F.col("dst"))
    )


def out_degrees(edges: DataFrame) -> DataFrame:
    """G2 (YoutubeNetworkAgg_Final.py:112)."""
    return edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))


def in_degrees(edges: DataFrame) -> DataFrame:
    """G3 -- includes dangling dst ids by construction (SURVEY.md par.1.3)."""
    return edges.groupBy("dst").agg(F.count(F.lit(1)).alias("in_degree"))


def prepare_weighted_edges(edges: DataFrame) -> DataFrame:
    """Build the PageRank-family weighted edge table: lay the edges out by
    src through :func:`session.data_sized` (``coalesce(1)`` when the graph
    fits one AQE minimum partition, else a hash repartition by src), then a
    partition-local window count gives each edge weight 1/out_deg(src) in
    ONE scan and at most ONE shuffle (a groupBy+join formulation scans the
    edge source twice -- measured ~30% slower end-to-end).  Either layout
    satisfies the window and every shuffle-hash rank join, so the edge
    table never moves again.

    Returned CACHED and already built, by one noop write (a pass over the
    plan with no count aggregate to shuffle): while a cache is unbuilt,
    AQE plans each reference to it as a table-cache stage job of its own,
    and the rank loop reads it once per round.

    g4/g5/g7 all need exactly this intermediate.  A session running
    several rank variants over one graph (the bench session builds it 3x
    -- VERDICT r5 item 6) should call this once and pass the handle via
    ``pagerank(..., weighted=handle)`` /
    ``personalized_pagerank(..., weighted=handle)``: the CALLER then owns
    the cache lifecycle (those functions never unpersist a provided
    handle), so release it with ``handle.unpersist()`` when done.
    """
    weighted = (
        data_sized(edges, "src")
        .select("src", "dst", (F.lit(1.0) / F.count(F.lit(1)).over(Window.partitionBy("src"))).alias("weight"))
        .cache()
    )
    weighted.write.format("noop").mode("overwrite").save()
    return weighted


def _rank_rounds(weighted: DataFrame, reset_of, init_of, reset_prob: float, max_iter: int) -> DataFrame:
    """Round kernel of :func:`pagerank` and :func:`personalized_pagerank`:
    (id, rank) after ``max_iter >= 1`` rounds of

        rank(v) = reset_of(v) + (1 - reset_prob) * sum_{u->v} rank(u) / out_deg(u)

    from rank ``init_of(v)`` (both map an id column name to a Column).  The
    rank table covers ONLY vertices with in-edges (all a contribution can
    reach): round 1 reads the literal initial ranks (no join), and later a
    src missing from the ranks has no in-edges and holds its reset term,
    so the join coalesces to it instead of materializing a full vertex
    table -- one join + one aggregation per round, nothing else.

    Layout: the rank table is the pinned ``shuffle_hash`` build side, so
    the join runs in place on the cached src layout -- no broadcast, no
    edge exchange.  A round's only exchange is its dst aggregate, whose
    output is already partitioned like the edges (none on one partition).
    No mid-loop checkpoint: its output would lose that layout.

    Determinism: each edge contribution is quantized to an INTEGER number of
    1/CONTRIB_SCALE units (round(rank*weight*scale) as long) and the
    per-vertex sum runs over longs, which is exact and order-independent --
    the result is bit-identical across partition counts, executor counts,
    AQE decisions, and engines (the DuckDB oracle replays the same integer
    arithmetic).  Double-summing contributions instead would make the output
    depend on partitioning (float addition is not associative).  The 1e-9
    quantum is ~7 orders below the 1e-6 output rounding, so it never costs
    ranking precision; long sums also map-side combine cheaper than doubles.
    """
    scale = F.lit(CONTRIB_SCALE)
    ranks = None
    for _ in range(max_iter):
        if ranks is None:
            base, src_rank = weighted, init_of("src")
        else:
            base = weighted.join(ranks.withColumnRenamed("id", "src").hint("shuffle_hash"), "src", "left")
            src_rank = F.coalesce(F.col("rank"), reset_of("src"))
        contribs = (
            base.select("dst", F.round(src_rank * F.col("weight") * scale).cast("long").alias("ci"))
            .groupBy("dst")
            .agg(F.sum("ci").alias("ci"))
        )
        ranks = contribs.select(
            F.col("dst").alias("id"),
            (reset_of("dst") + F.lit(1.0 - reset_prob) * (F.col("ci") / scale)).alias("rank"),
        )
    return ranks


def _with_held(ranks: DataFrame, held_ids: DataFrame, reset_prob: float, keep=None) -> DataFrame:
    """Final rank table: the ``keep``-filtered ``ranks`` plus every id of
    ``held_ids`` missing from ``ranks`` at reset_prob (a vertex with no
    in-edges never appears as a dst), rounded to 6 places and pinned."""
    held = held_ids.join(ranks.select("id").hint("shuffle_hash"), "id", "left_anti")
    return (
        (ranks if keep is None else ranks.where(keep))
        .unionByName(held.select("id", F.lit(reset_prob).alias("rank")))
        .select("id", F.round("rank", 6).alias("pagerank"))
        .transform(pin)  # pin before releasing the edge cache
    )


def pagerank(
    edges: DataFrame | None,
    reset_prob: float = 0.15,
    max_iter: int = 10,
    weighted: DataFrame | None = None,
) -> DataFrame:
    """G4: iterative DataFrame PageRank, reference params resetProb=0.15
    maxIter=10 (PageRank_Spark_v5.py:102).

    Formula per iteration (classic non-normalized form, matching GraphFrames):
        rank(v) = reset_prob + (1 - reset_prob) * sum_{u->v} rank(u) / out_deg(u)
    Dangling vertices (no out-edges) contribute no mass; vertices with no
    in-edges settle at reset_prob.  Returns (id, pagerank); the loop is
    :func:`_rank_rounds` from rank 1.0.

    ``weighted``: a :func:`prepare_weighted_edges` handle to reuse across
    rank variants (caller owns its cache; ``edges`` may then be None).
    """
    owns_weighted = weighted is None
    if owns_weighted:
        weighted = prepare_weighted_edges(edges)
    src_ids = weighted.select(F.col("src").alias("id")).distinct()
    if max_iter < 1:  # everything at the initial rank
        result = src_ids.union(weighted.select("dst")).distinct().select("id", F.lit(1.0).alias("pagerank")).transform(pin)
    else:
        reset = lambda c: F.lit(reset_prob)  # noqa: E731
        ranks = _rank_rounds(weighted, reset, lambda c: F.lit(1.0), reset_prob, max_iter)
        result = _with_held(ranks, src_ids, reset_prob)
    if owns_weighted:
        weighted.unpersist()
    return result


def _seed_frame(edges: DataFrame, seeds: list) -> DataFrame:
    """The seed list as an ``id`` frame typed like ``edges.src``, each seed
    once, in first-seen order: a one-partition Range projection, since a
    local relation's layout is unknown, which would re-shuffle the other
    side of a join even on a one-partition layout."""
    seeds = list(dict.fromkeys(seeds))
    return edges.sparkSession.range(len(seeds), numPartitions=1).select(
        F.element_at(F.array(*[F.lit(s) for s in seeds]), F.col("id").cast("int") + 1)
        .cast(edges.schema["src"].dataType)
        .alias("id")
    )


def personalized_pagerank(
    edges: DataFrame | None,
    sources: list,
    reset_prob: float = 0.15,
    max_iter: int = 10,
    weighted: DataFrame | None = None,
) -> DataFrame:
    """Personalized PageRank: the reset mass returns only to ``sources``
    (the seed set), so ranks measure proximity TO the seeds -- the
    related-items / local-relevance primitive (recommendations from a seed
    basket, neighborhood expansion from a query node).

        rank(v) = reset_prob*[v in S] + (1-reset_prob) * sum_{u->v} rank(u)/out_deg(u)

    starting from rank = 1.0 on sources, 0.0 elsewhere.  Same round kernel
    (:func:`_rank_rounds`), edge layout, and integer-quantized contribution
    sums as :func:`pagerank` (bit-identical across partitionings and
    engines); vertices whose rank is identically zero (unreachable from S)
    are omitted from the result, and seeds with no in-edges hold reset.
    ``sources`` is a literal seed list -- seed sets are query parameters,
    small by nature, so membership tests compile to IN-list predicates,
    never a join.  ``weighted``: a :func:`prepare_weighted_edges` handle to
    reuse across rank variants (caller owns its cache; ``edges`` may then
    be None).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    owns_weighted = weighted is None
    if owns_weighted:
        weighted = prepare_weighted_edges(edges)
    seeds = list(sources)

    def on_seeds(value):
        return lambda c: F.when(F.col(c).isin(seeds), F.lit(value)).otherwise(F.lit(0.0))

    ranks = _rank_rounds(weighted, on_seeds(reset_prob), on_seeds(1.0), reset_prob, max_iter)
    result = _with_held(ranks, _seed_frame(weighted, seeds), reset_prob, keep=F.col("rank") > 0.0)
    if owns_weighted:
        weighted.unpersist()
    return result


def _local_components(rows) -> list:
    """Driver-side union-find over collected (u, v) edges; returns
    (id, min-reachable-id) pairs -- the same contract as the distributed
    star rounds, bit-identically."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        a, b = r["u"], r["v"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        comp_min[r] = v if r not in comp_min else min(comp_min[r], v)
    return [(v, comp_min[find(v)]) for v in parent]


def connected_components_star(
    edges: DataFrame,
    small_graph_threshold: int = 100_000,
    _round_counter: list | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond") --
    converges in O(log n) rounds instead of min-label propagation's
    O(component diameter), so a chain-shaped duplicate cluster at corpus
    scale costs ~log(len) rounds, not len.

    Per round over the canonical (u > v) edge set:
      large-star: every node connects its LARGER neighbors to the minimum
                  of its neighborhood (incl. itself);
      small-star: every node connects its smaller-or-equal neighbors (and
                  itself) to that minimum.
    The fixpoint is a star forest whose centers are the component minima.
    Each phase is one groupBy (neighborhood min) + one join, all shuffles
    keyed by vertex id; edges are re-canonicalized + distinct'd each round
    so the edge set shrinks monotonically toward |V| - #components.
    Returns (id, component) for every vertex WITH a non-self-loop edge,
    component = the smallest reachable id; pure self-loop vertices are
    dropped with their loops (callers pre-filter; edges_from_pairs never
    emits them).

    Small-graph fast path: dedup pair graphs are #near-dup-pairs-sized --
    typically tens of edges per million documents -- and each distributed
    round costs 2-3 fixed Spark job launches, which dominates at that
    size (measured: the rounds, not the data, were ~70% of d7/c1 wall
    time).  At or below ``small_graph_threshold`` edges (a bounded,
    driver-safe collect) the closure runs as driver-side union-find with
    the identical min-label contract; above it, the O(log n) star rounds.
    Pass 0 to force the distributed path.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v"))
        .distinct()
        .transform(pin)
    )
    if small_graph_threshold and e.count() <= small_graph_threshold:
        pairs = _local_components(e.collect())
        id_type = e.schema["u"].dataType.simpleString()
        free(e)
        if _round_counter is not None:
            _round_counter.append(0)
        return edges.sparkSession.createDataFrame(pairs, f"id {id_type}, component {id_type}")

    def signature(df: DataFrame):
        # decimal(38,0) sums: exact and overflow-free under ANSI mode
        # (summing raw longs overflows on a handful of 2^63-scale hashes).
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h1"),
            F.sum(F.xxhash64("v", "u").cast("decimal(38,0)")).alias("h2"),
        ).collect()[0]
        return (row["n"], row["h1"], row["h2"])

    sig = signature(e)
    for rnd in range(50):
        # large-star: m(u) = min over sym-neighborhood(u) + {u}; for every
        # neighbor v > u emit (v, m).  m <= u < v, so no self-loops arise.
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv")).select("u", F.least("u", "mv").alias("m"))
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on the large->small orientation: emit (v, m) for the
        # smaller neighbors and (u, m) for the node itself.
        o = large.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        mins2 = o.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            o.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select("u", F.col("m").alias("v")))
        )
        e = pin(  # flat lineage; also feeds signature
            small.where(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct(),
            e,
        )
        new_sig = signature(e)
        if new_sig == sig:
            if _round_counter is not None:
                _round_counter.append(rnd + 1)
            break
        sig = new_sig
    else:
        raise RuntimeError(
            "connected_components_star did not converge within 50 rounds"
        )
    # Fixpoint is (child, root) stars: children label from their edge, roots
    # label themselves.
    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("id"), F.col("v").alias("component")))
        .distinct()
    )


def top_influencers(ranks: DataFrame, k: int = 500) -> DataFrame:
    """O1: top-N by pagerank -- TakeOrderedAndProject, driver holds only N
    rows (the reference's explicit optimization, PageRank_Spark_v5.py:105-115)."""
    return ranks.orderBy(F.desc("pagerank"), F.asc("id")).limit(k)


#: Auto-broadcast ceiling for graph degree/adjacency tables, in canonical
#: (undirected, deduped) edges.  The adjacency table's PAYLOAD is edge-sized
#: (sum of out-degrees = m ids), so the broadcast decision keys on m, not on
#: vertex count: 8M ids is ~100-200 MB serialized -- the upper end of what a
#: broadcast should ever carry.  Above it the joins stay un-hinted and AQE
#: picks the strategy from runtime sizes (sort-merge, or its own broadcast
#: conversion if a side turns out small).  A blind hint instead ABORTS the
#: job when the table outgrows the broadcast limit at 100x scale
#: (VERDICT r5 "what's wrong" item 1).
AUTO_BROADCAST_MAX_EDGES = 8_000_000


def _undirected(edges: DataFrame) -> DataFrame:
    """(a, b) with a < b: each undirected (src, dst) edge once, self-loops dropped."""
    a, b = F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    return edges.select(a, b).where(F.col("a") != F.col("b")).distinct()


def _endpoint_degrees(e: DataFrame) -> DataFrame:
    """(v, d): the degree of every endpoint of the canonical edges ``e``."""
    return (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )


def _oriented(e: DataFrame, deg: DataFrame, maybe_bcast) -> DataFrame:
    """(u, w): each canonical edge pointed from its (degree, id)-smaller end."""
    ed = (
        e.join(maybe_bcast(deg.select(F.col("v").alias("a"), F.col("d").alias("da"))), "a")
        .join(maybe_bcast(deg.select(F.col("v").alias("b"), F.col("d").alias("db"))), "b")
    )
    lo_first = (F.col("da") < F.col("db")) | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    return ed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("w"),
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle / wedge / edge counts via degree-ordered orientation
    -- the clustering-coefficient numerator, and the classic demonstration
    that join ORDER is the scale lever in graph analytics.

    Naive triangle listing self-joins the edge table twice on raw vertices;
    one celebrity node with degree d contributes d^2 wedges (3981-max
    in-degree hot keys in the reference graph -- BASELINE.md).  Orienting
    every edge from its (degree, id)-smaller endpoint to its larger one
    first caps the effective out-degree at O(sqrt(m)), so wedge counts drop
    from sum(d^2) to at most m^1.5 REGARDLESS of skew -- each triangle is
    then found exactly once, no /3 or /6 correction.

    Second lever: never MATERIALIZE the wedges.  A wedge self-join emits
    the full m^1.5 stream (41M rows for the 1.2M-edge sf0.1 co-purchase
    graph) and then shuffles it against the edge set for closure -- the
    shuffle of the biggest intermediate dominates the job.  The
    adjacency-intersection formulation instead joins each ORIENTED edge
    (u, v) with the out-neighbor lists of u and v and counts
    ``|N+(u) & N+(v)|`` map-side: each triangle closes exactly once at its
    orientation-minimal edge, the intersection work is the same m^1.5
    TOTAL but runs inside tasks, and the largest shuffled relation is
    edge-sized (edges + vertex-sized adjacency arrays, out-degree capped
    at O(sqrt m) by the orientation).  Wedge counts come free from the
    out-degrees (sum of C(d_out, 2)).

    Plan shape: two hash aggregates (degrees, adjacency), two joins of the
    oriented edge table against the vertex-sized adjacency table, one
    count aggregate.  Each intermediate (canonical edges, oriented edges,
    adjacency) is computed ONCE and cached across the three counts --
    without that, the multi-action shape silently re-runs the pair
    pipeline per count (measured 3-4x slowdown).  Returns one row:
    (n_edges, n_wedges, n_triangles).

    The degree/adjacency joins broadcast-hint (vertices are a dimension --
    parts, users, videos) iff the measured canonical edge count m <=
    AUTO_BROADCAST_MAX_EDGES (the count is needed for the census anyway);
    above it they stay un-hinted for AQE.  The adjacency payload is
    edge-sized, so a static hint would make a 100x-scale run abort on the
    broadcast limit instead of degrading to sort-merge.
    """
    e = _undirected(edges).cache()  # edge-sized, like pagerank's
    n_edges = e.count()  # also populates the cache before the joins
    maybe_bcast = F.broadcast if n_edges <= AUTO_BROADCAST_MAX_EDGES else (lambda df: df)
    oriented = _oriented(e, _endpoint_degrees(e), maybe_bcast).cache()
    adj = (
        oriented.groupBy("u")
        .agg(F.collect_list("w").alias("nbrs"), F.count(F.lit(1)).cast("long").alias("d_out"))
        .cache()
    )
    n_wedges = int(
        adj.agg(F.sum(F.expr("d_out * (d_out - 1) DIV 2")).cast("long").alias("nw")).collect()[0]["nw"] or 0
    )
    closed = (
        oriented.join(maybe_bcast(adj.select(F.col("u"), F.col("nbrs").alias("nbrs_u"))), "u")
        .join(maybe_bcast(adj.select(F.col("u").alias("w"), F.col("nbrs").alias("nbrs_w"))), "w")
        .select(F.size(F.array_intersect("nbrs_u", "nbrs_w")).alias("n_closed"))
    )
    n_triangles = int(closed.agg(F.sum("n_closed").cast("long")).collect()[0][0] or 0)
    for cached in (adj, oriented, e):
        cached.unpersist()
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(n_edges, n_wedges, n_triangles)], "n_edges long, n_wedges long, n_triangles long"
    )


def k_hop_distances(edges: DataFrame, seeds: list, max_hops: int = 3) -> DataFrame:
    """Bounded-depth BFS: exact min-hop distance from a seed set, for every
    vertex within ``max_hops`` hops -- the neighborhood-expansion primitive
    behind blast-radius queries ("everything within 3 hops of these
    compromised ids") and GNN-style neighborhood sampling.  Synchronous
    frontier expansion, one join + one anti-join + one distinct per round.

    Loop shape for scale: the FRONTIER (just-reached vertices), not the
    visited set, drives each round's join -- frontier joins edges on src
    (the edge table, laid out by src once through ``session.data_sized``,
    never moves again), new vertices are frontier-minus-visited via a
    left-anti join, and the visited set grows by union.  All-integer state
    (vertex id, hop), no floats anywhere; each round is pinned (iterative
    unions otherwise stack exponentially-replanned DAGs), and the frontier
    is the pinned set's newest hop, so the pin frees the round before it;
    the last one also frees the edge cache.  ``max_hops`` must be >= 1.

    Seeds not present in the graph still report distance 0 (they are
    trivially reachable from themselves).  Returns (id, hops).
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = data_sized(edges, "src").cache()
    visited = pin(_seed_frame(edges, seeds).select("id", F.lit(0).cast("long").alias("hops")))
    for h in range(1, max_hops + 1):
        frontier = visited.where(F.col("hops") == h - 1).select(F.col("id").alias("src"))
        reached = e.join(frontier, "src").select(F.col("dst").alias("id")).distinct()
        new = reached.join(visited.select("id"), "id", "left_anti").select(
            "id", F.lit(h).cast("long").alias("hops")
        )
        visited = pin(visited.unionByName(new), visited, *([e] if h == max_hops else []))
    return visited


def weighted_shortest_paths(edges: DataFrame, seeds: list, max_hops: int = 3) -> DataFrame:
    """Bounded-hop shortest paths from a seed set over INTEGER edge
    weights: Bellman-Ford relaxation in the (min, +) tropical semiring,
    ``dist_i(v) = min(dist_{i-1}(v), min over edges (u,v) of dist_{i-1}(u)
    + w)`` -- the weighted complement of :func:`k_hop_distances` (BFS
    counts hops; this accumulates cost).  max_hops rounds of synchronous
    full relaxation: exact for paths of <= max_hops edges, deterministic
    (integer min/+ has no ordering sensitivity), oracle-replayable as the
    same unrolled recurrence.

    Scale shape: the edge table is laid out by src ONCE, through
    ``session.data_sized``, and never moves again; each round shuffles the
    vertex-sized dist table plus the edge-sized relax output into a min
    aggregate (map-side partial min first; no exchange on one piece).
    This is textbook distributed Bellman-Ford; a delta/frontier variant
    only re-relaxes improved vertices and wins when few change per round,
    but its trajectory is input-order-free too, so the simple synchronous
    form is kept for oracle parity.  Each round's pin frees the round
    before it; the last one also frees the edge cache.  ``max_hops`` must
    be >= 1.

    ``edges`` must carry (src, dst, w) with long weights (use integer
    micros for fractional costs).  Returns (id, dist) for every vertex
    reachable within ``max_hops`` hops; unreachable vertices are absent.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = data_sized(edges, "src").cache()
    dist = pin(_seed_frame(edges, seeds).select("id", F.lit(0).cast("long").alias("dist")))
    for h in range(1, max_hops + 1):
        relax = e.join(
            dist.select(F.col("id").alias("src"), F.col("dist").alias("_d")), "src"
        ).select(F.col("dst").alias("id"), (F.col("_d") + F.col("w")).cast("long").alias("dist"))
        dist = pin(
            dist.unionByName(relax).groupBy("id").agg(F.min("dist").alias("dist")),
            dist,
            *([e] if h == max_hops else []),
        )
    return dist


def label_propagation(edges: DataFrame, max_iter: int = 2) -> DataFrame:
    """Synchronous label propagation (community detection, Raghavan et al.
    2007, the algorithm GraphFrames ships as ``labelPropagation``): every
    vertex starts as its own label; each round it adopts the label most
    frequent among its IN-neighBORS, ties broken by the smallest label --
    a fully deterministic variant of the usually randomized sweep, which
    keeps the k-round trajectory oracle-replayable.

    Scale shape per round: one edges-to-labels join (edge table laid out
    by src ONCE through ``session.data_sized`` and cached -- the rank-loop
    discipline of pagerank), one (dst, label) count aggregate, one
    per-vertex argmax via min(struct(-count, label)) -- no windows, no
    collected state; the label table is vertex-sized.  Isolated vertices
    (never a dst) keep their own label through a left join.  Each round's
    pin frees the round before it; the final pin frees the last round and
    the edge cache.

    Returns (id, label) after ``max_iter`` rounds.
    """
    e = data_sized(edges, "src").cache()
    # DELTA representation (r10): ``cur`` holds (id, label) ONLY for
    # vertices that have ever appeared as a dst (everything the sweep can
    # relabel); any vertex absent from it still carries its own id, so the
    # per-round join coalesces the missing label to ``src`` -- the pagerank
    # absent-rank trick.  This removes the old full-vertex label table from
    # the loop: no vertices-distinct 2m-row exchange up front, no round-1
    # join against identity labels (label_0(src) == src inlines to a plain
    # groupBy over the edge table), and no per-round vertex-table rewrite.
    # Trajectory is IDENTICAL: label_r(v) = coalesce(best_r(v),
    # label_{r-1}(v)) unrolls to exactly this merge.
    cur, held = None, []
    for _ in range(max_iter):
        if cur is None:
            counted = e.groupBy(F.col("dst").alias("id"), F.col("src").alias("label")).agg(
                F.count(F.lit(1)).alias("c")
            )
        else:
            counted = (
                e.join(cur.withColumnRenamed("id", "src").withColumnRenamed("label", "_l"), "src", "left")
                .groupBy(F.col("dst").alias("id"), F.coalesce("_l", "src").alias("label"))
                .agg(F.count(F.lit(1)).alias("c"))
            )
        best = counted.groupBy("id").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l"))).alias("b")
        ).select("id", F.col("b.l").alias("label"))
        # cur_r = best_r outright: every key of cur_{r-1} is a dst, and
        # best_r re-covers EVERY dst each round (counted spans every edge),
        # so the coalesce-merge with the previous delta is provably empty.
        cur = pin(best, *held)
        held = [cur]
    # Materialize the full vertex set ONCE, at the end: isolated-as-dst
    # vertices (never a dst) keep their own id via the left join.
    vertices = e.select(F.col("src").alias("id")).union(e.select("dst")).distinct()
    if cur is None:
        # max_iter == 0: identity labels (the pre-r10 behavior -- the delta
        # loop otherwise leaves cur unset; ADVICE r10).
        labels = vertices.select("id", F.col("id").alias("label"))
    else:
        labels = (
            vertices.join(cur.withColumnRenamed("label", "_l"), "id", "left")
            .select("id", F.coalesce("_l", "id").alias("label"))
        )
    return pin(labels, *held, e)


def adamic_adar(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Link prediction for a seed set: top-``k`` new-neighbor candidates
    per seed vertex by Adamic-Adar score AA(s,y) = sum over common
    neighbors z of 1/ln(deg z) (Adamic & Adar 2003) -- the
    "people/parts you may also like" primitive.

    Candidate generation is a 2-hop frontier expansion FROM THE SEEDS
    (the k_hop_distances shape), never a global wedge enumeration: the
    co-purchase graph's mean degree ~120 puts the full wedge count at
    1.5e8 already at sf0.1 (measured), growing superlinearly with scale,
    while the seeded form costs |S| * mean_deg^2 regardless of graph
    size.  Existing neighbors are removed with an edge-sized anti-join;
    the per-seed top-k is a window over candidate-sized groups.

    Cross-engine determinism: each middle vertex contributes
    floor(1e6 / ln(deg)) -- an integer weight from an exact-integer-input
    ln -- so per-pair scores are exact int64 sums; ties break (aa desc,
    candidate id).  Accepted libm residual (ADVICE r5 item 2): the floor
    could only flip if JVM Math.log and DuckDB ln disagreed by more than
    the distance of 1e6/ln(d) to its nearest integer.  That distance is
    >= 1.6e-7 for EVERY degree d in [2, 1e7] (measured exhaustively;
    minimum 1.614e-7 at d=1,768,776), while a few-ULP libm disagreement
    perturbs the quotient by <= ~1e-9 (|w| <= 1.45e6, ulp 3.2e-10) --
    a ~160x safety margin, machine-checked by
    tests/test_graph.py::test_adamic_adar_weight_floor_is_libm_stable.

    As in triangle_count, the degree/weight tables are vertex-dimension-
    sized and broadcast iff the measured adjacency (2m rows) has m <=
    AUTO_BROADCAST_MAX_EDGES, so a 100x-scale run degrades to AQE's choice
    instead of aborting on the broadcast limit.  The frontier broadcasts
    are unconditional -- they are seed-bounded by construction.  Seeds
    come in the ``seed`` column of ``seeds``.

    Returns (src, dst, n_common, aa_micro, aa_score) ordered by seed then
    rank.
    """
    e = _undirected(edges)
    adj = e.select(F.col("a").alias("v"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("v"), F.col("a").alias("n"))
    ).cache()
    maybe_bcast = F.broadcast if adj.count() <= 2 * AUTO_BROADCAST_MAX_EDGES else (lambda df: df)
    w = (
        adj.groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
        .where(F.col("d") >= 2)
        .select(F.col("v").alias("z"), F.floor(F.lit(1e6) / F.log(F.col("d").cast("double"))).cast("long").alias("w_micro"))
    )
    # Seed frontier (s, z): |S| * mean_deg rows -- always broadcast-sized
    # (that bound is the whole point of the seeded formulation), so the
    # 2-hop expansion is a broadcast probe of the edge-sized adjacency,
    # and the existing-neighbor anti-join runs against the SAME tiny
    # frontier rather than the full adjacency.
    sadj = adj.join(
        F.broadcast(seeds.select(F.col("seed").alias("v")).distinct()), "v"
    ).select(F.col("v").alias("s"), F.col("n").alias("z")).cache()
    cand = (
        F.broadcast(sadj)
        .join(adj.select(F.col("v").alias("z"), F.col("n").alias("y")), "z")
        .where(F.col("y") != F.col("s"))
        .join(maybe_bcast(w), "z")
    )
    scores = cand.groupBy("s", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("w_micro").cast("long").alias("aa_micro"),
    )
    new_links = scores.join(
        F.broadcast(sadj.select("s", F.col("z").alias("y"))), ["s", "y"], "left_anti"
    )
    rn = F.row_number().over(
        Window.partitionBy("s").orderBy(F.col("aa_micro").desc(), F.col("y"))
    )
    out = (
        new_links.withColumn("rank", rn.cast("long"))
        .where(F.col("rank") <= k)
        .select(
            F.col("s").alias("src"),
            F.col("y").alias("dst"),
            "rank",
            "n_common",
            "aa_micro",
            (F.col("aa_micro").cast("double") / F.lit(1e6)).alias("aa_score"),
        )
        .orderBy("src", "rank")
    )
    # Pin the |S|*k-sized result, then release the adjacency/frontier
    # caches (session cache hygiene).
    return pin(out, sadj, adj)


def clustering_coefficient_topk(edges: DataFrame, k: int = 20) -> DataFrame:
    """Per-vertex local clustering coefficient, top-``k`` by triangle
    count: C(v) = 2*tri(v) / (d(v)*(d(v)-1)) -- the neighborhood-density
    score behind community/spam detection (Watts & Strogatz 1998).

    Same degree-ordered-orientation engine as triangle_count (wedge work
    capped at m^1.5 under any skew; adjacency intersections run map-side),
    extended to ATTRIBUTE each triangle to its three corners without
    materializing triple rows twice: an oriented edge (u,w) with
    ``n_c = |N+(u) & N+(w)|`` closures contributes n_c to u and w in one
    row each, and one exploded row per common neighbor c.  The per-vertex
    aggregate is triangle-bounded, the only data-sized shuffles are the
    canonical edge build and that aggregate.

    Determinism: coefficients ship as floor(2*tri*1e6 / (d*(d-1)))
    integer micros (exact int64 arithmetic); cut ties (tri desc, v).

    The join strategy comes from the measured canonical edge count
    exactly as in :func:`triangle_count` -- the degree/adjacency payload
    is edge-sized, so only edge sets up to AUTO_BROADCAST_MAX_EDGES
    broadcast; above it the joins stay un-hinted for AQE.
    """
    e = _undirected(edges).cache()
    maybe_bcast = F.broadcast if e.count() <= AUTO_BROADCAST_MAX_EDGES else (lambda df: df)
    deg = _endpoint_degrees(e)
    oriented = _oriented(e, deg, maybe_bcast)
    adj = oriented.groupBy("u").agg(F.collect_list("w").alias("nbrs")).cache()
    closures = (
        oriented.join(maybe_bcast(adj.select(F.col("u"), F.col("nbrs").alias("nbrs_u"))), "u")
        .join(maybe_bcast(adj.select(F.col("u").alias("w"), F.col("nbrs").alias("nbrs_w"))), "w")
        .select("u", "w", F.array_intersect("nbrs_u", "nbrs_w").alias("cs"))
        .where(F.size("cs") > 0)
        .cache()
    )
    contrib = (
        closures.select(F.col("u").alias("v"), F.size("cs").cast("long").alias("t"))
        .unionAll(closures.select(F.col("w").alias("v"), F.size("cs").cast("long").alias("t")))
        .unionAll(closures.select(F.explode("cs").alias("v"), F.lit(1).cast("long").alias("t")))
    )
    tri = contrib.groupBy("v").agg(F.sum("t").cast("long").alias("n_triangles"))
    out = (
        tri.join(maybe_bcast(deg), "v")
        .where(F.col("d") >= 2)
        .select(
            "v",
            "d",
            "n_triangles",
            F.floor(F.lit(2_000_000) * F.col("n_triangles") / (F.col("d") * (F.col("d") - 1))).cast("long").alias("coef_micro"),
        )
        .withColumn("clustering_coef", F.col("coef_micro").cast("double") / F.lit(1e6))
        .orderBy(F.col("n_triangles").desc(), "v")
        .limit(k)
    )
    # Pin the k-sized result, then release the edge/adjacency/closure
    # caches (session cache hygiene).
    return pin(out, closures, adj, e)


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): Pearson correlation
    of endpoint degrees over undirected edges -- do hubs link to hubs
    (r > 0, social nets) or to leaves (r < 0, co-purchase/biological)?
    The one-number mixing diagnostic for any graph pipeline.

    Exact-integer formulation: with M edges, Sjk = sum(j*k),
    S2 = sum(j + k), H2 = sum(j^2 + k^2) over edge endpoint degrees,
        r = (4*M*Sjk - S2^2) / (2*M*H2 - S2^2)
    -- every term an exact int64 sum (degrees are small ints), combined
    in arbitrary-precision driver arithmetic, so the oracle replays it
    with HUGEINTs and one identical final division.  Constant-degree
    graphs (zero variance) return 0 by convention.

    Scale: two hash aggregates (degrees, one 4-scalar moment aggregate
    over the degree-joined edges); degree table broadcasts (vertex dim).
    """
    e = _undirected(edges)
    deg = _endpoint_degrees(e)
    ed = (
        e.join(F.broadcast(deg.select(F.col("v").alias("a"), F.col("d").alias("ja"))), "a")
        .join(F.broadcast(deg.select(F.col("v").alias("b"), F.col("d").alias("jb"))), "b")
    )
    row = ed.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("ja") * F.col("jb")).cast("long").alias("sjk"),
        F.sum(F.col("ja") + F.col("jb")).cast("long").alias("s2"),
        F.sum(F.col("ja") * F.col("ja") + F.col("jb") * F.col("jb")).cast("long").alias("h2"),
    ).collect()[0]
    m, sjk, s2, h2 = (int(row[c]) for c in ("m", "sjk", "s2", "h2"))
    num = 4 * m * sjk - s2 * s2  # exact python ints (no int64 overflow risk)
    den = 2 * m * h2 - s2 * s2
    import math

    r_micro = math.floor(1e6 * (float(num) / float(den))) if den != 0 else 0
    spark = edges.sparkSession
    return spark.createDataFrame(
        [(m, sjk, s2, h2, int(r_micro))],
        "n_edges long, sum_jk long, sum_j_plus_k long, sum_j2_plus_k2 long, assortativity_micro long",
    ).select(
        "n_edges", "sum_jk", "sum_j_plus_k", "sum_j2_plus_k2", "assortativity_micro",
        (F.col("assortativity_micro").cast("double") / F.lit(1e6)).alias("assortativity"),
    )


def kcore(edges: DataFrame, k: int, max_rounds: int = 10) -> DataFrame:
    """k-core of an undirected graph by synchronous peeling: each round
    deletes EVERY vertex whose current degree is below ``k`` (all at once
    -- the deterministic parallel formulation; the fixpoint is the unique
    maximal k-core, so early exit on a converged round cannot change the
    result).  Classic distributed k-core (cf. Montresor et al. 2011
    k-core decomposition): O(rounds) passes, each one degree aggregate +
    two semi-joins of the edge table against the survivor keyset.

    Scale discipline:
      * The survivor keyset is VERTEX-sized, so the semi-joins are NOT
        broadcast-forced -- AQE picks broadcast while it fits and degrades
        to shuffle beyond (the g10/g6 blind-broadcast lesson, VERDICT r5).
      * Every round ends in a ``session.pin``, keeping loop lineage
        bounded, which frees the degrees it replaces; ``canon`` is freed
        when the loop ends.
      * The per-round early-exit probe collects ONE scalar (bad-vertex
        count), never ids.

    ``max_rounds`` bounds the loop; a non-converged run returns the
    max_rounds-step peel (same contract as the oracle's unrolled rounds,
    so cross-engine equality holds converged or not).

    DEGREE-DELTA formulation: the big edge table is landed ONCE (`e0`,
    one distinct shuffle) and degrees are MAINTAINED, not recomputed --
    each round subtracts, from every still-alive vertex, its number of
    neighbors peeled THIS round (``dec``).  Per-round join work is
    proportional to the removed set (vertex-sized and shrinking; AQE
    broadcasts it once it fits), so e0 is only ever SCANNED per round,
    never re-shuffled.  Two earlier formulations died at the sf30 replay:
    re-checkpointing the surviving edge table per round pinned a
    near-corpus-sized block set per round (heap OOM at 80g, then 48 GB of
    scratch by round 4 as DISK_ONLY), and survivor-keyset semi-joins of
    e0 re-shuffled ~25 GB per round into accumulating shuffle files
    (disk-guard abort at 4.4 GB free).  Delta-peel is also the
    1000-executor answer: per-round network is O(removed frontier), the
    classic distributed k-core refinement.

    Exact equivalence with the peel-the-subgraph form: a vertex's
    maintained degree always equals its degree within the current alive
    subgraph (each removed neighbor is subtracted exactly once, the round
    its endpoint is peeled), and the final ``_d > 0`` filter reproduces
    "src appears in the surviving edge table" on non-converged exits.

    Returns surviving (src, core_degree) -- degree WITHIN the core.
    """
    # Canonicalize FIRST (least/greatest + distinct over m rows), then
    # symmetrize by pure union: the two directions of a canonical-distinct
    # set are disjoint and individually distinct, so the union IS the old
    # distinct(sym) -- at half the distinct's exchange bytes, with no
    # second edge-sized materialization (e0 is a cheap union of two
    # projections over the checkpointed canon, re-derived per scan).
    canon = pin(
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    e0 = canon.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        canon.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    deg = pin(e0.groupBy("src").agg(F.count(F.lit(1)).alias("_d")))
    for _ in range(max_rounds):
        # Vertex-sized removed set; NOT broadcast-forced (the r5 g10
        # lesson) -- AQE picks broadcast while it fits.  No checkpoint of
        # its own: it is one filter over the just-checkpointed deg, so its
        # lineage is already flat and an eager pin would only add a
        # materialization job per round (r10).
        removed = deg.where(F.col("_d") < k).select(F.col("src").alias("_r"))
        if removed.count() == 0:
            break
        dec = (
            e0.join(removed, e0["dst"] == F.col("_r"), "inner")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        deg = pin(
            deg.where(F.col("_d") >= k)
            .join(dec, "src", "left")
            .select("src", (F.col("_d") - F.coalesce(F.col("_c"), F.lit(0))).alias("_d")),
            deg,
        )
    free(canon)
    return deg.where(F.col("_d") > 0).select(
        "src", F.col("_d").cast("long").alias("core_degree")
    )


def hits(
    edges: DataFrame,
    rounds: int = 3,
    quantum: int = 1_000_000,
    k: int = 20,
    decode_id=None,
) -> DataFrame:
    """G15: HITS hubs & authorities (Kleinberg 1999) with EXACT-INTEGER
    iterations, so the scores are bit-identical across partition counts
    and engines (the DuckDB oracle unrolls the same arithmetic).

    Per round (classic mutual reinforcement, max-renormalized):
        a_raw(v) = sum_{u->v} h(u)            -- integer sum
        a(v)     = (a_raw(v) * quantum) div max_v(a_raw)
        h_raw(u) = sum_{u->v} a(v)
        h(u)     = (h_raw(u) * quantum) div max_u(h_raw)
    h starts at the constant ``quantum``, so round 1's a_raw is just
    in-degree * quantum.  Renormalizing by the MAX with integer floor
    division (both engines truncate non-negative div identically) keeps
    every score in [0, quantum] forever -- no float normalization (whose
    summation order would diverge across engines) and no magnitude blow-up
    at any round count.  Overflow bound: a_raw <= max_indegree * quantum,
    so the renorm product needs max_degree * quantum^2 < 2^63 -- fine to
    ~9.2M degree at the default quantum; drop quantum to 1e4 for extreme
    fan-in graphs.

    Scale discipline:
      * Self-loops dropped, edges DISTINCT, laid out by src through
        ``session.data_sized`` and cached once, plus a dst-keyed copy for
        the hub side; each round is two (join + hash-aggregate) passes
        over the edge table -- the rank tables are vertex-sized and they
        alone re-shuffle.
      * The per-round max is a 1-row aggregate crossJoin-broadcast back
        (the quality.py totals pattern) -- no driver collect in the loop.
      * Each raw score table is pinned through ``session.pin``: the renorm
        references its input twice (value + max), so an unpinned
        expression fold would re-inline and DOUBLE the plan tree per
        half-round (the Hilbert exponential-lineage lesson, CLAUDE.md).
        A round's authority pin frees the previous round's two raw
        tables, which nothing reads once the new one is built.
      * The result's pin (the 2k-row output) frees the last round's raw
        tables and both edge caches -- the dedup release discipline.

    Returns the top-``k`` per role: (role 'authority'|'hub', rank, id,
    score_ppm) with deterministic (score desc, id asc) ranking, ordered by
    (role, rank).
    """
    e = (
        # ONE exchange, not two: the src layout (hash by src, or one piece)
        # satisfies the (src, dst) dedup aggregate's clustered-distribution
        # requirement, so dropDuplicates AFTER it runs partition-local and
        # the old distinct().repartition(src) double shuffle collapses
        # (guide: share one exchange between same-keyed operations).
        data_sized(
            edges.select("src", "dst").where(
                F.col("src").isNotNull() & F.col("dst").isNotNull() & (F.col("src") != F.col("dst"))
            ),
            "src",
        )
        .dropDuplicates(["src", "dst"])
        .persist(_HITS_EDGE_STORAGE)
    )
    # Second copy partitioned by dst: each round joins e on src (authority
    # update) AND on dst (hub update) -- with only the src-partitioned
    # cache, every hub half-round re-exchanged the EDGE table by dst (the
    # 100x-dominant relation; locally AQE hides it behind a broadcast of
    # the vertex side, but at scale both SMJ sides shuffle).  One extra
    # build-time exchange + cache buys an edge-sized exchange per round.
    e_dst = data_sized(e, "dst").persist(_HITS_EDGE_STORAGE)
    q = F.lit(int(quantum)).cast("long")

    def renorm(raw: DataFrame, col: str) -> DataFrame:
        # ``raw`` is PINNED, not the renormalized table: the renorm reads
        # its input twice (broadcast max + value side), so pinning
        # downstream would run the expensive join+aggregate TWICE per
        # half-round -- pinned-raw, both reads are cheap vertex-sized scans
        # and the returned projection is lazy (re-evaluating it for its
        # consumers costs a pinned scan, not an edge pass).  Plan growth
        # stays bounded: the pin truncates lineage each half-round.
        mx = raw.agg(F.max(col).alias("_mx"))
        return raw.crossJoin(F.broadcast(mx)).select(
            "id", F.expr(f"({col} * {int(quantum)}L) div _mx").alias(col[:-4])
        )

    h = None  # None => every hub score still at the initial constant `quantum`
    a = None
    raws = []  # the last round's two pinned raw tables
    for _ in range(rounds):
        if h is None:
            a_raw = e.groupBy(F.col("dst").alias("id")).agg(
                (F.count(F.lit(1)) * q).alias("a_raw")
            )
        else:
            a_raw = (
                e.join(h.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("h").alias("a_raw"))
            )
        a_raw = pin(a_raw, *raws)  # h, the only reader of the old raws, is spent
        a = renorm(a_raw, "a_raw")
        h_raw = pin(
            e_dst.join(a.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").alias("h_raw"))
        )
        h = renorm(h_raw, "h_raw")
        raws = [a_raw, h_raw]

    def topk(scores: DataFrame, col: str, role: str) -> DataFrame:
        if decode_id is not None:
            # ``decode_id`` (id Column -> Column) maps an integer-encoded
            # vertex id back to its contract string BEFORE the top-k, so
            # the (score desc, id asc) tiebreak and the emitted ids are
            # byte-identical to a string-id build while the LOOP shuffles
            # int64 keys (the r11 g4/g8 narrow-id scheme).  Applied to the
            # vertex-sized score table only -- never inside the loop.
            scores = scores.select(decode_id(F.col("id")).alias("id"), col)
        cut = scores.orderBy(F.desc(col), "id").limit(k)  # TakeOrdered -- never a global sort
        # The rank window runs over the PRE-LIMITED k rows, so one partition
        # is the design; pmod(col,1) (constant 0, not foldable) keeps
        # WindowExec from logging its move-all-data warning (sk3 recipe).
        w = Window.partitionBy(F.pmod(F.col(col), F.lit(1))).orderBy(F.desc(col), "id")
        return cut.select(
            F.lit(role).alias("role"),
            F.row_number().over(w).cast("long").alias("rank"),
            "id",
            F.col(col).cast("long").alias("score_ppm"),
        )

    result = (
        topk(a, "a", "authority")
        .unionByName(topk(h, "h", "hub"))
        .orderBy("role", "rank")
    )
    return pin(result, *raws, e_dst, e)


def copurchase_edges(facts: DataFrame, group_col: str, item_col: str, max_group_size: int | None = None) -> DataFrame:
    """Bipartite-projection edge builder: one undirected (src < dst) edge
    per pair of distinct items sharing a group (parts per order, videos
    per session) -- the standard co-occurrence graph construction feeding
    g6/g9/g10/g12/g13.

    Built as ONE groupBy(group) + in-array pair expansion
    (dedup._pairs_from_groups), never a self-join: a fact-fact self-join on
    the group key shuffles the fact table twice and re-materializes every
    group as a join product.  ``max_group_size`` is the scale guard the
    naive build lacks: a single degenerate group of g items expands to
    g*(g-1)/2 pairs INSIDE ONE TASK (a 10k-item order is a 5*10^7-pair
    task; groups grow with corpus size at 100 TB), so a finite cap drops
    over-cap groups entirely -- the documented trade-off, mirrored in the
    gate oracle.  None = exact (the g6/g9/g10/g13 inputs at current gate
    scale).

    Returns the raw per-group pair stream: (src, dst) with src < dst, a
    pair recurring once per shared group.  Its consumers dedup it
    themselves (triangle_count, adamic_adar, clustering_coefficient_topk
    and kcore canonicalize + distinct; g12 range-partitions first), so a
    distinct here would stack one more edge-sized exchange under theirs.
    """
    keyed = facts.select(F.col(group_col).alias("g"), F.col(item_col).alias("i")).where(
        F.col("i").isNotNull() & F.col("g").isNotNull()
    )
    return _pairs_from_groups(keyed, ["g"], F.col("i"), max_group_size).select(
        F.col("doc1").alias("src"), F.col("doc2").alias("dst")
    )
