"""Physical-plan assertions: the optimizations we rely on at 100 TB must
actually appear in the executed plan (SURVEY.md par.4)."""

from __future__ import annotations

import contextlib

from youtubeanalyzerproject_big_data__spark import contract, session
from youtubeanalyzerproject_big_data__spark.operators import graph as graphmod
from youtubeanalyzerproject_big_data__spark.plans.inspect import executed_plan as _plan

SF = "/root/testdata/sf0.001"


@contextlib.contextmanager
def _live_plans():
    """Every ``session.pin`` hands its frame back live
    (``session.LIVE_PLANS``), so plan gates see the whole lineage: loop
    bodies and the plans behind pinned results."""
    session.LIVE_PLANS = True
    try:
        yield
    finally:
        session.LIVE_PLANS = False


def operator_counts(df) -> dict[str, int]:
    """Occurrence count per physical operator name in the executed plan."""
    plan = _plan(df)
    return {op: plan.count(op) for op in ("Exchange", "SortMergeJoin")}


def test_job_group_meter_counts_only_its_group(spark):
    """bench.py and tools/bench_isolated.py read a query's shuffle bytes
    from perfbench.meter.SparkCounters under the query's own job group: its
    groupBy's shuffle counts, and a larger shuffle run outside the group
    (between the query and the read) adds nothing -- the read equals that
    of the same query in a second group."""
    from pyspark.sql import functions as F

    from perfbench.meter import SparkCounters, set_job_group

    sc = spark.sparkContext
    counters = SparkCounters(spark)

    def group_by(n: int, keys: int) -> None:
        spark.range(n).groupBy((F.col("id") % keys).alias("k")).count().collect()

    def in_group(group: str) -> None:
        set_job_group(sc, group)
        try:
            group_by(10_000, 97)
        finally:
            set_job_group(sc, None)

    in_group("meter-test/a")
    group_by(100_000, 5_000)  # outside every group
    in_group("meter-test/b")
    a, b = counters.read("meter-test/a"), counters.read("meter-test/b")
    assert a["jobs"] >= 1 and a["shuffle_write_mb"] > 0 and a["shuffle_read_mb"] > 0, a
    assert (a["jobs"], a["shuffle_write_mb"], a["shuffle_read_mb"]) == (
        b["jobs"], b["shuffle_write_mb"], b["shuffle_read_mb"]
    ), (a, b)


def test_filter_pushed_to_parquet_scan(spark):
    plan = _plan(contract.relational.q_f5(spark, SF))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(o_totalprice" in plan and "LessThanOrEqual(o_totalprice" in plan


def test_column_pruning_in_scan(spark):
    plan = _plan(contract.relational.q_a6(spark, SF))
    # only the 3 projected columns reach the scan schema
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>" in plan


def test_dimension_joins_broadcast(spark):
    plan = _plan(contract.tpch.q_q5(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 3  # customer, nation, region
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1  # only the fact-fact join may merge


def test_topk_compiles_to_take_ordered(spark):
    plan = _plan(contract.relational.q_a6(spark, SF))
    assert "TakeOrderedAndProject" in plan  # O1: no full sort (PageRank_Spark_v5.py:105-115)


def test_map_only_text_query_has_no_shuffle(spark):
    plan = _plan(contract.text.q_t2(spark, SF))
    assert "Exchange" not in plan  # per-document scoring must stay shuffle-free


def test_partial_aggregation_present(spark):
    plan = _plan(contract.relational.q_a1(spark, SF))
    # partial+final hash aggregate (map-side combine) around a single hash
    # shuffle (the second Exchange is rangepartitioning for the output sort)
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_join_has_no_join_operator(spark):
    """e3: the merge-union as-of formulation must not plan a join at all --
    no SortMergeJoin, no range/cartesian explosion; one window pass."""
    plan = _plan(contract.events.q_e3(spark, SF))
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan
    assert plan.count("Window") >= 1


def test_rollup_plans_single_expand_aggregate(spark):
    """a10: ROLLUP compiles to Expand + hash aggregate, not N passes."""
    plan = _plan(contract.relational.q_a10(spark, SF))
    assert "Expand" in plan


def test_c1_single_documents_scan(spark):
    """c1: quality, language-ID, and the shingle index must all feed off ONE
    cached documents scan -- the old form re-scanned/re-tokenized the corpus
    three times (r4 advice item 3)."""
    with _live_plans():
        result = contract.dedup.q_c1(spark, SF)
    try:
        plan = _plan(result)
        scan_lines = [ln for ln in plan.splitlines() if "Scan parquet" in ln or "FileScan parquet" in ln]
        # every documents FileScan printed is the SAME cached relation's
        # child (identical plan ids): one physical cache-filling scan
        doc_scans = {ln.strip() for ln in scan_lines if "documents" in ln}
        assert len(doc_scans) <= 1, doc_scans
        assert plan.count("InMemoryTableScan") >= 2  # prof + reps read the cache
    finally:
        spark.catalog.clearCache()


def test_ann_rerank_is_two_stage_topk(spark):
    """s1: the ANN re-rank must be a partial-then-final top-k -- a map-side
    ObjectHashAggregate keyed by spark_partition_id() ahead of the
    row_number window, so no single reducer receives the whole scored
    candidate set (VERDICT r2 finding #1)."""
    plan = _plan(contract.vectors.q_s1(spark, SF))
    assert "SPARK_PARTITION_ID" in plan.upper()
    assert "ObjectHashAggregate" in plan, "partial top-k aggregate missing"
    # the window still exists, but only over the bounded survivors
    assert "Window" in plan
    # the partial aggregate must run BEFORE the window in the physical plan
    assert plan.index("ObjectHashAggregate") != -1


def test_partitioned_write_prunes_partitions(spark, tmp_path_factory):
    """Partition-layout round trip: a filter on the partition column must
    become a PartitionFilters entry (directory pruning), not a row filter."""
    from youtubeanalyzerproject_big_data__spark.io import load_table

    out = str(tmp_path_factory.mktemp("part") / "orders_by_status")
    load_table(spark, SF, "orders").write.partitionBy("o_orderstatus").parquet(out)
    df = spark.read.parquet(out).where("o_orderstatus = 'F'").select("o_orderkey")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "o_orderstatus" in plan.split("PartitionFilters:")[1][:200]


def test_bucketed_join_has_no_shuffle(spark, tmp_path_factory):
    """Two tables bucketed on the join key must sort-merge join with ZERO
    Exchange operators -- the pre-paid-shuffle (co-located join) strategy."""
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.io import load_table

    base = tmp_path_factory.mktemp("bucketed")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load_table(spark, SF, "orders").select("o_orderkey", "o_orderpriority")
    # external tables: bucket metadata lives in the catalog, not the files
    for df, table, key in ((li, "li_b", "l_orderkey"), (o, "o_b", "o_orderkey")):
        df.write.option("path", str(base / table)).bucketBy(4, key).sortBy(key).saveAsTable(table)
    thresholds = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in thresholds}
    try:
        # disable broadcast so the tiny test tables exercise the co-located
        # sort-merge path (the strategy that matters when BOTH sides are big)
        for k in thresholds:
            spark.conf.set(k, "-1")
        joined = spark.table("li_b").join(spark.table("o_b"), F.col("l_orderkey") == F.col("o_orderkey"))
        assert joined.count() > 0
        counts = operator_counts(joined)
        assert counts["Exchange"] == 0, f"bucketed join still shuffles: {counts}"
        assert counts["SortMergeJoin"] >= 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS o_b")


def test_decontaminate_broadcasts_eval_grams(spark):
    """c3: the eval-set gram join must be a BroadcastHashJoin -- the corpus
    side is scored map-side, never shuffled on grams."""
    plan = _plan(contract.dedup.q_c3(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_pack_sequences_has_no_global_data_window(spark):
    """c5: the only unpartitioned Window must run over the model-sized
    bucket-total aggregate, never the document rows -- the doc-level window
    is partitioned by bucket (parallel local cumsums)."""
    plan = _plan(contract.dedup.q_c5(spark, SF))
    # the doc-level cumsum window is keyed by the bucket column
    assert "_bucket" in plan and "Window" in plan
    # offsets come back via broadcast, not a doc-level shuffle join
    assert "BroadcastHashJoin" in plan


def test_chunking_is_shuffle_free(spark):
    """c4: chunking must plan as scan -> generate (posexplode) -> project
    with no Exchange at all."""
    df = contract.dedup.q_c4(spark, SF)
    df.collect()
    assert operator_counts(df).get("Exchange", 0) == 0


def test_zorder_keys_are_map_side(spark):
    """l1: after the min/max scalar aggregate, key computation must be a
    pure scan+project -- zero Exchange in the returned plan."""
    df = contract.lake.q_l1(spark, SF)
    df.collect()
    assert operator_counts(df).get("Exchange", 0) == 0


def test_training_shuffle_has_no_global_data_window(spark):
    """c7: the doc-level rank window must be partitioned by the md5-prefix
    bucket (parallel local ranks); the only unpartitioned window runs over
    the model-sized bucket counts, and offsets return via broadcast."""
    plan = _plan(contract.dedup.q_c7(spark, SF))
    assert "_bucket" in plan and "Window" in plan
    assert "BroadcastHashJoin" in plan


def test_span_removal_windows_are_doc_partitioned(spark):
    """d6: both analytic windows (islands break + running island id) must
    be partitioned by doc_id -- per-reducer data is bounded by one doc's
    length, never the corpus."""
    plan = _plan(contract.dedup.q_d6(spark, SF))
    import re

    # every Window operator's partition spec mentions doc_id
    specs = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    win_specs = [s for s in specs if s]
    assert win_specs, f"no Window partition specs found in plan:\n{plan[:500]}"
    assert all("doc_id" in s for s in win_specs), win_specs


def test_bloom_probe_joins_broadcast_bit_positions(spark):
    # The filter's set-bit position table must broadcast to the probe side
    # (the probe never shuffles wide); the final gate is one aggregate.
    plan = _plan(contract.relational.q_bf1(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_dsir_bucket_model_joins_broadcast(spark):
    # The <= m-row log-ratio model must broadcast back to the (doc, bucket)
    # counts -- the only corpus-sized shuffle is that count aggregate.
    # (Live plans expose the real plan; the public path pins the k-row
    # result behind a localCheckpoint.)
    from youtubeanalyzerproject_big_data__spark.io import load_table
    from youtubeanalyzerproject_big_data__spark.operators.textanalysis import dsir_importance_select
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents")
    with _live_plans():
        df = dsir_importance_select(docs, docs.where(F.col("source") == "src0"), "doc_id", "text", m_buckets=4096, k=50)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # deterministic top-k, no full sort


def test_segment_dedup_never_shuffles_text(spark):
    # Pass A shuffles only (doc_id, idx, 32-hex digest): no Exchange in the
    # plan may carry the raw text column.
    df = contract.dedup.q_d11(spark, SF)
    plan = _plan(df)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "_text" not in line and "text#" not in line


def test_scd2_windows_are_key_partitioned(spark):
    # u3: every analytic window must partition by the SCD key -- per-reducer
    # state is one key's history, never the table (d6's discipline).
    import re

    plan = _plan(contract.lake.q_u3(spark, SF))
    specs = [s for s in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan) if s]
    assert specs and all("user_id" in s for s in specs), specs


def test_conversion_latency_filters_reach_scan(spark):
    # e10: the per-step event_type filters must push into the parquet scan.
    plan = _plan(contract.events.q_e10(spark, SF))
    assert "PushedFilters: [" in plan
    assert "event_type" in plan


def test_rule_filter_is_single_scan_single_shuffle(spark):
    plan = _plan(contract.dedup.q_c10(spark, SF))
    # one documents scan; the round-robin repartition + one agg shuffle
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_hourly_anomaly_moment_table_broadcasts(spark):
    plan = _plan(contract.events.q_e11(spark, SF))
    assert "BroadcastHashJoin" in plan  # type-sized moments join the grid broadcast
    assert "TakeOrderedAndProject" in plan  # top-|z| cut, no full sort


def test_rfm_scoring_is_map_side_after_cutpoints(spark):
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.io import load_table
    from youtubeanalyzerproject_big_data__spark.operators.aggregates import rfm_segments

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    with _live_plans():
        df = rfm_segments(load_table(spark, SF, "orders"), "o_custkey", "o_orderdate", "o_totalprice")
    try:
        plan = _plan(df)
        # after the customer grid, scoring uses literal cutpoints: no join at all
        assert "Join" not in plan
    finally:
        spark.catalog.clearCache()


def test_adamic_adar_frontier_broadcasts(spark):
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.io import load_table
    from youtubeanalyzerproject_big_data__spark.operators.graph import adamic_adar

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    pairs = x.join(
        y, (F.col("x.l_orderkey") == F.col("y.l_orderkey")) & (F.col("x.l_partkey") < F.col("y.l_partkey"))
    ).select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
    seeds = li.select(F.col("l_partkey").alias("seed")).where(F.col("l_partkey") % 1000 == 1).distinct()
    with _live_plans():
        df = adamic_adar(pairs, seeds, k=5)
    try:
        plan = _plan(df)
        # the seed frontier (2-hop expansion) and the degree-weight table both
        # broadcast; the only shuffles are edge-build + score aggregation
        assert plan.count("BroadcastHashJoin") >= 3
    finally:
        spark.catalog.clearCache()


def test_dynamic_partition_pruning_fires(spark, tmp_path_factory):
    """Fact partitioned by a dim-derived key, filtered via a JOIN on the
    dim (no literal predicate on the fact): Spark must inject a dynamic
    pruning subquery on the partition column so only matching partitions
    are scanned -- at 100 TB this is the difference between reading 3
    partitions and reading 300 (star-schema query shape)."""
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.io import load_table

    out = str(tmp_path_factory.mktemp("dpp") / "orders_by_priority")
    load_table(spark, SF, "orders").write.partitionBy("o_orderpriority").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("1-URGENT", "u"), ("2-HIGH", "h"), ("3-MEDIUM", "m")], "o_orderpriority string, tag string"
    )
    # DPP preconditions: a SELECTIVE predicate on the dim and the dim as
    # the broadcast build side (reuseBroadcastOnly default) -- exactly the
    # star-schema shape.
    q = fact.join(F.broadcast(dim).where("tag = 'u'"), "o_orderpriority").select("o_orderkey", "tag")
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]


def test_rake_windows_are_doc_partitioned(spark):
    """t19: the run-splitting window must be PARTITIONed by the doc id --
    no global ordered window anywhere in the plan."""
    import re

    plan = _plan(contract.text.q_t19(spark, SF))
    specs = [s for s in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan) if s]
    assert specs, f"no Window partition specs found:\n{plan[:500]}"
    assert all("_doc" in s for s in specs), specs


def test_hilbert_keys_are_map_side(spark):
    """l3: after the 4-scalar min/max aggregate, key computation must be a
    pure projection -- no join, no shuffle in the output plan."""
    plan = _plan(contract.lake.q_l3(spark, SF))
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_graph_auto_broadcast_flips_on_edge_count(spark, monkeypatch):
    """g6/g9/g10's degree/adjacency broadcast must be AUTO-selected from
    the measured edge count (VERDICT r5 item 2): below the ceiling the
    hint engages (BroadcastHashJoin even with Spark's own threshold
    disabled); above it (forced by lowering AUTO_BROADCAST_MAX_EDGES to 0) the joins
    stay un-hinted and plan as SortMergeJoin instead of aborting on the
    broadcast limit at scale."""
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.io import load_table
    from youtubeanalyzerproject_big_data__spark.operators import graph

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    x, y = li.alias("x"), li.alias("y")
    pairs = x.join(
        y, (F.col("x.l_orderkey") == F.col("y.l_orderkey")) & (F.col("x.l_partkey") < F.col("y.l_partkey"))
    ).select(F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst"))
    thresholds = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {c: spark.conf.get(c, None) for c in thresholds}
    try:
        for c in thresholds:  # the explicit hint must be the ONLY broadcast lever
            spark.conf.set(c, "-1")
        with _live_plans():
            small = graph.clustering_coefficient_topk(pairs, k=5)
            monkeypatch.setattr(graph, "AUTO_BROADCAST_MAX_EDGES", 0)
            big = graph.clustering_coefficient_topk(pairs, k=5)
        assert "BroadcastHashJoin" in _plan(small)
        plan_big = _plan(big)
        assert "SortMergeJoin" in plan_big
        # both modes return identical rows -- strategy, not semantics
        assert [tuple(r) for r in small.collect()] == [tuple(r) for r in big.collect()]
    finally:
        for c, v in saved.items():
            spark.conf.unset(c) if v is None else spark.conf.set(c, v)
        spark.catalog.clearCache()


def _outside_caches(plan: str) -> list[str]:
    """Plan lines outside every InMemoryRelation subtree: the operators
    that run per query, not the cached table's own (one-time) build."""
    depth = lambda ln: len(ln) - len(ln.lstrip(" :|+-"))  # noqa: E731
    out, cut = [], None
    for ln in plan.splitlines():
        if cut is not None and depth(ln) > cut:
            continue
        cut = depth(ln) if "InMemoryRelation" in ln else None
        out.append(ln)
    return out


def _assert_rank_joins_co_partitioned(plan: str) -> None:
    """Every rank join is a pinned shuffle-hash join over the edge layout:
    no broadcast, no sort-merge, no cartesian, and the edge table is never
    re-shuffled on src outside its cache."""
    import re

    outside = "\n".join(_outside_caches(plan))
    assert plan.count("BroadcastHashJoin") == 0
    assert plan.count("SortMergeJoin") == 0 and plan.count("CartesianProduct") == 0
    joins = re.findall(r"(\w+Join) \[", outside)
    assert joins and set(joins) == {"ShuffledHashJoin"}, joins
    assert not re.search(r"Exchange hashpartitioning\(src", outside)


def _assert_one_task(plan: str) -> None:
    """A one-piece rank plan is one mapInPandas task over the edge stream:
    exactly one MapInPandas, and no join or exchange anywhere."""
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan and "Exchange" not in plan, plan


def test_pagerank_loop_shape(spark):
    """g4/g5 on the sf0.001 fixture: the built handle holds one partition,
    so every round runs inside one mapInPandas task over the cached edges;
    the plan has no join (no rank join, no broadcast) and no exchange."""
    with _live_plans():
        handle = contract.graph._prepared_pagerank_edges(spark, SF, "fwd")
        ranks = graphmod.pagerank(None, max_iter=3, weighted=handle)
        plan = _plan(ranks)
    assert "InMemoryTableScan" in plan
    _assert_one_task(plan)


def test_ppr_seeds_compile_to_inlist(spark):
    """g7 on the sf0.001 fixture: the same one-task shape as g4 -- the seed
    list rides the task as literals, so no seed table is joined.  (The
    IN-list check of the seed literals is on the rounds, in
    test_rank_rounds_multi_partition_layout.)"""
    with _live_plans():
        handle = contract.graph._prepared_pagerank_edges(spark, SF, "cyclic")
        # seeds in the r11 integer encoding (parts P1, P2 -> 2k+1)
        ranks = graphmod.personalized_pagerank(None, [3, 5], max_iter=3, weighted=handle)
        plan = _plan(ranks)
    _assert_one_task(plan)


def test_rank_rounds_multi_partition_layout(spark):
    """A 200k-edge graph is laid out in spark.sql.shuffle.partitions
    pieces: each round is exactly one Exchange (the dst aggregate), the
    rank join reads the cached src layout in place, and both rank
    functions keep that shape end to end."""
    import re

    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.session import loop_partitions

    e = spark.range(200_000).select(
        (F.col("id") % 40_000).alias("src"), (F.col("id") * 7919 % 50_000 + 40_000).alias("dst")
    )
    with _live_plans():
        handle = graphmod.prepare_weighted_edges(e)
        try:
            handle.count()
            assert loop_partitions(e) == int(spark.conf.get("spark.sql.shuffle.partitions")) > 1
            reset = lambda c: F.lit(0.15)  # noqa: E731
            rounds = graphmod._rank_rounds(handle, reset, lambda c: F.lit(1.0), 0.15, 3)
            outside = _outside_caches(_plan(rounds))
            assert sum(bool(re.search(r"Exchange hashpartitioning\(dst", ln)) for ln in outside) == 3
            assert sum("Exchange" in ln for ln in outside) == 3
            assert sum("InMemoryTableScan" in ln for ln in outside) == 3
            for ranks in (
                graphmod.pagerank(None, max_iter=3, weighted=handle),
                graphmod.personalized_pagerank(None, [3, 5], max_iter=3, weighted=handle),
            ):
                plan = _plan(ranks)
                _assert_rank_joins_co_partitioned(plan)
            # the last plan is PPR's: its seeds are IN-list literals, never a join
            assert "INSET" in plan.upper() or " IN (" in plan
        finally:
            handle.unpersist()


def test_pagerank_job_broadcasts_the_top_n_not_the_videos(spark, crawl_videos):
    """jobs.pagerank_job broadcasts only top-N-sized tables: the videos
    table streams through a left-semi join against the broadcast top-N ids,
    and what reaches the uploader enrichment is that join's output -- no
    BroadcastExchange sits over the videos scan itself."""
    import re

    from youtubeanalyzerproject_big_data__spark import jobs

    lines = _plan(jobs.pagerank_job(crawl_videos)).splitlines()
    built = [
        next(ln for ln in lines[i + 1 :] if not re.search(r"\b(Project|Filter)\b", ln))
        for i, ln in enumerate(lines)
        if "BroadcastExchange" in ln
    ]
    assert len(built) == 2, lines
    assert "TakeOrderedAndProject" in built[1] and "LeftSemi" in built[0], built
    assert any(re.search(r"BroadcastHashJoin .*LeftSemi, BuildRight", ln) for ln in lines)
    assert any(re.search(r"BroadcastHashJoin .*LeftOuter, BuildRight", ln) for ln in lines)


def test_refresh_one_piece_layout_has_no_exchange(spark, videos, tmp_path, monkeypatch):
    """On the one-piece layout (a crawl-sized videos table) the Phase-1
    refresh shuffles nothing: no line of the plan of any of the four netagg
    artifacts, the globalstats serve miss, or the weighted-edge build is a
    shuffle Exchange.  (degreestat's two degree tables still reach its
    vertex joins as BroadcastExchanges, which write no shuffle.)"""
    import re

    from youtubeanalyzerproject_big_data__spark import jobs, serve
    from youtubeanalyzerproject_big_data__spark.operators import graph

    path = str(tmp_path / "videos_pq")
    videos.repartition(3).write.parquet(path)
    videos = spark.read.parquet(path)  # a sized source, as ingest stores it
    written = {}
    capture = lambda df, path: written.setdefault(path.rsplit("/", 1)[-1], df)  # noqa: E731
    monkeypatch.setattr(jobs, "write_json_artifact", capture)
    monkeypatch.setattr(serve, "write_json_artifact", capture)
    jobs.run_netagg(videos, str(tmp_path / "caches"))
    serve.QueryService(spark, videos, str(tmp_path / "caches")).refresh("globalstats")
    plans = {name: _plan(df) for name, df in written.items()}
    handle = graph.prepare_weighted_edges(graph.edges_from_arrays(videos, "video_id", "related"))
    try:
        plans["weighted_edges"] = _plan(handle)
    finally:
        handle.unpersist()
    assert sorted(plans) == ["categorystats", "degreestat", "globalstats", "sizestats", "viewstats", "weighted_edges"]
    for name, plan in plans.items():
        assert not [ln for ln in plan.splitlines() if re.search(r"\bExchange\b", ln)], (name, plan)


def test_label_propagation_round_has_no_window(spark):
    """lp1: one round = edges join labels + (dst,label) count + min-struct
    argmax -- hash aggregates only, NO analytic window anywhere (a window
    would serialize per-vertex label histograms through one reducer)."""
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.io import load_table

    li = load_table(spark, SF, "lineitem")
    fwd = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("dst"),
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    with _live_plans():
        labels = graphmod.label_propagation(edges, max_iter=1)
        plan = _plan(labels)
    spark.catalog.clearCache()  # live pins release nothing: drop the edge cache
    assert plan.count("Window") == 0
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 0


def test_khop_frontier_expansion_is_hash_joined(spark):
    """g8: each hop is frontier-join-edges plus a left-anti against
    visited -- hash/merge joins only, no nested-loop or cartesian
    fallback, no window."""
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.io import load_table

    li = load_table(spark, SF, "lineitem")
    fwd = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("dst"),
    )
    edges = fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    with _live_plans():
        visited = graphmod.k_hop_distances(edges, ["P1", "P2"], max_hops=2)
        plan = _plan(visited)
    assert "LeftAnti" in plan  # frontier-minus-visited is an anti join
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 0
    assert plan.count("Window") == 0
    spark.catalog.clearCache()


def test_minhash_candidates_meet_in_buckets_not_crossjoin(spark):
    """d3: LSH candidates come from band-bucket groupBys -- the plan may
    contain NO cartesian/nested-loop join, and no Exchange may carry the
    raw text column (shuffles move hashes and band keys only)."""
    from youtubeanalyzerproject_big_data__spark.io import load_table
    from youtubeanalyzerproject_big_data__spark.operators.dedup import minhash_lsh_pairs

    with _live_plans():
        df = minhash_lsh_pairs(
            load_table(spark, SF, "documents"), "doc_id", "text", n=3, num_hashes=16, bands=4, threshold=0.8
        )
    try:
        plan = _plan(df)
        assert plan.count("CartesianProduct") == 0
        assert plan.count("BroadcastNestedLoopJoin") == 0
        for line in plan.splitlines():
            if "Exchange" in line:
                assert "text#" not in line, line
        # Pair-verification joins are pinned to shuffle-hash building on the
        # doc-keyed side: the static planner's estimate for the candidate
        # side is unreliable (it broadcast a ~1e9-row pair table at sf10),
        # so neither side may be broadcast here.
        assert plan.count("ShuffledHashJoin") >= 2
    finally:
        spark.catalog.clearCache()


def test_ngram_pair_stage_joins_are_shuffle_hash_not_broadcast(spark):
    """d2/d12: every join in the capped-intersection pair stage is pinned
    shuffle_hash.  The static planner's size estimate for the post-explode
    pair aggregate is garbage -- at sf10 it chose to BROADCAST the ~1e9-row
    pair table and the driver-side collect blew spark.driver.maxResultSize
    (round-8 catch).  Gate: NO broadcast join of any kind may appear in the
    live pair-stage plan, and the pinned ShuffledHashJoins must be there, so
    a Spark upgrade or hint change can't silently revert the fix."""
    from youtubeanalyzerproject_big_data__spark.io import load_table
    from youtubeanalyzerproject_big_data__spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF, "documents")
    for fn in (ngram_jaccard_pairs, containment_pairs):
        with _live_plans():
            df = fn(docs, "doc_id", "text")
        try:
            plan = _plan(df)
            assert plan.count("BroadcastHashJoin") == 0, fn.__name__
            assert plan.count("BroadcastNestedLoopJoin") == 0, fn.__name__
            assert plan.count("CartesianProduct") == 0, fn.__name__
            # 7 joins are pinned shuffle_hash in the source (doc-level df
            # recovery, 2 size attachments, 4 member expansions), but the
            # plan STRING duplicates reused subtrees (measured 30/60
            # occurrences live), so an exact count is meaningless here.
            # The real gate is the zero-broadcast asserts above; the >= 5
            # floor only proves the hint isn't being dropped wholesale.
            assert plan.count("ShuffledHashJoin") >= 5, (
                f"{fn.__name__}: {plan.count('ShuffledHashJoin')} SHJ"
            )
        finally:
            spark.catalog.clearCache()


def test_semantic_dedup_pairs_are_cell_bounded(spark):
    """d10: pair generation must be a single equi-join keyed on the
    k-means cell (narrow int key) -- no cartesian, at most one sort-merge
    join; the centroid table broadcasts back for assignment."""
    plan = _plan(contract.dedup.q_d10(spark, SF))
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BroadcastNestedLoopJoin") == 0
    assert plan.count("BroadcastHashJoin") >= 3
    assert plan.count("SortMergeJoin") <= 1
    spark.catalog.clearCache()


def test_copurchase_build_is_groupby_not_selfjoin(spark):
    """g12: the capped projection must plan as groupBy + in-array pair
    expansion -- NO join operator at all (the naive build self-joins the
    fact table), and only the group collect's hash shuffle: the builder
    returns the raw per-group stream, each consumer dedups it."""
    from youtubeanalyzerproject_big_data__spark.io import load_table
    from youtubeanalyzerproject_big_data__spark.operators.graph import copurchase_edges

    li = load_table(spark, SF, "lineitem")
    plan = _plan(copurchase_edges(li, "l_orderkey", "l_partkey", max_group_size=8))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_zonemap_report_has_no_global_data_window(spark):
    """l5: the only unpartitioned-looking window runs over the model-sized
    bucket totals; the data-level rank window must partition by _bucket,
    and offsets return via broadcast (c5/c7 discipline)."""
    import re

    from youtubeanalyzerproject_big_data__spark.io import load_table
    from youtubeanalyzerproject_big_data__spark.functions.zorder import zonemap_skip_report
    from pyspark.sql import functions as F

    o = load_table(spark, SF, "orders")
    plan = _plan(zonemap_skip_report(o, F.col("o_custkey"), "o_custkey", 100, 200, rows_per_zone=200))
    specs = [s for s in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan) if True]
    # every Window has a non-empty partition spec (bucket or pmod constant)
    assert specs and all(s.strip() for s in specs), specs
    assert "BroadcastHashJoin" in plan


def test_sq8_calibration_broadcasts(spark):
    """em6: the dim-sized calibration table must broadcast back to the
    posexploded elements -- the element stream is never shuffled twice."""
    plan = _plan(contract.vectors.q_em6(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q7_dimension_chains_broadcast(spark):
    """tpch_q7: supplier/customer/nation chains broadcast; at most the
    fact-fact lineitem-orders join may sort-merge."""
    plan = _plan(contract.tpch.q_q7(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_q10_aggregates_before_broadcast_enrich(spark):
    """tpch_q10: customer enrichment joins the AGGREGATE (broadcast), and
    the top-20 compiles to TakeOrderedAndProject, not a full sort."""
    plan = _plan(contract.tpch.q_q10(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_q2_decorrelation_is_all_broadcast(spark):
    """tpch_q2: the min-cost join-back runs entirely on broadcast joins --
    the supply relation is the only fact-sized input; part/supplier prunes
    and the part-dim-sized per-part min must never sort-merge."""
    plan = _plan(contract.tpch.q_q2(spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4, plan.count("BroadcastHashJoin")


def test_q21_is_one_grouped_pass_not_triple_selfjoin(spark):
    """tpch_q21: the exists/not-exists correlation must collapse into ONE
    grouped pass -- the classic l1/l2/l3 formulation scans lineitem three
    times; this plan may scan it once."""
    plan = _plan(contract.tpch.q_q21(spark, SF))
    li_scans = [
        ln for ln in plan.splitlines() if ("FileScan parquet" in ln or "Scan parquet" in ln) and "lineitem" in ln
    ]
    assert len(li_scans) == 1, li_scans


def test_q16_not_in_is_broadcast_anti_join(spark):
    """tpch_q16: the negative-balance supplier exclusion must plan as a
    broadcast LEFT ANTI join (keys-only), never a shuffled NOT IN."""
    plan = _plan(contract.tpch.q_q16(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_g12_pair_stream_crosses_one_exchange(spark):
    """g12 (r11): the capped pair stream must cross ONE exchange -- range
    partitioning on (src, dst) satisfies the dedup aggregate's clustered
    distribution, so dropDuplicates and the output sort run partition-local
    after the range exchange.  A reappearing hashpartitioning(src, dst)
    exchange means the old distinct+orderBy double shuffle regressed."""
    plan = _plan(contract.graph.q_g12(spark, SF))
    ex_lines = [ln for ln in plan.splitlines() if "Exchange" in ln and "partitioning" in ln]
    assert any("rangepartitioning(src" in ln for ln in ex_lines), ex_lines
    assert not any("hashpartitioning(src" in ln for ln in ex_lines), ex_lines


def test_kcore_semijoins_are_not_broadcast_forced(spark):
    """g13: the removed keyset is vertex-sized, so kcore must NOT hint
    broadcast (the r5 g10 lesson) -- with Spark's own broadcast thresholds
    disabled, the delta-peel round's joins must degrade to shuffle joins
    instead of aborting at scale."""
    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges = spark.createDataFrame(clique + [(4, 5), (5, 6)], "src long, dst long")
    thresholds = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {c: spark.conf.get(c, None) for c in thresholds}
    try:
        for c in thresholds:
            spark.conf.set(c, "-1")
        with _live_plans():
            out = graphmod.kcore(edges, k=3, max_rounds=2)
        plan = _plan(out)
        assert "BroadcastHashJoin" not in plan, "kcore must not force-broadcast vertex keysets"
        # delta-peel shape: per-round dec (edges into this round's removed
        # set) folded back into the maintained degrees via a left join --
        # per-LINE match (CLAUDE.md: the executed plan prints
        # "SortMergeJoin [keys...], LeftOuter", so adjacent-substring
        # checks never fire)
        assert any(
            "SortMergeJoin" in ln and "LeftOuter" in ln for ln in plan.splitlines()
        ), "delta-peel degree fold (SMJ LeftOuter) missing from kcore round"
    finally:
        for c, v in saved.items():
            spark.conf.unset(c) if v is None else spark.conf.set(c, v)


def test_gap_fill_windows_and_spine_are_key_partitioned(spark):
    """e15: the forward-fill window must partition by the series key
    (per-reducer state = one key's spine), and the spine generation must
    be sequence+explode -- no global calendar join, no unpartitioned
    window."""
    import re

    plan = _plan(contract.events.q_e15(spark, SF))
    specs = [s for s in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan) if s]
    assert specs and all("user_id" in s for s in specs), specs
    assert "Generate explode" in plan  # the per-key spine
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pit_lookup_is_single_interval_join(spark):
    """u7: exactly ONE join operator (the as-of equi-join with interval
    residual); the SCD2 build contributes windows, all key-partitioned."""
    import re

    plan = _plan(contract.lake.q_u7(spark, SF))
    n_joins = sum(plan.count(op) for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, n_joins
    specs = [s for s in re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan) if s]
    assert specs and all("user_id" in s for s in specs), specs


def test_aqe_skew_join_splits_hot_partition(spark):
    """The 100 TB skew story has two layers: explicit salting (sk1/sk2)
    and AQE's runtime skew-join split.  This pins the second: a sort-merge
    join with one hot key must show skew=true partition splitting in the
    final adaptive plan once the skew thresholds are reachable at test
    scale.  If a Spark upgrade silently changes the AQE skew knobs, this
    fails loudly instead of regressing 100x at the cluster."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {c: spark.conf.get(c, None) for c in confs}
    try:
        for c, v in confs.items():
            spark.conf.set(c, v)
        # left: 200k rows, 90% on one hot key; right: 2k rows per key domain
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id") % 100).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(100).select(F.col("id").alias("k"), F.lit(1).alias("w"))
        j = left.join(right, "k")
        # materialize THIS DataFrame's own QueryExecution so AQE finalizes
        # it (a .count() plans a different query and leaves j un-finalized)
        assert len(j.collect()) == 200_000
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "skew=true" in plan, "AQE skew-join split did not engage"
    finally:
        for c, v in saved.items():
            spark.conf.unset(c) if v is None else spark.conf.set(c, v)


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE's other runtime lever: a shuffle producing far less data than
    shuffle.partitions x advisory size must COALESCE its reducer count
    (AQEShuffleRead coalesced) -- at 100 TB the same mechanism right-sizes
    every stage instead of running thousands of empty reducers."""
    from pyspark.sql import functions as F

    saved = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", None)
    try:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
        df = spark.range(10_000).groupBy((F.col("id") % 7).alias("k")).count()
        assert len(df.collect()) == 7  # finalize THIS QueryExecution (AQE)
        plan = _plan(df)
        assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:400]
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
        else:
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", saved)


def test_d14_rank_windows_are_bucket_partitioned(spark):
    """d14: the corpus-level rank window must partition by the key-prefix
    bucket (two-level rank discipline); offsets come back by broadcast;
    neighbor pairing shuffles by integer rank, never a corpus sort."""
    import re

    from youtubeanalyzerproject_big_data__spark.io import load_table
    from youtubeanalyzerproject_big_data__spark.operators.dedup import sorted_neighborhood_pairs

    docs = load_table(spark, SF, "documents")
    plan = _plan(sorted_neighborhood_pairs(docs, "doc_id", "text"))
    specs = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    data_windows = [s for s in specs if "_bucket" in s]
    global_windows = [s for s in specs if not s.strip()]
    assert data_windows, specs  # the per-bucket row_number engaged
    # the only permissible empty partition spec is the bucket-count cumsum
    assert len(global_windows) <= 1, specs
    assert "BroadcastHashJoin" in plan  # offsets return map-side


def test_a26_summary_joins_broadcast(spark):
    """a26: per-shard sizes, targets, and the 3-row estimates all return
    by broadcast; the corpus is shuffled ONLY once, to shards."""
    plan = _plan(contract.relational.q_a26(spark, SF))
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_u8_cascade_join_strategies(spark):
    """u8: the deletion queue is EXPLICITLY broadcast (request-queue-sized,
    survives threshold-off), but the fact-sized order-cascade set must not
    be force-broadcast -- with Spark's thresholds disabled the lineitem
    anti-join degrades to a shuffle join instead of aborting at scale.
    (At bench scale AQE legitimately broadcasts it; the gate is that WE
    never pinned that choice.)"""
    thresholds = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {c: spark.conf.get(c, None) for c in thresholds}
    try:
        for c in thresholds:
            spark.conf.set(c, "-1")
        plan = _plan(contract.lake.q_u8(spark, SF))
        assert "BroadcastHashJoin" in plan  # the hinted queue joins
        assert any(
            ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln) and "LeftAnti" in ln
            for ln in plan.splitlines()
        ), "lineitem cascade anti-join must degrade to a shuffle join"
    finally:
        for c, v in saved.items():
            spark.conf.unset(c) if v is None else spark.conf.set(c, v)


def test_s8_fusion_is_candidate_sized(spark):
    """s8: both legs cut to top-20 BEFORE fusion -- the fused plan carries
    TakeOrdered/Limit on each leg, and the full-outer fusion join runs on
    candidate lists, not the corpus."""
    plan = _plan(contract.vectors.q_s8(spark, SF))
    assert "TakeOrderedAndProject" in plan or "GlobalLimit" in plan
    assert "FullOuter" in plan


def test_dup_ngram_single_scan_hash_only_shuffle(spark):
    """t23: one documents scan; the corpus-sized shuffles key on
    (grp, md5-hash) / (grp) only -- gram TEXT must never reach an
    Exchange (the narrow-shuffle-key invariant)."""
    plan = _plan(contract.text.q_t23(spark, SF))
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln or "Scan parquet" in ln]
    assert len(scans) == 1, scans
    assert plan.count("HashAggregate") >= 4  # partial+final for both aggregates
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "gram" not in ln, ln  # only grp/gh hash keys shuffle


def test_hits_loop_shape(spark):
    """g15: with full loop lineage visible, every renorm must be the
    broadcast-1-row-max pattern (BroadcastNestedLoopJoin, never a real
    CartesianProduct), rank-side joins stay hash joins (no sort-merge of
    the edge table), and both top-k cuts compile to TakeOrdered -- plus
    the reason the loop pins: the unpinned tree RE-INLINES (4 pinned
    nodes would be 4 BNLJs; full lineage shows the blow-up)."""
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.io import load_table

    li = load_table(spark, SF, "lineitem")
    edges = li.select(
        F.concat(F.lit("O"), F.col("l_orderkey")).alias("src"),
        F.concat(F.lit("P"), F.col("l_partkey")).alias("dst"),
    )
    with _live_plans():
        plan = _plan(graphmod.hits(edges, rounds=2, k=10))
    spark.catalog.clearCache()  # live pins release nothing: drop the edge caches
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BroadcastNestedLoopJoin") >= 4  # one per renorm, re-inlined
    assert plan.count("TakeOrderedAndProject") == 2  # never a global sort


def test_q3_segment_filter_broadcasts_and_top10_is_takeordered(spark):
    """tpch_q3: the BUILDING-segment customer keys broadcast into the
    fact join; at most the lineitem-orders join sort-merges; the top-10
    compiles to TakeOrderedAndProject, never a global sort."""
    plan = _plan(contract.tpch.q_tpch_q3(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("SortMergeJoin") <= 1
    assert "TakeOrderedAndProject" in plan


def test_q5_single_fact_fact_shuffle(spark):
    """tpch_q5: supplier/customer/nation/region chains broadcast; the
    only join allowed to sort-merge is lineitem-orders."""
    plan = _plan(contract.tpch.q_tpch_q5(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") <= 1


def test_m8_model_joins_broadcast_no_doc_sized_join(spark):
    """m8: every join is a model-sized broadcast (prior cross, lp left);
    the true label rides through the test aggregate, so NO doc-sized
    join -- a SortMergeJoin anywhere means a corpus-vs-corpus shuffle
    crept back in.  Live plans expose the whole lineage (the operator pins
    its train aggregate + result, which truncates the lineage the
    assertions need to see)."""
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.io import load_table
    from youtubeanalyzerproject_big_data__spark.operators import classify as classify_ops

    docs = load_table(spark, SF, "documents")
    with _live_plans():
        out = classify_ops.naive_bayes_confusion(
            docs.where(F.col("doc_id") % 5 != 0), docs.where(F.col("doc_id") % 5 == 0), "doc_id", "text", "lang"
        )
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_f13_exact_k_is_takeordered_not_global_sort(spark):
    """f13: ORDER BY hash LIMIT k must compile to TakeOrderedAndProject
    (per-partition k-heaps); a global Sort would shuffle the corpus."""
    plan = _plan(contract.relational.q_f13(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "+- Sort " not in plan


def test_c15_pipeline_single_scan_single_corpus_shuffle(spark):
    """c15: the end-to-end pipeline reads documents ONCE and shuffles
    corpus rows only at the digest groupBy (the second exchange carries
    the map-side-combined split x tier partials, a handful of rows per
    partition); no join anywhere."""
    plan = _plan(contract.dedup.q_c15(spark, SF))
    scans = [ln for ln in plan.splitlines() if "Scan parquet" in ln or "FileScan parquet" in ln]
    assert len(scans) == 1, scans
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
