"""The reference's four batch jobs, end-to-end, over the videos data model.

This is the surface a user of the reference actually runs (SURVEY.md par.3.2:
the Phase-1 "precompute" jobs that materialize JSON caches for the GUI):

  * network/category/size/view statistics  (run_netagg_job.py)
  * PageRank top-N with uploader enrichment (run_pagerank_job.py)
  * ALS recommendations                     (run_alsrecs_job.py)
  * the JSON artifact ("materialized view") layer (S9)

Every job is a thin composition of the generic operators in ``operators/``
bound to the reference's constants -- bucket edges 240/1200 s and
1k/10k/100k/1M views (YoutubeNetworkAgg_Final.py:189-194,227-234), PageRank
resetProb 0.15 / maxIter 10 / >=5-related densification
(PageRank_Spark_v5.py:61,102), ALS 10% sample seed 42 / maxIter 10 /
regParam 0.1 / 500 users x 5 recs (run_alsrecs_job.py:55,84-104).

Reference quirks preserved deliberately (SURVEY.md par.7.4):
  * HTML-entity category duplicates are NOT normalized (parity first).
  * ``-1`` sentinels participate in aggregates (they skew avg/stddev the
    same way the reference's do).
  * The view histogram orders by bucket LABEL (lexicographic).
Divergence: the reference's N+1 ``find_one`` uploader loop is replaced by a
broadcast join (same output, distributed mechanics -- SURVEY.md J6).

Layout: ``run_netagg`` and ``pagerank_job`` lay ``videos`` out once through
``session.data_sized``.  A crawl-sized table (one AQE minimum partition)
becomes one coalesced piece, so every aggregate, sort, window and join of
the refresh runs without a shuffle; a larger table keeps its source
partitions and plans exactly as the bare jobs do.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.io import write_json_artifact
from youtubeanalyzerproject_big_data__spark.operators import aggregates as agg
from youtubeanalyzerproject_big_data__spark.operators import graph, joins, recommend
from youtubeanalyzerproject_big_data__spark.session import data_sized

# Reference bucket constants (YoutubeNetworkAgg_Final.py:189-194, 227-234).
LENGTH_BUCKETS: list[tuple[float, str]] = [(240, "1_short_lt240s"), (1200, "2_medium_240to1199s")]
LENGTH_DEFAULT = "3_long_ge1200s"
VIEW_BUCKETS: list[tuple[float, str]] = [
    (1_000, "a_lt1k"),
    (10_000, "b_1k_10k"),
    (100_000, "c_10k_100k"),
    (1_000_000, "d_100k_1m"),
]
VIEW_DEFAULT = "e_ge1m"


def category_stats_job(videos: DataFrame, limit: int = 50) -> DataFrame:
    """A1 (run_netagg_job.py:75-97): per-category count/avg/max views +
    avg length + avg rating, biggest categories first, top-50."""
    return (
        agg.category_stats(videos, "category", "views", extra_avgs={"length": "avg_length", "rate": "avg_rating"})
        .withColumnRenamed("num_rows", "num_videos")
        .drop("min_views")
        .limit(limit)
    )


def size_stats_job(videos: DataFrame) -> DataFrame:
    """A2 (run_netagg_job.py:100-129): stats per length bucket."""
    return agg.bucket_stats(videos, "length", LENGTH_BUCKETS, LENGTH_DEFAULT, "views").withColumnRenamed(
        "num_rows", "num_videos"
    )


def view_histogram_job(videos: DataFrame) -> DataFrame:
    """A4 (run_netagg_job.py:151-163): views histogram, label-ordered."""
    return agg.histogram(videos, "views", VIEW_BUCKETS, VIEW_DEFAULT).withColumnRenamed("num_rows", "num_videos")


def global_view_stats_job(videos: DataFrame) -> DataFrame:
    """A3 (YoutubeNetworkAgg_Final.py:211-223)."""
    return agg.global_stats(videos, "views")


def degree_stats_job(videos: DataFrame, top_n: int = 20) -> DataFrame:
    """A5/J1/J2/G2/G3 (run_netagg_job.py:17-72): vertices with both degrees,
    zero-degree preserved, dangling dst ids included on the in-side."""
    edges = graph.edges_from_arrays(videos, "video_id", "related")
    vertices = (
        videos.select(F.col("video_id").alias("id")).union(edges.select(F.col("dst").alias("id"))).distinct()
    )
    out_deg = graph.out_degrees(edges).withColumnRenamed("src", "id")
    in_deg = graph.in_degrees(edges).withColumnRenamed("dst", "id")
    both = joins.left_join_fill_zero(vertices, out_deg, "id", ["out_degree"])
    return joins.left_join_fill_zero(both, in_deg, "id", ["in_degree"])


def degree_distributions_job(videos: DataFrame, limit: int = 20) -> dict[str, DataFrame]:
    """The four lists of degreestat_cache.json (run_netagg_job.py:32-43)."""
    edges = graph.edges_from_arrays(videos, "video_id", "related")
    return {
        "out_distribution": graph.degree_distribution(edges, "out").limit(limit),
        "in_distribution": graph.degree_distribution(edges, "in").limit(limit),
        "top_by_out": graph.out_degrees(edges).orderBy(F.desc("out_degree"), "src").limit(limit),
        "top_by_in": graph.in_degrees(edges).orderBy(F.desc("in_degree"), "dst").limit(limit),
    }


def pagerank_job(videos: DataFrame, top_n: int = 500, min_related: int = 5) -> DataFrame:
    """run_pagerank_job.py end-to-end: densify -> edges -> PageRank(0.15, 10)
    -> top-N -> uploader enrichment via broadcast join (replaces the
    reference's per-row find_one loop, run_pagerank_job.py:124-140)."""
    videos = data_sized(videos)
    dense = graph.densify(videos, "related", min_related)
    edges = graph.edges_from_arrays(dense, "video_id", "related")
    top = graph.top_influencers(graph.pagerank(edges, reset_prob=0.15, max_iter=10), top_n)
    dim = videos.select(F.col("video_id").alias("id"), "uploader")
    return (
        joins.enrich_broadcast(top, dim, "id")
        .withColumn("rank", F.row_number().over(Window.orderBy(F.desc("pagerank"), F.asc("id"))))
        .select("rank", F.col("id").alias("video_id"), F.col("pagerank").alias("influence_score"), "uploader")
    )


def als_recs_job(videos: DataFrame, n_users: int = 500, n_recs: int = 5) -> DataFrame:
    """run_alsrecs_job.py end-to-end: the uploader 'rates' their own videos
    with the video's average rate (SURVEY.md par.1.4 semantic quirk,
    preserved); 10% Bernoulli sample seed 42; 500 users x 5 recs.  A
    sample with no ratings gives an empty result of the same schema."""
    base = videos.select(
        F.col("uploader").alias("user"), F.col("video_id").alias("item"), F.col("rate").alias("rating")
    )
    ratings = recommend.build_ratings(base, "user", "item", "rating", sample_fraction=0.10)
    if ratings.isEmpty():  # ALS cannot fit zero ratings: no user gets a recommendation
        return ratings.select("user_idx", "user_label", F.array("item_label").alias("recommendations"))
    model = recommend.train_als(ratings, max_iter=10, reg_param=0.1, rank=10, seed=42)
    return recommend.recommend_for_users(model, ratings, n_users=n_users, n_recs=n_recs)


def run_netagg(videos: DataFrame, out_dir: str) -> None:
    """The four cache artifacts of run_netagg_job.py (S9 layer), all
    written from one data-sized layout of ``videos``.  Not cached: each
    artifact re-reads the (sub-MB) source, which costs less than AQE's
    table-cache stage job."""
    videos = data_sized(videos)
    write_json_artifact(category_stats_job(videos), os.path.join(out_dir, "categorystats"))
    write_json_artifact(size_stats_job(videos), os.path.join(out_dir, "sizestats"))
    write_json_artifact(view_histogram_job(videos), os.path.join(out_dir, "viewstats"))
    write_json_artifact(degree_stats_job(videos), os.path.join(out_dir, "degreestat"))


def curation_job(spark, sf_dir: str, out_dir: str, seq_len: int = 512, budget_per_source: int = 800) -> dict:
    """End-to-end training-data curation pipeline (the extension-side
    analog of the reference's Phase-1 jobs): documents in, packed training
    chunks out, every stage one of the engine's oracle-checked operators.

        quality/lang gate -> near-dup representative selection (c1 rule)
        -> eval-set decontamination (c3 rule) -> per-source token budget
        (c2 rule) -> 64/48 chunking (c4) -> sequence packing (c5)

    Writes two parquet artifacts under ``out_dir`` (selected/: the kept
    document ids with their packing assignment; chunks/: the chunk table)
    and returns a small summary dict.  Deterministic end to end -- every
    selection step is hash- or rule-based, so reruns produce identical
    artifacts (golden-tested).
    """
    from youtubeanalyzerproject_big_data__spark.functions.sampling import pack_sequences, token_budget_sample
    from youtubeanalyzerproject_big_data__spark.functions.textfns import token_count
    from youtubeanalyzerproject_big_data__spark.io import load_table
    from youtubeanalyzerproject_big_data__spark.operators import dedup, textanalysis as text

    docs = load_table(spark, sf_dir, "documents")
    quality = text.quality_scores(docs, "doc_id", "text").select("doc_id", "n_tokens", "dup_token_ratio")
    lang = text.language_id(docs, "doc_id", "text").select("doc_id", "lang_pred")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.8)
    comp = graph.connected_components_star(pairs.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst")))
    reps = (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .where(F.coalesce("component", "doc_id") == F.col("doc_id"))
        .select("doc_id")
    )
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    contam = dedup.decontaminate(corpus, eval_docs, "doc_id", "text", n=5)
    clean_ids = (
        quality.join(lang, "doc_id")
        .join(reps, "doc_id", "left_semi")
        .join(contam.where(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi")
        .where((F.col("lang_pred") == "en") & (F.col("n_tokens") >= 10) & (F.col("dup_token_ratio") <= 0.6))
        .select("doc_id")
    )
    kept = docs.join(clean_ids, "doc_id", "left_semi").select(
        "doc_id", "source", "text", token_count(F.col("text")).alias("n_tokens")
    )
    mixed = token_budget_sample(kept, "doc_id", "source", "n_tokens", budget_per_stratum=budget_per_source, seed="mix")
    packed = pack_sequences(mixed, "doc_id", "n_tokens", seq_len=seq_len, bucket_span=100)
    chunks = text.chunk_documents(mixed, "doc_id", "text", chunk_tokens=64, stride=48)
    selected = mixed.select("doc_id", "source", "n_tokens").join(packed.drop("n_tokens"), "doc_id")
    selected.write.mode("overwrite").parquet(os.path.join(out_dir, "selected"))
    chunks.write.mode("overwrite").parquet(os.path.join(out_dir, "chunks"))
    n_sel = selected.count()
    return {
        "n_selected": n_sel,
        "n_chunks": chunks.count(),
        "n_tokens": (mixed.agg(F.sum("n_tokens")).collect()[0][0] or 0),
        "n_bins": (packed.agg(F.countDistinct("bin_id")).collect()[0][0] or 0) if n_sel else 0,
    }
