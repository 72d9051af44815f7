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

Registry: ``ARTIFACTS`` declares each of the reference's seven JSON caches
once, as its job and the schema a cache hit is read with.
``serve.QueryService`` serves and refreshes from it, and ``run_netagg``
takes its four jobs from it.

Layout: ``run_netagg`` and ``pagerank_job`` lay ``videos`` out once through
``session.data_sized``.  A crawl-sized table (one AQE minimum partition)
becomes one coalesced piece, so every aggregate, sort, window and join of
the refresh runs without a shuffle; a larger table keeps its source
partitions and plans exactly as the bare jobs do.  ``run_netagg`` then
builds and writes its four artifacts at once from driver threads: on one
piece each write is a one-task job bound by driver-side planning and the
commit, so overlapping them saves most of that time.  Every thread body
is wrapped by ``inheritable_thread_target``, so its jobs keep the
caller's job group.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
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


def category_stats_job(videos: DataFrame) -> DataFrame:
    """A1 (run_netagg_job.py:75-97): per-category count/avg/max views +
    avg length + avg rating, biggest categories first, top-50."""
    return (
        agg.category_stats(videos, "category", "views", extra_avgs={"length": "avg_length", "rate": "avg_rating"})
        .withColumnRenamed("num_rows", "num_videos")
        .drop("min_views")
        .limit(50)
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


def degree_stats_job(videos: DataFrame) -> DataFrame:
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


# run_pagerank_job.py's densification threshold (videos with at least this
# many related ids) and the number of influencers it keeps.
PAGERANK_MIN_RELATED = 5
PAGERANK_TOP_N = 500


def pagerank_job(videos: DataFrame) -> DataFrame:
    """run_pagerank_job.py end-to-end: densify -> edges -> PageRank(0.15, 10)
    -> top-N -> uploader enrichment via broadcast joins (replaces the
    reference's per-row find_one loop, run_pagerank_job.py:124-140).

    Only top-N-sized tables are broadcast: the videos table streams once
    against the broadcast top-N ids, and the top-N left-joins the broadcast
    uploaders of its own ids, so an id missing from ``videos`` keeps a null
    uploader and a duplicated one keeps each of its rows."""
    videos = data_sized(videos)
    dense = graph.densify(videos, "related", PAGERANK_MIN_RELATED)
    edges = graph.edges_from_arrays(dense, "video_id", "related")
    top = graph.top_influencers(graph.pagerank(edges, reset_prob=0.15, max_iter=10), PAGERANK_TOP_N)
    dim = videos.select(F.col("video_id").alias("id"), "uploader")
    return (
        joins.enrich_broadcast(top, joins.semi_join(dim, F.broadcast(top.select("id")), "id"), "id")
        .withColumn("rank", F.row_number().over(Window.orderBy(F.desc("pagerank"), F.asc("id"))))
        .select("rank", F.col("id").alias("video_id"), F.col("pagerank").alias("influence_score"), "uploader")
    )


def als_recs_job(videos: DataFrame) -> DataFrame:
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
    return recommend.recommend_for_users(model, ratings, n_users=500, n_recs=5)


# The reference's seven JSON caches (run_netagg_job.py:198-221,
# run_pagerank_job.py:143-146, run_alsrecs_job.py; served by
# guiV5.py:66-78,108-119): artifact name -> (its job over the videos model,
# the schema a cache hit is read with).  The read schema is declared, not
# derived from the job: building the PageRank and ALS DataFrames already
# runs Spark work, and analysing any other job costs a plan on every fresh
# read.  DDL without NOT NULL: a JSON read makes every field nullable anyway.
ARTIFACTS: dict[str, tuple[Callable[[DataFrame], DataFrame], str]] = {
    "categorystats": (
        category_stats_job,
        "category STRING, num_videos BIGINT, avg_views DOUBLE, max_views DOUBLE, avg_length DOUBLE, avg_rating DOUBLE",
    ),
    "sizestats": (size_stats_job, "bucket STRING, num_videos BIGINT, avg_views DOUBLE, max_views DOUBLE"),
    "viewstats": (view_histogram_job, "bucket STRING, num_videos BIGINT"),
    "globalstats": (
        global_view_stats_job,
        "cnt BIGINT, avg_val DOUBLE, stddev_val DOUBLE, p50_val DOUBLE, p90_val DOUBLE, max_val DOUBLE, sum_val DOUBLE",
    ),
    "degreestat": (degree_stats_job, "id STRING, out_degree BIGINT, in_degree BIGINT"),
    "pagerank": (pagerank_job, "rank INT, video_id STRING, influence_score DOUBLE, uploader STRING"),
    "alsrecs": (als_recs_job, "user_idx INT, user_label STRING, recommendations ARRAY<STRING>"),
}

# The artifacts run_netagg writes, the caches of run_netagg_job.py.
NETAGG_ARTIFACTS = ("categorystats", "sizestats", "viewstats", "degreestat")


def run_netagg(videos: DataFrame, out_dir: str) -> None:
    """The four cache artifacts of run_netagg_job.py (S9 layer), all
    written from one data-sized layout of ``videos``, as four concurrent
    Spark jobs.

    The reference writes its caches one after another
    (run_netagg_job.py:198-221).  On a crawl-sized table each write is a
    one-task job that spends most of its time in driver-side planning and
    the commit, so one driver thread per artifact builds and writes it,
    and the four plans are analysed and run side by side.  Each thread
    body is wrapped by ``inheritable_thread_target`` (once per thread: the
    wrapper installs its own copy of the caller's local properties), so
    every job carries the caller's job group.  The call returns or raises
    only after every write has finished; a failed write raises its error
    then.  Not cached: each artifact re-reads the (sub-MB) source, which
    costs less than AQE's table-cache stage job."""
    videos = data_sized(videos)

    def write(name: str) -> None:
        job = ARTIFACTS[name][0]
        write_json_artifact(job(videos), os.path.join(out_dir, name))

    spark = videos.sparkSession
    with ThreadPoolExecutor(len(NETAGG_ARTIFACTS)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(write), name) for name in NETAGG_ARTIFACTS]
    for future in futures:
        future.result()
