"""Phase-2 serving facade: the engine-side analog of the reference GUI's
query dispatch and cache serving.

The reference's primary user surface is a menu-dispatched GUI
(Milestone4SourceCode.zip!.../guiV5.py:405-416) that answers statistics
queries from Phase-1 JSON caches (guiV5.py:66-103) and runs point/range
searches live.  This module reproduces that contract engine-side, minus the
presentation:

  * CACHED queries -- each name maps to a Phase-1 precompute job
    (jobs.py); ``serve`` reads the materialized JSON artifact if present
    and otherwise computes + materializes it first (write-through), exactly
    the cache-or-compute flow of guiV5.py:66-78.
  * LIVE queries -- parameterized operator dispatch (point lookup, range
    scan, dynamic search count, top-k), the guiV5.py:80-103 search paths,
    served straight from the operator library.

Scale: serving reads pre-aggregated artifacts (KB-scale JSON) -- the 100 TB
work happened in Phase 1 -- so a serving tier needs no cluster resources
beyond a SparkSession.  A service holds its inputs for its lifetime, the
way the reference GUI keeps its DataFrame and caches in the session
(guiV5.py:236-263,342-394), so each op is one execution of a small plan:

  * live queries run over one in-memory copy of the videos table, built on
    the first live call and laid out by ``session.data_sized`` (one
    partition when the table fits one AQE minimum partition, so even the
    count's global aggregate needs no exchange; else the source partitions).
    ``close()`` releases it, and so does assigning ``videos``;
  * a cache miss runs its job over the same data-sized layout of the
    source, not over the held table, so a service that only serves
    artifacts never builds it;
  * artifact reads carry the Phase-1 job's schema, taken from the job over
    no rows (analysis only for the netagg jobs; PageRank and ALS run on an
    empty input, never on the table), and are kept per artifact until its
    ``_SUCCESS`` marker changes, so a repeat hit re-executes an
    already-planned DataFrame.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark import jobs
from youtubeanalyzerproject_big_data__spark.io import read_json_artifact, write_json_artifact
from youtubeanalyzerproject_big_data__spark.operators import filters, topk
from youtubeanalyzerproject_big_data__spark.session import data_sized

# Phase-1 job registry: artifact name -> job over the videos model.
# Names follow the reference's cache collections (run_netagg_job.py,
# run_pagerank_job.py, run_alsrecs_job.py).
CACHED_JOBS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "categorystats": jobs.category_stats_job,
    "sizestats": jobs.size_stats_job,
    "viewstats": jobs.view_histogram_job,
    "globalstats": jobs.global_view_stats_job,
    "degreestat": jobs.degree_stats_job,
    "pagerank": jobs.pagerank_job,
    "alsrecs": jobs.als_recs_job,
}


class QueryService:
    """Cache-or-compute query dispatch over a videos table.

    ``serve(name)`` answers a registered statistics query from its JSON
    artifact, materializing on first use; ``refresh(name)`` forces
    recomputation (the Phase-1 re-run); ``lookup``/``search_range``/
    ``search_count``/``top_k`` are the live query surface.  ``close()``
    (or leaving a ``with`` block) releases the held videos table.
    """

    def __init__(self, spark: SparkSession, videos: DataFrame, cache_dir: str):
        self.spark = spark
        self.cache_dir = cache_dir
        self._table: DataFrame | None = None
        self.videos = videos

    @property
    def videos(self) -> DataFrame:
        return self._videos

    @videos.setter
    def videos(self, videos: DataFrame) -> None:
        """Swap the source table: drops the held copy and the planned
        artifact reads (their schemas come from jobs over this table)."""
        self.close()
        self._videos = videos
        self._reads: dict[str, tuple[int, DataFrame]] = {}

    def close(self) -> None:
        """Release the held videos table (idempotent)."""
        if self._table is not None:
            self._table.unpersist()
            self._table = None

    def __enter__(self) -> QueryService:
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _path(self, name: str) -> str:
        return os.path.join(self.cache_dir, name)

    def serve(self, name: str) -> DataFrame:
        """Cache-or-compute (guiV5.py:66-78): artifact hit -> read it;
        miss -> run the Phase-1 job, materialize, then read back (so the
        caller always sees exactly what the cache holds).  Repeat hits on
        an unchanged artifact return the same planned DataFrame."""
        if name not in CACHED_JOBS:
            raise KeyError(f"unknown cached query {name!r}; available: {sorted(CACHED_JOBS)}")
        path = self._path(name)
        # A bare os.path.exists(path) would treat a crashed, partially
        # written Phase-1 directory as a permanent cache hit; only a commit
        # marker (_SUCCESS, written last by the Hadoop committer) proves the
        # artifact is complete.  Anything less -> recompute.
        marker = os.path.join(path, "_SUCCESS")
        if not os.path.exists(marker):
            self.refresh(name)
        stamp = os.stat(marker).st_mtime_ns
        memo = self._reads.get(name)
        if memo is None or memo[0] != stamp:
            memo = (stamp, read_json_artifact(self.spark, path, CACHED_JOBS[name](self.videos.limit(0)).schema))
            self._reads[name] = memo
        return memo[1]

    def refresh(self, name: str) -> None:
        """Force Phase-1 recomputation of one artifact, over a data-sized
        layout of the source (not the held table: a service that only
        serves artifacts never builds it)."""
        self._reads.pop(name, None)
        write_json_artifact(CACHED_JOBS[name](data_sized(self.videos)), self._path(name))

    # -- live query surface (guiV5.py:80-103 search paths) ----------------

    def _live(self) -> DataFrame:
        """The held in-memory videos table, built on first use."""
        if self._table is None:
            self._table = data_sized(self.videos).cache()
        return self._table

    def lookup(self, video_id: str) -> DataFrame:
        """Point lookup (S6): an equality scan of the held in-memory table
        (built on the first live call, kept until ``close()``), whose
        cached batches are pruned by their video_id min/max stats."""
        return self._live().where(F.col("video_id") == video_id)

    def search_range(self, column: str, lo, hi) -> DataFrame:
        """Server-side range scan (S7/F4/F5)."""
        return filters.range_query(self._live(), column, lo, hi)

    def search_count(self, conditions: list[tuple]) -> DataFrame:
        """Dynamic predicate search count (F6)."""
        return filters.dynamic_search_count(self._live(), conditions)

    def top_k(self, measure: str, k: int) -> DataFrame:
        """Top-k by measure (A6/O4), deterministic tiebreak."""
        return topk.top_k(self._live(), measure, k, tiebreak="video_id")
