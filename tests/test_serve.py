"""Serving facade: cache-or-compute dispatch + live query surface."""

from __future__ import annotations

import os
import re
import uuid

import pytest

from youtubeanalyzerproject_big_data__spark.plans.inspect import executed_plan
from youtubeanalyzerproject_big_data__spark.serve import CACHED_JOBS, QueryService

VIDEOS_SCHEMA = (
    "video_id string, uploader string, category string, length int, views long, rate double, related array<string>"
)


@pytest.fixture()
def open_service(spark, tmp_path):
    """Factory for services over a table; every service it opens is closed
    at teardown, so no held table outlives its test."""
    opened = []

    def make(videos):
        svc = QueryService(spark, videos, str(tmp_path / f"cache{len(opened)}"))
        opened.append(svc)
        return svc

    yield make
    for svc in opened:
        svc.close()


@pytest.fixture()
def service(open_service, videos):
    return open_service(videos)


def _parquet(spark, df, path, files=1):
    df.repartition(files).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _by_name(df) -> list[str]:
    """Rows as sorted reprs of their (column, value) pairs: column order
    and row order do not matter."""
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


def _run(spark, make):
    """(result rows, Spark jobs run) of collecting ``make()``, counted by
    a job group of its own."""
    sc = spark.sparkContext
    group = f"serve-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        df = make()
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_serve_materializes_then_reads_cache(service, videos, spark, tmp_path):
    out = {r["category"]: r["num_videos"] for r in service.serve("categorystats").collect()}
    assert out["Music"] == 3

    # second serve must come from the ARTIFACT, not recomputation: swap the
    # underlying table and confirm the answer is unchanged (cache semantics
    # of guiV5.py Phase-2 -- stale until refresh).
    service.videos = videos.where("category != 'Music'")
    again = {r["category"]: r["num_videos"] for r in service.serve("categorystats").collect()}
    assert again == out

    # refresh re-runs Phase 1 against the current table
    service.refresh("categorystats")
    fresh = {r["category"]: r["num_videos"] for r in service.serve("categorystats").collect()}
    assert "Music" not in fresh


def test_serve_recomputes_partial_artifact(service, tmp_path):
    """A crashed Phase-1 write (directory present, no _SUCCESS) must NOT be
    treated as a cache hit -- serve must recompute, not return truncated
    results forever (ADVICE r2)."""
    import shutil

    service.serve("categorystats")  # populate
    path = service._path("categorystats")
    os.remove(os.path.join(path, "_SUCCESS"))  # simulate partial write
    # drop the data files too: if serve wrongly trusted the directory it
    # would now return an empty/truncated frame instead of recomputing
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    out = {r["category"]: r["num_videos"] for r in service.serve("categorystats").collect()}
    assert out["Music"] == 3
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    shutil.rmtree(path)


def test_serve_point_lookup_prunes_held_batches(spark, videos, open_service, tmp_path):
    """The live point lookup (reference find_one analog) scans the held
    in-memory table with the id equality attached for cached-batch pruning
    (per line: the InMemoryTableScan carries ``video_id = v03``), and its
    plan has no exchange."""
    svc = open_service(_parquet(spark, videos, str(tmp_path / "videos_pq")))
    df = svc.lookup("v03")
    assert df.collect()[0]["category"] == "Comedy"
    lines = executed_plan(df).splitlines()
    assert any("InMemoryTableScan" in ln and re.search(r"\(video_id#\d+ = v03\)", ln) for ln in lines)
    assert not any("Exchange" in ln for ln in lines)


def test_live_ops_run_one_job_without_exchange(spark, videos, open_service, tmp_path):
    """After the first live op builds the held table (one partition: the
    table fits one AQE minimum partition), each live op is one Spark job
    and its executed plan has no exchange -- the count's global aggregate
    included."""
    svc = open_service(_parquet(spark, videos, str(tmp_path / "videos_pq"), files=3))
    ops = {
        "lookup": lambda: svc.lookup("v03"),
        "range": lambda: svc.search_range("views", 1000, 30000),
        "count": lambda: svc.search_count([("category", "eq", "Music"), ("views", "ge", 1000)]),
        "top_k": lambda: svc.top_k("views", 2),
    }
    ops["lookup"]().collect()
    assert svc._live().rdd.getNumPartitions() == 1
    for name, make in ops.items():
        df, rows, jobs = _run(spark, make)
        assert rows, name
        assert jobs == 1, (name, jobs)
        assert not any("Exchange" in ln for ln in executed_plan(df).splitlines()), name


def test_serve_hit_reuses_planned_read(spark, videos, open_service, tmp_path):
    """A repeat hit returns the same planned DataFrame and runs one job; a
    rewritten artifact, refresh() and a swapped videos table each replace
    it."""
    svc = open_service(_parquet(spark, videos, str(tmp_path / "videos_pq")))
    first = svc.serve("categorystats")
    df, rows, jobs = _run(spark, lambda: svc.serve("categorystats"))
    assert df is first and jobs == 1
    assert {r["category"]: r["num_videos"] for r in rows}["Music"] == 3

    # another writer re-runs Phase 1 into the same cache dir: a new _SUCCESS
    other = QueryService(spark, videos.where("category != 'Music'"), svc.cache_dir)
    other.refresh("categorystats")
    reread = svc.serve("categorystats")
    assert reread is not first
    assert "Music" not in {r["category"] for r in reread.collect()}
    assert svc.serve("categorystats") is reread

    svc.refresh("categorystats")
    refreshed = svc.serve("categorystats")
    assert refreshed is not reread
    assert {r["category"]: r["num_videos"] for r in refreshed.collect()}["Music"] == 3

    svc.videos = svc.videos.where("views > 0")
    assert svc.serve("categorystats") is not refreshed


def test_held_table_keeps_source_partitions_above_min_size(spark, videos, open_service, tmp_path):
    """With minPartitionSize below the table's size estimate the held table
    keeps the source partitions, and every live op answers as on the
    one-partition layout."""
    source = _parquet(spark, videos, str(tmp_path / "videos_pq"), files=3)
    assert source.rdd.getNumPartitions() == 3
    one = open_service(source)
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    saved = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        many = open_service(source)
        assert many._live().rdd.getNumPartitions() == 3
    finally:
        spark.conf.set(key, saved)
    assert one._live().rdd.getNumPartitions() == 1
    for call in (
        lambda s: s.lookup("v03"),
        lambda s: s.search_range("views", 1000, 30000),
        lambda s: s.search_count([("category", "eq", "Music"), ("views", "ge", 1000)]),
        lambda s: s.top_k("views", 4),
    ):
        assert call(many).collect() == call(one).collect()


DEGENERATE_ROWS = {
    "empty": [],
    "single_row": [("v01", "alice", "Music", 100, 500, 4.5, ["v02"])],
}


@pytest.fixture(params=sorted(DEGENERATE_ROWS))
def degenerate(request, spark, tmp_path):
    rows = DEGENERATE_ROWS[request.param]
    return _parquet(spark, spark.createDataFrame(rows, VIDEOS_SCHEMA), str(tmp_path / "videos_pq")), len(rows)


def test_serve_keeps_job_schema_on_degenerate_tables(degenerate, open_service):
    """Every artifact is served with its job's full schema even when a
    column is null in every row (the JSON writer drops null fields) or the
    artifact has no rows."""
    videos, n = degenerate
    svc = open_service(videos)
    for name, job in CACHED_JOBS.items():
        served, expected = svc.serve(name), job(videos)
        assert sorted(served.columns) == sorted(expected.columns), name
        assert _by_name(served) == _by_name(expected), name
    stats = svc.serve("globalstats").collect()
    assert [r["cnt"] for r in stats] == [n]
    assert stats[0]["stddev_val"] is None


def test_live_ops_on_degenerate_tables(degenerate, open_service):
    """Empty and single-row tables: every live op returns a full-schema
    result without raising."""
    videos, n = degenerate
    svc = open_service(videos)
    missing = svc.lookup("no-such-id")
    assert missing.columns == videos.columns and missing.collect() == []
    empty_range = svc.search_range("views", -100, -50)
    assert empty_range.columns == videos.columns and empty_range.collect() == []
    assert [r["num_matches"] for r in svc.search_count([("category", "eq", "Music"), ("views", "ge", 10**9)]).collect()] == [0]
    top = svc.top_k("views", n + 5)
    assert top.columns == videos.columns and len(top.collect()) == n


def test_close_releases_held_table(spark, videos, tmp_path):
    """close() (and leaving a with-block) unpersists the held table;
    assigning videos drops it too."""
    with QueryService(spark, videos, str(tmp_path / "cache")) as svc:
        held = svc._live()
        assert held.storageLevel.useMemory
        svc.videos = videos.where("views > 0")
        assert not held.storageLevel.useMemory
        held = svc._live()
        assert held.storageLevel.useMemory
    assert not held.storageLevel.useMemory


@pytest.mark.parametrize("name", ["pagerank", "alsrecs"])
def test_serve_answers_rank_and_recs_caches(spark, tmp_path, name):
    """The reference's pagerank_cache.json and als_recs_cache.json
    (guiV5.py:108-119) are served like the netagg caches: a miss writes the
    job's rows, and a hit from a fresh service reads them back with the
    job's columns and types."""
    n = 300
    rows = [
        (f"v{i:04d}", f"u{i % 30:02d}", "Music", 100 + i, 10 * i, float(i % 5),
         [f"v{(i * 7 + k * 13 + 1) % n:04d}" for k in range(5)])
        for i in range(n)
    ]
    videos = _parquet(spark, spark.createDataFrame(rows, VIDEOS_SCHEMA), str(tmp_path / "videos_pq"))
    expected = CACHED_JOBS[name](videos)
    cache = str(tmp_path / "cache")
    with QueryService(spark, videos, cache) as svc:
        miss = svc.serve(name)
        miss_rows = _by_name(miss)
    with QueryService(spark, videos, cache) as svc:
        hit = svc.serve(name)
        assert _by_name(hit) == miss_rows
    assert [(f.name, f.dataType) for f in hit.schema] == [(f.name, f.dataType) for f in expected.schema]
    assert miss_rows and miss_rows == _by_name(expected)


def test_serve_unknown_name_lists_available(service):
    with pytest.raises(KeyError, match="categorystats"):
        service.serve("nope")


def test_live_queries_dispatch(service):
    assert service.lookup("v03").collect()[0]["category"] == "Comedy"
    assert {r["video_id"] for r in service.search_range("views", 1000, 30000).collect()} == {"v02", "v06"}
    assert service.search_count([("category", "eq", "Music"), ("views", "ge", 1000)]).collect()[0]["num_matches"] == 2
    top = service.top_k("views", 2).collect()
    assert [r["video_id"] for r in top] == ["v04", "v03"]
