"""End-to-end reference jobs over the videos data model: golden-shape
invariants from FIXTURES.md (bucket totals, degree-0 preservation, dangling
in-degrees, HTML-entity category parity, enrichment joins)."""

from __future__ import annotations

import glob
import os
import uuid

import pytest
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark import jobs


def _artifact_lines(out: str) -> dict[str, list[str]]:
    """Each netagg artifact's lines, in file order."""
    return {
        name: [ln for f in sorted(glob.glob(os.path.join(out, name, "part-*"))) for ln in open(f)]
        for name in jobs.NETAGG_ARTIFACTS
    }


def _write_each_alone(videos, out: str) -> None:
    """The four netagg artifacts written one after another from one
    data-sized layout, each job alone."""
    from youtubeanalyzerproject_big_data__spark.io import write_json_artifact
    from youtubeanalyzerproject_big_data__spark.session import data_sized

    laid = data_sized(videos)
    for name in jobs.NETAGG_ARTIFACTS:
        job = jobs.ARTIFACTS[name][0]
        write_json_artifact(job(laid), os.path.join(out, name))


def _group_job_ids(spark, run) -> list[int]:
    """Ids of the Spark jobs ``run()`` starts, read from a job group of its
    own set on the calling thread."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_category_stats_preserves_entity_dupes(videos):
    rows = {r["category"]: r for r in jobs.category_stats_job(videos).collect()}
    # parity: '&amp;' and '&' spellings stay DISTINCT groups (SURVEY.md par.7.4)
    assert "People & Blogs" in rows and "People &amp; Blogs" in rows
    assert rows["Music"]["num_videos"] == 3
    assert set(rows["Music"].asDict()) == {"category", "num_videos", "avg_views", "max_views", "avg_length", "avg_rating"}


def test_bucket_jobs_sum_to_total(videos):
    total = videos.count()
    assert sum(r["num_videos"] for r in jobs.size_stats_job(videos).collect()) == total
    hist = jobs.view_histogram_job(videos).collect()
    assert sum(r["num_videos"] for r in hist) == total
    # lexicographic label order (A4 quirk) and -1 sentinels land in the lowest bucket
    labels = [r["bucket"] for r in hist]
    assert labels == sorted(labels)
    by_label = {r["bucket"]: r["num_videos"] for r in hist}
    assert by_label["a_lt1k"] == 2  # v01 (500 views) + v05 (-1 sentinel)


def test_degree_stats_preserve_zero_and_dangling(videos):
    deg = {r["id"]: (r["out_degree"], r["in_degree"]) for r in jobs.degree_stats_job(videos).collect()}
    assert deg["dangling1"] == (0, 1)  # dangling dst: in-degree counted, out 0
    assert deg["v04"] == (0, 0)  # empty related, never referenced
    assert deg["v05"] == (0, 0)  # null related preserved via left join + fillna
    assert deg["v01"][0] == 3 and deg["v01"][1] == 3


def test_pagerank_job_enriches_uploader(spark, videos, monkeypatch):
    # lower the densification threshold so the tiny fixture has a graph
    monkeypatch.setattr(jobs, "PAGERANK_MIN_RELATED", 1)
    monkeypatch.setattr(jobs, "PAGERANK_TOP_N", 10)
    out = jobs.pagerank_job(videos).collect()
    assert len(out) > 0
    ranks = [r["rank"] for r in out]
    assert ranks == list(range(1, len(out) + 1))
    by_id = {r["video_id"]: r for r in out}
    assert by_id["v01"]["uploader"] == "alice"  # broadcast enrichment (J6)
    assert all(r["influence_score"] > 0 for r in out)


def test_als_job_shape(spark, videos):
    # fixture is tiny; run without sampling surprises by using all rows
    base = videos.selectExpr("uploader as user", "video_id as item", "rate as rating")
    from youtubeanalyzerproject_big_data__spark.operators import recommend

    ratings = recommend.build_ratings(base, "user", "item", "rating")
    model = recommend.train_als(ratings, max_iter=5, rank=4, seed=42, num_blocks=2)
    recs = recommend.recommend_for_users(model, ratings, n_users=3, n_recs=2).collect()
    assert 0 < len(recs) <= 3
    for r in recs:
        assert 1 <= len(r["recommendations"]) <= 2


def test_run_netagg_writes_artifacts(spark, videos, tmp_path):
    out = str(tmp_path / "caches")
    jobs.run_netagg(videos, out)
    for name in jobs.NETAGG_ARTIFACTS:
        assert spark.read.json(f"{out}/{name}").count() > 0


@pytest.mark.parametrize("table", ["fixture", "empty"])
def test_run_netagg_writes_what_each_job_writes_alone(spark, videos, tmp_path, table):
    """The four concurrent writes produce the same lines, in the same
    order, as the four jobs written one after another."""
    source = videos if table == "fixture" else spark.createDataFrame([], videos.schema)
    jobs.run_netagg(source, str(tmp_path / "together"))
    _write_each_alone(source, str(tmp_path / "alone"))
    together = _artifact_lines(str(tmp_path / "together"))
    assert together == _artifact_lines(str(tmp_path / "alone"))
    assert all(together.values()) == (table == "fixture")


def test_run_netagg_jobs_keep_the_callers_job_group(spark, videos, tmp_path):
    """Every job run_netagg starts from its threads carries the caller's
    job group: as many jobs as the sequential writes run, and no job
    outside the group between the sequential writes and a later probe
    (job ids are handed out in submission order)."""
    alone = _group_job_ids(spark, lambda: _write_each_alone(videos, str(tmp_path / "alone")))
    together = _group_job_ids(spark, lambda: jobs.run_netagg(videos, str(tmp_path / "together")))
    probe = _group_job_ids(spark, lambda: spark.range(1).collect())
    assert len(alone) >= len(jobs.NETAGG_ARTIFACTS)
    assert len(together) == len(alone)
    assert together == list(range(alone[-1] + 1, probe[0]))


def test_run_netagg_raises_a_failed_write_after_the_others_finish(spark, videos, tmp_path, monkeypatch):
    """A write that fails raises from run_netagg, and only once the other
    three artifacts are committed and no Spark job is left running."""
    write = jobs.write_json_artifact

    def failing_viewstats(df, path):
        if path.endswith("viewstats"):
            df = df.where(F.raise_error(F.lit("viewstats write failed")).isNull())
        write(df, path)

    monkeypatch.setattr(jobs, "write_json_artifact", failing_viewstats)
    out = str(tmp_path / "caches")
    with pytest.raises(Exception, match="viewstats write failed"):
        jobs.run_netagg(videos, out)
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    committed = {name: os.path.exists(os.path.join(out, name, "_SUCCESS")) for name in jobs.NETAGG_ARTIFACTS}
    assert committed == {name: name != "viewstats" for name in jobs.NETAGG_ARTIFACTS}


def test_declared_schemas_are_the_jobs_output(spark, videos, crawl_videos):
    """Every ARTIFACTS read schema (what a cache hit is read with) carries
    the names and types its job returns, with rows and on an empty table;
    declared nullable throughout, as a JSON read gives."""
    empty = spark.createDataFrame([], videos.schema)
    for name, (job, ddl) in jobs.ARTIFACTS.items():
        declared = spark.createDataFrame([], ddl).schema
        assert all(f.nullable for f in declared.fields), name
        shape = [(f.name, f.dataType) for f in declared]
        full = job(crawl_videos)
        assert full.collect(), name
        assert [(f.name, f.dataType) for f in full.schema] == shape, name
        assert [(f.name, f.dataType) for f in job(empty).schema] == shape, name


def test_refresh_is_the_same_on_both_layouts(spark, videos, tmp_path, monkeypatch):
    """run_netagg, pagerank_job and a serve miss write the same rows on the
    one-piece layout (the fixture fits one AQE minimum partition) and on
    the source layout (minPartitionSize below the table's estimate)."""
    import glob
    import os

    from youtubeanalyzerproject_big_data__spark.serve import QueryService
    from youtubeanalyzerproject_big_data__spark.session import data_sized

    monkeypatch.setattr(jobs, "PAGERANK_MIN_RELATED", 1)
    monkeypatch.setattr(jobs, "PAGERANK_TOP_N", 10)
    path = str(tmp_path / "videos_pq")
    videos.repartition(3).write.parquet(path)
    source = spark.read.parquet(path)

    def refresh(out: str, pieces: int):
        assert data_sized(source).rdd.getNumPartitions() == pieces
        jobs.run_netagg(source, out)
        lines = {
            name: sorted(ln for f in glob.glob(os.path.join(out, name, "part-*")) for ln in open(f))
            for name in jobs.NETAGG_ARTIFACTS
        }
        ranks = jobs.pagerank_job(source).collect()
        with QueryService(spark, source, out) as svc:
            stats = svc.serve("globalstats").collect()
        return lines, ranks, stats

    one = refresh(str(tmp_path / "one"), 1)
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    saved = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        many = refresh(str(tmp_path / "many"), 3)
    finally:
        spark.conf.set(key, saved)
    assert one == many
    lines, ranks, stats = one
    assert all(lines.values()) and ranks and stats[0]["cnt"] == 6
