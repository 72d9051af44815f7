"""End-to-end reference jobs over the videos data model: golden-shape
invariants from FIXTURES.md (bucket totals, degree-0 preservation, dangling
in-degrees, HTML-entity category parity, enrichment joins)."""

from __future__ import annotations

from youtubeanalyzerproject_big_data__spark import jobs

NETAGG_ARTIFACTS = ("categorystats", "sizestats", "viewstats", "degreestat")


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
    dists = jobs.degree_distributions_job(videos)
    out_dist = {r["degree"]: r["num_vertices"] for r in dists["out_distribution"].collect()}
    # zero-out vertices (v04, v05, dangling1) don't appear: the distribution
    # is built on the edge table only (reference semantics)
    assert 0 not in out_dist
    assert out_dist[1] == 2  # v02, v03 (self-loop removed)


def test_pagerank_job_enriches_uploader(spark, videos):
    # lower the densification threshold so the tiny fixture has a graph
    out = jobs.pagerank_job(videos, top_n=10, min_related=1).collect()
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
    for name in NETAGG_ARTIFACTS:
        assert spark.read.json(f"{out}/{name}").count() > 0


def test_refresh_is_the_same_on_both_layouts(spark, videos, tmp_path):
    """run_netagg, pagerank_job and a serve miss write the same rows on the
    one-piece layout (the fixture fits one AQE minimum partition) and on
    the source layout (minPartitionSize below the table's estimate)."""
    import glob
    import os

    from youtubeanalyzerproject_big_data__spark.serve import QueryService
    from youtubeanalyzerproject_big_data__spark.session import data_sized

    path = str(tmp_path / "videos_pq")
    videos.repartition(3).write.parquet(path)
    source = spark.read.parquet(path)

    def refresh(out: str, pieces: int):
        assert data_sized(source).rdd.getNumPartitions() == pieces
        jobs.run_netagg(source, out)
        lines = {
            name: sorted(ln for f in glob.glob(os.path.join(out, name, "part-*")) for ln in open(f))
            for name in NETAGG_ARTIFACTS
        }
        ranks = jobs.pagerank_job(source, top_n=10, min_related=1).collect()
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


def test_curation_job_end_to_end_deterministic(spark, tmp_path):
    """The composed curation pipeline writes both artifacts, produces a
    sane summary, and is rerun-identical (every selection step is hash- or
    rule-based)."""
    from youtubeanalyzerproject_big_data__spark.jobs import curation_job

    sf = "/root/testdata/sf0.001"
    out1, out2 = str(tmp_path / "run1"), str(tmp_path / "run2")
    s1 = curation_job(spark, sf, out1)
    s2 = curation_job(spark, sf, out2)
    assert s1 == s2
    assert s1["n_selected"] > 0 and s1["n_chunks"] >= s1["n_selected"] and s1["n_bins"] > 0
    sel1 = sorted(map(tuple, spark.read.parquet(f"{out1}/selected").collect()))
    sel2 = sorted(map(tuple, spark.read.parquet(f"{out2}/selected").collect()))
    assert sel1 == sel2
    cols = set(spark.read.parquet(f"{out1}/selected").columns)
    assert {"doc_id", "source", "n_tokens", "start_offset", "bin_id", "pos_in_bin"} <= cols
    # decontamination: no eval-set ids survive
    assert all(r[0] % 97 != 0 for r in sel1)
