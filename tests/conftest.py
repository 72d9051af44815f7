from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

from youtubeanalyzerproject_big_data__spark.session import SCRATCH_ROOT


@pytest.fixture(scope="session")
def spark() -> SparkSession:
    spark_local = os.path.join(SCRATCH_ROOT, "spark-local")
    os.makedirs(spark_local, exist_ok=True)
    s = (
        SparkSession.builder.appName("engine-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", spark_local)
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def videos(spark):
    """Reference-shaped videos fixture (FIXTURES.md): sentinels, HTML-entity
    category dupes, empty/null/self/dangling related arrays."""
    rows = [
        # (video_id, uploader, category, length, views, rate, related)
        ("v01", "alice", "Music", 100, 500, 4.5, ["v02", "v03", "dangling1"]),
        ("v02", "bob", "Music", 300, 1500, 3.0, ["v01"]),
        ("v03", "alice", "Comedy", 1500, 150000, 5.0, ["v03", "v01"]),  # self-loop
        ("v04", "carol", "People & Blogs", 200, 2500000, 2.0, []),  # empty related
        ("v05", "dave", "People &amp; Blogs", -1, -1, 0.0, None),  # sentinels + null related
        ("v06", "alice", "Music", 240, 25000, 4.0, ["v01", "v02"]),
    ]
    return spark.createDataFrame(
        rows, "video_id string, uploader string, category string, length int, views long, rate double, related array<string>"
    )


@pytest.fixture(scope="session")
def crawl_videos(spark, videos):
    """A 300-video table with 5 related ids each: enough for PageRank's
    default >=5-related densification and a non-empty 10% ALS sample."""
    n = 300
    rows = [
        (f"v{i:04d}", f"u{i % 30:02d}", "Music", 100 + i, 10 * i, float(i % 5),
         [f"v{(i * 7 + k * 13 + 1) % n:04d}" for k in range(5)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, videos.schema)
