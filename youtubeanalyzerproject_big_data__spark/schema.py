"""Explicit schemas.

Two families:

1. The reference's own data model (SURVEY.md par.1): ``videos`` / ``users``
   documents (YoutubeDataset_loader_final.py:16-53,55-72) plus the derived
   ``edges`` and ``ratings`` shapes.  These are what a user of the reference
   ingests; `sources.xml_ingest` produces them.
2. The driver's synthetic benchmark tables (TESTDATA.md) used for
   correctness/bench runs.  Parquet carries its own schema, so these are
   declared as expected-column maps for validation, not imposed on read.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference data model -------------------------------------------------

# videos collection, YoutubeDataset_loader_final.py:16-53.  Numeric fields use
# a -1 sentinel on parse failure (":29-34"); the engine preserves that at
# ingest (see sources/xml_ingest.py) because the reference's aggregates
# include sentinel rows (SURVEY.md par.1.1, FIXTURES.md invariant 5).
VIDEOS_SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType(), False),
        T.StructField("uploader", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
        T.StructField("age", T.IntegerType(), True),
        T.StructField("length", T.IntegerType(), True),
        T.StructField("views", T.LongType(), True),
        T.StructField("rate", T.DoubleType(), True),
        T.StructField("ratings", T.LongType(), True),
        T.StructField("comments", T.LongType(), True),
        T.StructField("size_bytes", T.LongType(), True),
        T.StructField("bitrate_kbps", T.IntegerType(), True),
        T.StructField("related", T.ArrayType(T.StringType()), True),
    ]
)

# users collection, YoutubeDataset_loader_final.py:55-72.
USERS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.StringType(), False),
        T.StructField("uploads", T.IntegerType(), True),
        T.StructField("watches", T.IntegerType(), True),
        T.StructField("friends", T.IntegerType(), True),
    ]
)

# derived graph edges, PageRank_Spark_v5.py:77-92.
EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
    ]
)

# ALS ratings matrix, run_alsrecs_job.py:62-74.
RATINGS_SCHEMA = T.StructType(
    [
        T.StructField("user_idx", T.IntegerType(), False),
        T.StructField("item_idx", T.IntegerType(), False),
        T.StructField("rating", T.DoubleType(), True),
    ]
)
