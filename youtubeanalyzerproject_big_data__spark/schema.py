"""Explicit schemas of the reference's own data model (SURVEY.md par.1):
the ``videos`` / ``users`` documents (YoutubeDataset_loader_final.py:16-53,
55-72).  These are what a user of the reference ingests;
`sources.xml_ingest` produces them.  The synthetic benchmark tables
(TESTDATA.md) are parquet and carry their own schemas.
"""

from __future__ import annotations

from pyspark.sql import types as T

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
