"""XML ingest: S1-S4 of the reference's data path, Spark-first.

Reference behavior being reproduced (YoutubeDataset_loader_final.py):
  S1  streaming XML scan -- ``iterparse`` with ``elem.clear()`` so memory
      stays bounded no matter the file size (:75-125);
  S2  typed attribute coercion -- int fields get a ``-1`` sentinel when the
      attribute is missing or malformed (:29-34); ``rate`` is a float
      (:36-37 -- the reference RAISES on a malformed rate; this engine
      yields null instead, which the reference's own pipeline would
      ``na.drop`` before ALS anyway, run_alsrecs_job.py:52);
  S3  nested ``<related><id ref=...>`` children collected into an
      array<string> column (:39-51);
  S4  duplicate-tolerant batched sink -- ``insert_many(ordered=False)``
      swallowing duplicate-key errors (:87-123) becomes dropDuplicates on
      the natural key before an append-mode parquet write; one row per key
      is kept, which one unspecified.

Division of labor, deliberately:
  * Python (executor-side) does ONLY raw string extraction -- one dict of
    attribute strings per element.  Each input FILE is one task: crawl
    dumps ship as many files, which is the natural unit of parallelism; a
    single monolithic XML is inherently serial to parse (the reference
    pays that too) and should be split upstream.
  * All TYPE coercion happens JVM-side as ``coalesce(try_cast(c), -1)``
    Catalyst expressions (the SURVEY.md par.2.1/S2 mapping) -- codegen'd,
    vectorized, and visible to the optimizer, instead of per-row Python.

Element shape (2007-08 YouTube crawl dump):
    <video id="x3" uploader="bob" category="Music" age="408" length="212"
           views="5147" rate="4.5" ratings="16" comments="8"
           size_bytes="1048576" bitrate_kbps="320">
      <related><id ref="x9"/><id ref="y2"/></related>
    </video>
    <user id="bob" uploads="3" watches="120" friends="9"/>
"""

from __future__ import annotations

from collections.abc import Iterator
from xml.etree.ElementTree import iterparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from youtubeanalyzerproject_big_data__spark.schema import VIDEOS_SCHEMA

VIDEO_INT_FIELDS = ["age", "length", "views", "ratings", "comments", "size_bytes", "bitrate_kbps"]
USER_INT_FIELDS = ["uploads", "watches", "friends"]

# Raw (pre-coercion) schemas: everything a string, exactly what the XML holds.
_RAW_VIDEO_SCHEMA = T.StructType(
    [T.StructField("video_id", T.StringType())]
    + [T.StructField(c, T.StringType()) for c in ["uploader", "category", *VIDEO_INT_FIELDS, "rate"]]
    + [T.StructField("related", T.ArrayType(T.StringType()))]
)
_RAW_USER_SCHEMA = T.StructType(
    [T.StructField("user_id", T.StringType())] + [T.StructField(c, T.StringType()) for c in USER_INT_FIELDS]
)


def iter_xml_elements(path: str, tag: str) -> Iterator[dict]:
    """S1: stream one XML file, yielding a raw-string dict per ``tag``
    element.  ``elem.clear()`` after each yield keeps the parse at O(one
    element) memory however large the file is."""
    for _, elem in iterparse(path, events=("end",)):
        if elem.tag != tag:
            continue
        rec = dict(elem.attrib)
        if tag == "video":
            related = []
            rel = elem.find("related")
            if rel is not None:
                for id_elem in rel.findall("id"):
                    ref = id_elem.get("ref")
                    if ref is not None:
                        related.append(ref)
            rec["related"] = related
        elem.clear()
        yield rec


def _raw_rows(spark: SparkSession, paths: list[str], tag: str, schema: T.StructType) -> DataFrame:
    """Parallelize parsing over files: one task per file."""
    field_names = schema.fieldNames()

    def parse(path: str):
        for rec in iter_xml_elements(path, tag):
            # XML attr "id" is the natural key ("video_id"/"user_id" here,
            # "_id" in the reference's Mongo documents).
            rec[field_names[0]] = rec.pop("id", None)
            yield tuple(rec.get(c) for c in field_names)

    rdd = spark.sparkContext.parallelize(paths, max(len(paths), 1)).flatMap(parse)
    return spark.createDataFrame(rdd, schema)


def _sentinel_int(col: str, dtype: str) -> F.Column:
    """S2: the reference's -1-on-parse-failure coercion as a Catalyst
    expression (missing attribute -> null -> -1 too, matching int(None))."""
    return F.coalesce(F.col(col).try_cast(dtype), F.lit(-1).cast(dtype)).alias(col)


def read_videos_xml(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S1+S2+S3: videos XML files -> typed DataFrame, with the columns and
    types of schema.VIDEOS_SCHEMA, in its order."""
    raw = _raw_rows(spark, paths, "video", _RAW_VIDEO_SCHEMA)

    def typed(field: T.StructField) -> F.Column:
        if field.name in VIDEO_INT_FIELDS:
            return _sentinel_int(field.name, field.dataType.simpleString())
        if field.name == "rate":
            return F.col("rate").try_cast(field.dataType).alias("rate")
        return F.col(field.name)

    return raw.select(*[typed(f) for f in VIDEOS_SCHEMA])


def read_users_xml(spark: SparkSession, paths: list[str]) -> DataFrame:
    """S1+S2 for the users collection (YoutubeDataset_loader_final.py:55-72)."""
    raw = _raw_rows(spark, paths, "user", _RAW_USER_SCHEMA)
    return raw.select("user_id", *[_sentinel_int(c, "int") for c in USER_INT_FIELDS])


def write_dedup_parquet(df: DataFrame, path: str, key_cols: list[str]) -> None:
    """S4: duplicate-tolerant sink.  The reference's unordered insert_many
    ignores duplicate-key errors, so one document per natural key survives;
    here that is dropDuplicates(key) before an append-mode write.  Which row
    of a key is kept is unspecified (it depends on partitioning and task
    order), not the first one read.  A crawl re-emits a video as an
    identical copy, so for crawl input the choice does not show."""
    df.dropDuplicates(key_cols).write.mode("append").parquet(path)
