"""S1-S4 XML ingest: typed coercion with -1 sentinels, related-array
extraction, duplicate-tolerant sink (YoutubeDataset_loader_final.py)."""

from __future__ import annotations

import pytest

from youtubeanalyzerproject_big_data__spark.schema import USERS_SCHEMA, VIDEOS_SCHEMA
from youtubeanalyzerproject_big_data__spark.sources import xml_ingest

VIDEOS_XML = """<?xml version="1.0"?>
<dataset>
  <video id="v01" uploader="alice" category="Music" age="408" length="212"
         views="5147" rate="4.5" ratings="16" comments="8"
         size_bytes="1048576" bitrate_kbps="320">
    <related><id ref="v02"/><id ref="zz9"/></related>
  </video>
  <video id="v02" uploader="bob" category="Comedy" age="junk" length=""
         views="10" rate="oops" ratings="2" comments="0"
         size_bytes="2048" bitrate_kbps="128">
    <related/>
  </video>
  <video id="v03" uploader="carol" category="Music" views="77" rate="3.0"/>
</dataset>
"""

USERS_XML = """<?xml version="1.0"?>
<dataset>
  <user id="alice" uploads="3" watches="120" friends="9"/>
  <user id="bob" uploads="bad" friends="-1"/>
</dataset>
"""


@pytest.fixture(scope="module")
def xml_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("xml")
    v = d / "videos.xml"
    u = d / "users.xml"
    v.write_text(VIDEOS_XML)
    u.write_text(USERS_XML)
    return str(v), str(u)


def test_videos_schema_and_sentinels(spark, xml_files):
    vpath, _ = xml_files
    df = xml_ingest.read_videos_xml(spark, [vpath])
    assert [f.name for f in df.schema.fields] == [f.name for f in VIDEOS_SCHEMA.fields]
    assert [f.dataType for f in df.schema.fields] == [f.dataType for f in VIDEOS_SCHEMA.fields]
    rows = {r.video_id: r for r in df.collect()}
    assert len(rows) == 3
    # clean row: everything typed through
    assert rows["v01"].age == 408 and rows["v01"].views == 5147 and rows["v01"].rate == 4.5
    # S3: related extracted in document order, dangling ids kept
    assert rows["v01"].related == ["v02", "zz9"]
    # S2: malformed int -> -1 sentinel (YoutubeDataset_loader_final.py:29-34)
    assert rows["v02"].age == -1 and rows["v02"].length == -1
    # malformed rate -> null (documented divergence: reference raises)
    assert rows["v02"].rate is None
    # empty <related/> -> empty array, no <related> at all -> empty array
    assert rows["v02"].related == []
    assert rows["v03"].related == []
    # missing attributes -> -1 sentinel (int(None) also failed in reference)
    assert rows["v03"].age == -1 and rows["v03"].size_bytes == -1


def test_users_schema_and_sentinels(spark, xml_files):
    _, upath = xml_files
    df = xml_ingest.read_users_xml(spark, [upath])
    assert [f.name for f in df.schema.fields] == [f.name for f in USERS_SCHEMA.fields]
    rows = {r.user_id: r for r in df.collect()}
    assert rows["alice"].uploads == 3 and rows["alice"].friends == 9
    assert rows["bob"].uploads == -1  # malformed
    assert rows["bob"].watches == -1  # missing
    assert rows["bob"].friends == -1  # literal -1 passes through


def test_dedup_sink_is_duplicate_tolerant(spark, xml_files, tmp_path):
    vpath, _ = xml_files
    df = xml_ingest.read_videos_xml(spark, [vpath, vpath])  # same file twice
    assert df.count() == 6
    out = str(tmp_path / "videos_parquet")
    xml_ingest.write_dedup_parquet(df, out, ["video_id"])
    assert spark.read.parquet(out).count() == 3  # S4: dup keys collapsed


def test_dedup_sink_keeps_one_input_row_per_key(spark, tmp_path):
    """Duplicates that differ: the sink keeps exactly one row per key, and
    each stored row is one of that key's input rows (which one is not
    specified)."""
    rows = [("v01", 1, "a"), ("v01", 2, "b"), ("v02", 3, "c"), ("v01", 1, "c"), ("v02", 4, "c"), ("v03", 5, "d")]
    df = spark.createDataFrame(rows, "video_id string, views long, category string").repartition(3)
    out = str(tmp_path / "videos_parquet")
    xml_ingest.write_dedup_parquet(df, out, ["video_id"])
    stored = [tuple(r) for r in spark.read.parquet(out).collect()]
    assert sorted(r[0] for r in stored) == ["v01", "v02", "v03"]
    assert set(stored) <= set(rows)


def test_json_artifact_roundtrip(spark, tmp_path):
    """S9 sink + S10 source: the reference's materialized-view layer."""
    from youtubeanalyzerproject_big_data__spark.io import read_json_artifact, write_json_artifact

    schema = "category string, n long, avg_rate double"
    df = spark.createDataFrame([("Music", 10, 4.2), ("Comedy", 7, 3.9)], schema)
    path = str(tmp_path / "cache_json")
    write_json_artifact(df, path)
    back = read_json_artifact(spark, path, df.schema)
    assert {(r["category"], r["n"], r["avg_rate"]) for r in back.collect()} == {("Music", 10, 4.2), ("Comedy", 7, 3.9)}

    # the JSON writer drops null fields, so a column null in every row (and
    # every column of an empty frame) survives only through the schema
    nulls = spark.createDataFrame([("Music", 10, None), (None, 7, None)], schema)
    write_json_artifact(nulls, str(tmp_path / "nulls_json"))
    back = read_json_artifact(spark, str(tmp_path / "nulls_json"), nulls.schema)
    assert back.columns == ["category", "n", "avg_rate"]
    assert {tuple(r) for r in back.collect()} == {("Music", 10, None), (None, 7, None)}

    empty = spark.createDataFrame([], schema)
    write_json_artifact(empty, str(tmp_path / "empty_json"))
    back = read_json_artifact(spark, str(tmp_path / "empty_json"), empty.schema)
    assert back.columns == ["category", "n", "avg_rate"] and back.collect() == []


def test_jsonl_roundtrip_preserves_tricky_strings(spark, tmp_path_factory):
    """JSONL escaping: newlines, quotes, backslashes, unicode, nulls all
    survive write_jsonl -> read_jsonl byte-for-byte."""
    from youtubeanalyzerproject_big_data__spark.io import read_jsonl, write_jsonl

    rows = [
        (1, 'line1\nline2', "en"),
        (2, 'quote " and \\ backslash', "en"),
        (3, "unicode é中文 \U0001f600", "zh"),
        (4, None, None),
        (5, "\ttabs\tand trailing space ", "en"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    path = str(tmp_path_factory.mktemp("jsonl") / "docs")
    write_jsonl(df, path, n_files=2)
    back = read_jsonl(spark, path, schema="doc_id long, text string, lang string")
    got = {r["doc_id"]: (r["text"], r["lang"]) for r in back.collect()}
    assert got == {i: (t, g) for i, t, g in rows}


def test_csv_roundtrip_preserves_tricky_strings(spark, tmp_path_factory):
    """CSV (v4): commas, quotes, embedded newlines, unicode, EMPTY STRING
    vs NULL -- the classic CSV ambiguity -- all survive write_csv ->
    read_csv exactly (quoteAll + escape-doubling + out-of-band null token
    + multiLine read)."""
    from youtubeanalyzerproject_big_data__spark.io import read_csv, write_csv

    rows = [
        (1, "comma, inside", "en"),
        (2, 'quote " and ""doubled""', "en"),
        (3, "line1\nline2\r\nline3", "en"),
        (4, "unicode é中文 \U0001f600", "zh"),
        (5, "", "en"),       # empty string must NOT become null
        (6, None, None),     # null must NOT become empty string
        (7, "__csvnull__x", "en"),  # data that merely CONTAINS the token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    path = str(tmp_path_factory.mktemp("csv") / "docs")
    write_csv(df, path, n_files=2)
    back = read_csv(spark, path, schema="doc_id long, text string, lang string")
    got = {r["doc_id"]: (r["text"], r["lang"]) for r in back.collect()}
    assert got == {i: (t, g) for i, t, g in rows}


def test_export_sharded_prunes_shard_reads(spark, tmp_path_factory):
    """v5's layout contract: a shard-addressed read must plan partition
    pruning (PartitionFilters on the shard column), and shard assignment
    is a pure function of the id (re-export -> identical layout)."""
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32
    from youtubeanalyzerproject_big_data__spark.io import export_sharded
    from youtubeanalyzerproject_big_data__spark.plans.inspect import executed_plan

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        F.pmod(md5_int32(F.col("id").cast("string"), seed="v5"), F.lit(4)).alias("shard"),
    )
    path = str(tmp_path_factory.mktemp("export") / "shards")
    export_sharded(df, "shard", path)
    back = spark.read.parquet(path)
    one = back.where(F.col("shard") == 2)
    plan = executed_plan(one)
    assert "PartitionFilters" in plan and "shard" in plan
    expected = df.where(F.col("shard") == 2).count()
    assert one.count() == expected and expected > 0
    # determinism: a second export of the same data lands every row in the
    # same shard
    path2 = str(tmp_path_factory.mktemp("export") / "shards2")
    export_sharded(df, "shard", path2)
    a = {(r["doc_id"], r["shard"]) for r in back.collect()}
    b = {(r["doc_id"], r["shard"]) for r in spark.read.parquet(path2).collect()}
    assert a == b
