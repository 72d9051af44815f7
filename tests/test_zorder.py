"""Z-order layout: key construction and the pruning property it buys."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F


def _file_spans(path: str, col: str) -> list[tuple[float, float]]:
    """(min, max) of `col` per parquet file, from footer statistics."""
    spans = []
    for f in glob.glob(f"{path}/*.parquet"):
        meta = pq.ParquetFile(f).metadata
        idx = meta.schema.names.index(col)
        lo = min(meta.row_group(g).column(idx).statistics.min for g in range(meta.num_row_groups))
        hi = max(meta.row_group(g).column(idx).statistics.max for g in range(meta.num_row_groups))
        spans.append((float(lo), float(hi)))
    return spans


def test_interleave_known_bits(spark):
    from youtubeanalyzerproject_big_data__spark.functions.zorder import interleave_bits

    df = spark.range(1).select(
        interleave_bits([F.lit(0b101).cast("long"), F.lit(0b011).cast("long")], bits=3).alias("z")
    )
    # x bits land at positions 0,2,4; y bits at 1,3,5:
    # x=101 -> 1<<0 + 0<<2 + 1<<4 = 17; y=011 -> 1<<1 + 1<<3 + 0<<5 = 10
    assert df.collect()[0]["z"] == 27


def test_quantize_clamps_top_edge(spark):
    from youtubeanalyzerproject_big_data__spark.functions.zorder import quantize

    df = spark.createDataFrame([(0.0,), (5.0,), (10.0,)], "x double")
    out = [r["q"] for r in df.select(quantize(F.col("x"), 0.0, 10.0, 2).alias("q")).collect()]
    assert out == [0, 2, 3]  # max value clamps into the last cell


def test_zordered_layout_tightens_file_spans(spark, tmp_path_factory):
    """After a z-ordered write on (a, b), the summed per-file min/max span of
    EACH column must shrink vs a hash-scattered layout -- the footer-level
    fact that makes scans prune files on either column."""
    import random

    from youtubeanalyzerproject_big_data__spark.functions.zorder import zorder_key

    rng = random.Random(3)
    rows = [(i, rng.randrange(10_000), rng.random() * 1000.0) for i in range(20_000)]
    df = spark.createDataFrame(rows, "id long, a long, b double")
    base = tmp_path_factory.mktemp("zorder")
    scattered = str(base / "scattered")
    df.repartition(16).write.mode("overwrite").parquet(scattered)
    ordered = str(base / "zordered")
    # range-repartition on the key, so files hold contiguous key ranges
    keyed = df.withColumn("_zkey", zorder_key(df, ["a", "b"], bits=8))
    keyed.repartitionByRange(16, "_zkey").sortWithinPartitions("_zkey").drop("_zkey").write.parquet(ordered)

    for col in ("a", "b"):
        span_scattered = sum(hi - lo for lo, hi in _file_spans(scattered, col))
        span_ordered = sum(hi - lo for lo, hi in _file_spans(ordered, col))
        assert span_ordered < span_scattered * 0.5, (
            f"{col}: zorder {span_ordered} not < half of scattered {span_scattered}"
        )


def test_hilbert_key_matches_textbook_walk_and_is_jump_free(spark):
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.functions.zorder import hilbert_key_2d

    grid = spark.range(256).select(
        "id", (F.col("id") % 16).alias("qx"), (F.col("id") / 16).cast("long").alias("qy")
    )
    out = hilbert_key_2d(grid, F.col("qx"), F.col("qy"), bits=4)
    rows = {r["hkey"]: (r["qx"], r["qy"]) for r in out.collect()}
    # bijection onto [0, 256)
    assert sorted(rows) == list(range(256))
    # textbook xy2d walk (Hilbert curve reference implementation)
    def xy2d(n, x, y):
        d, s = 0, n // 2
        while s > 0:
            rx = 1 if (x & s) else 0
            ry = 1 if (y & s) else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x, y = s - 1 - x, s - 1 - y
                x, y = y, x
            s //= 2
        return d
    assert all(xy2d(16, x, y) == d for d, (x, y) in rows.items())
    # locality: consecutive keys are ALWAYS grid neighbors (the property
    # Morton keys lack -- Z jumps)
    for d in range(255):
        (x1, y1), (x2, y2) = rows[d], rows[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_compact_parquet_balances_and_prunes(spark, tmp_path_factory):
    """Compaction: 32 shattered files -> 4 range-partitioned files with
    non-overlapping doc_id ranges (footer min/max pruning works on the
    sort column) and balanced row counts."""
    import glob

    import pyarrow.parquet as pq

    from youtubeanalyzerproject_big_data__spark.io import compact_parquet, load_table

    base = tmp_path_factory.mktemp("compact")
    small, big = str(base / "small"), str(base / "big")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.repartition(32).write.mode("overwrite").parquet(small)
    compact_parquet(spark, small, big, n_files=4, sort_col="doc_id")
    files = sorted(glob.glob(f"{big}/part-*"))
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        cols = {md.row_group(0).column(i).path_in_schema: i for i in range(md.row_group(0).num_columns)}
        lo = min(md.row_group(g).column(cols["doc_id"]).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(cols["doc_id"]).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert h1 < l2  # non-overlapping ranges -> per-file pruning
    n = docs.count()
    counts = [pq.ParquetFile(f).metadata.num_rows for f in files]
    assert sum(counts) == n and max(counts) <= 2 * (n // 4)
