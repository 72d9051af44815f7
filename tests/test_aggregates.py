"""A1-A5/A8/A9 semantics on reference-shaped fixtures (SURVEY.md par.2.4,
FIXTURES.md invariants 1/4/5/6)."""

from __future__ import annotations

from youtubeanalyzerproject_big_data__spark.operators import aggregates as agg

LENGTH_BUCKETS = [(240, "1_short"), (1200, "2_medium")]
VIEW_BUCKETS = [(1_000, "<1k"), (10_000, "1k-10k"), (100_000, "10k-100k"), (1_000_000, "100k-1M")]


def test_category_stats_groups_and_order(videos):
    out = agg.category_stats(videos, "category", "views").collect()
    # HTML-entity duplicate categories must NOT be normalized (invariant 4).
    cats = [r["category"] for r in out]
    assert "People & Blogs" in cats and "People &amp; Blogs" in cats
    # ordered by group size desc: Music (3 rows) first
    assert out[0]["category"] == "Music" and out[0]["num_rows"] == 3


def test_bucket_counts_sum_to_total(videos):
    out = agg.bucket_stats(videos, "length", LENGTH_BUCKETS, "3_long", "views").collect()
    assert sum(r["num_rows"] for r in out) == videos.count()
    # -1 sentinel lands in the shortest bucket (invariant: FIXTURES.md length row)
    short = next(r for r in out if r["bucket"] == "1_short")
    assert short["num_rows"] == 3  # v01 (100), v04 (200), v05 (-1)


def test_histogram_lexicographic_order(videos):
    out = agg.histogram(videos, "views", VIEW_BUCKETS, ">=1M").collect()
    labels = [r["bucket"] for r in out]
    assert labels == sorted(labels)  # string sort, reproducing the reference quirk
    assert sum(r["num_rows"] for r in out) == videos.count()


def test_sentinels_participate_in_global_stats(videos):
    row = agg.global_stats(videos, "views").collect()[0]
    # avg includes the -1 sentinel (invariant 5): sum = 500+1500+150000+2500000-1+25000
    expected_avg = (500 + 1500 + 150000 + 2500000 - 1 + 25000) / 6
    assert abs(row["avg_val"] - round(expected_avg, 6)) < 1e-6
    assert row["cnt"] == 6


def test_frequency_distribution(videos):
    out = {r["degree"]: r["num_keys"] for r in agg.frequency_distribution(videos, "uploader").collect()}
    assert out == {1: 3, 3: 1}  # alice x3; bob/carol/dave x1


def test_distinct_count(videos):
    assert agg.distinct_count(videos, "uploader").collect()[0]["n_distinct"] == 4


def test_table_fingerprint_order_invariant_and_sensitive(spark):
    """l2's XOR-fold fingerprint: identical under any partitioning/order;
    any single-row change flips it."""
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32_lanes

    def fp(df):
        lanes = md5_int32_lanes(F.col("s"), seed="fp", lanes=2)
        row = df.select(lanes[0].alias("l0"), lanes[1].alias("l1")).agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor("l0").alias("a"), F.bit_xor("l1").alias("b")
        ).collect()[0]
        return (row["n"], row["a"], row["b"])

    base = spark.createDataFrame([(f"row-{i}",) for i in range(100)], "s string")
    assert fp(base) == fp(base.repartition(13)) == fp(base.orderBy(F.desc("s")))
    changed = spark.createDataFrame([(f"row-{i}" if i != 50 else "row-50x",) for i in range(100)], "s string")
    assert fp(changed) != fp(base)


def test_profile_columns_counts_nulls_and_formats_decimals(spark):
    """One-scan column profile: null accounting, distincts, and the
    decimal-stringified min/max for float columns; all-null columns keep
    the '__null__' sentinel."""
    from youtubeanalyzerproject_big_data__spark.operators.aggregates import profile_columns

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.25), (3, "a", None), (4, "b", 0.125)],
        "k long, s string, v double",
    )
    out = {r["column"]: r for r in profile_columns(df, ["k", "s", "v"], decimal_cols={"v"}).collect()}
    assert out["k"]["n_rows"] == 4 and out["k"]["n_nulls"] == 0 and out["k"]["n_distinct"] == 4
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    assert out["s"]["min_str"] == "a" and out["s"]["max_str"] == "b"
    assert out["v"]["n_nulls"] == 1 and out["v"]["min_str"] == "0.125000" and out["v"]["max_str"] == "2.250000"

    empty = spark.createDataFrame([(None,), (None,)], "x string")
    e = profile_columns(empty, ["x"]).collect()[0]
    assert e["n_nulls"] == 2 and e["min_str"] == "__null__" and e["max_str"] == "__null__"


def test_robust_group_stats_mad_and_outliers(spark):
    from youtubeanalyzerproject_big_data__spark.operators.aggregates import robust_group_stats

    rows = [("a", float(x)) for x in [1, 2, 3, 4, 5, 100]] + [("b", 10.0)] * 3
    df = spark.createDataFrame(rows, "g string, v double")
    out = {r["g"]: r for r in robust_group_stats(df, "g", "v").collect()}
    # group a: median 3.5, |devs| = [2.5,1.5,.5,.5,1.5,96.5] -> MAD 1.5; 100 is the lone outlier
    assert (out["a"]["median_v"], out["a"]["mad"], out["a"]["n_outliers"]) == (3.5, 1.5, 1)
    # constant group: MAD 0, nothing strictly above the zero cut line
    assert (out["b"]["mad"], out["b"]["n_outliers"]) == (0.0, 0)


def test_rfm_segments_scores_and_totals(spark):
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.operators.aggregates import rfm_segments

    # 4 customers with strictly increasing frequency/monetary and strictly
    # decreasing recency -> every score axis is the identity permutation.
    rows = []
    for c in range(1, 5):  # customer c: c orders, last on day 10+c
        for k in range(c):
            rows.append((c, f"2024-01-{10 + c:02d} 00:00:00", 100.0 * c))
    df = spark.createDataFrame(rows, "o_custkey long, d string, amt double").select(
        "o_custkey", F.col("d").cast("timestamp_ntz").alias("o_orderdate"), F.col("amt").alias("o_totalprice")
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = {r["segment"]: r for r in rfm_segments(df, "o_custkey", "o_orderdate", "o_totalprice").collect()}
    # customer 4: most recent (r=4), most frequent (f=4), most monetary (m=4)
    assert set(out) == {"111", "222", "333", "444"}
    assert out["444"]["n_customers"] == 1
    assert out["444"]["monetary_total"] == 1600.0  # 4 orders x 400
    assert out["111"]["monetary_total"] == 100.0


def test_hourly_anomaly_flags_spike_and_zeroes_constant(spark):
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.streaming.events import hourly_anomaly

    rows = []
    eid = 0
    for h in range(10):  # 'a': 5 events/hour, except hour 7 spikes to 50
        for _ in range(50 if h == 7 else 5):
            rows.append((eid, f"2024-01-01 {h:02d}:30:00", 1, "a", 1.0, "{}"))
            eid += 1
    for h in range(10):  # 'b': constant 3/hour -> zero variance -> z = 0
        for _ in range(3):
            rows.append((eid, f"2024-01-01 {h:02d}:30:00", 1, "b", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double, props string"
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type", "value", "props")
    out = hourly_anomaly(df, top_k=30).collect()
    top = out[0]
    assert top["event_type"] == "a" and top["n_events"] == 50 and top["z"] > 2.5
    assert all(r["z"] == 0.0 for r in out if r["event_type"] == "b")


def test_hourly_anomaly_single_hour_scores_zero(spark):
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.streaming.events import hourly_anomaly

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1, "a", 1.0, "{}")],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id", "event_type", "value", "props")
    out = hourly_anomaly(df).collect()
    assert len(out) == 1 and out[0]["z"] == 0.0  # zero variance -> 0, no div-by-zero


def test_dec_avg_exact_half_case_matches_oracle(spark):
    """The avg that broke the first sf1 replay: sum/count landing exactly
    on x.xxxxxx5 (13911.3/320 = 43.4728125) must round HALF-UP to the SAME
    value in Spark and DuckDB.  Also pins negatives (away from zero) and a
    plain non-half value."""
    import duckdb

    from youtubeanalyzerproject_big_data__spark import contract
    from youtubeanalyzerproject_big_data__spark.functions.precision import dec_avg

    cases = [
        ("half", [13911.3] + [0.0] * 319, 43.472813),     # exact .5 -> up
        ("neg", [-13911.3] + [0.0] * 319, -43.472813),    # away from zero
        ("plain", [1.25, 2.5, 3.125], 2.291667),
    ]
    rows = [(name, v) for name, vals, _ in cases for v in vals]
    df = spark.createDataFrame(rows, "g string, value double")
    got = {r["g"]: r["avg_value"] for r in df.groupBy("g").agg(dec_avg("value", "avg_value")).collect()}
    con = duckdb.connect()
    con.register("t", df.toPandas())
    oracle = {
        g: v
        for g, v in con.execute(
            f"SELECT g, {contract._sql._davg('value')} AS a FROM t GROUP BY g"
        ).fetchall()
    }
    for name, _, expected in cases:
        assert got[name] == expected, (name, got[name])
        assert oracle[name] == expected, (name, oracle[name])
