"""Deterministic hash sampling: stability properties RNG sampling lacks."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.sampling import hash_sample, stratified_hash_sample


def test_hash_sample_stable_under_repartition(spark):
    df = spark.range(0, 20000).select(F.col("id").alias("k"))
    a = {r["k"] for r in hash_sample(df, "k", 0.1, seed="t").collect()}
    b = {r["k"] for r in hash_sample(df.repartition(13), "k", 0.1, seed="t").collect()}
    assert a == b  # membership is a pure function of the key
    assert 0.08 < len(a) / 20000 < 0.12


def test_hash_sample_stable_under_growth(spark):
    small = spark.range(0, 5000).select(F.col("id").alias("k"))
    big = spark.range(0, 20000).select(F.col("id").alias("k"))
    a = {r["k"] for r in hash_sample(small, "k", 0.1, seed="t").collect()}
    b = {r["k"] for r in hash_sample(big, "k", 0.1, seed="t").collect()}
    assert a == {k for k in b if k < 5000}  # once sampled, always sampled


def test_stratified_fractions(spark):
    df = spark.range(0, 10000).select(F.col("id").alias("k"), (F.col("id") % 2 == 0).cast("string").alias("s"))
    out = stratified_hash_sample(df, "k", "s", {"true": 1.0, "false": 0.2}, seed="t")
    counts = {r["s"]: r["c"] for r in out.groupBy("s").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert counts["true"] == 5000
    assert 800 < counts["false"] < 1200


def test_token_budget_sample(spark):
    from youtubeanalyzerproject_big_data__spark.functions.sampling import token_budget_sample

    # stratum 'small': 10 rows x 10 tokens = 100 <= budget -> kept whole.
    # stratum 'big': 1000 rows x 10 tokens = 10000 -> ~10% of rows kept.
    df = spark.range(0, 1010).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 10, F.lit("small")).otherwise(F.lit("big")).alias("s"),
        F.lit(10).cast("long").alias("w"),
    )
    out = token_budget_sample(df, "k", "s", "w", budget_per_stratum=1000, seed="t")
    counts = {r["s"]: r["c"] for r in out.groupBy("s").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert counts["small"] == 10  # under budget: rate 1.0 keeps all
    assert 60 < counts["big"] < 140  # ~budget/total = 10% of 1000

    # determinism: same kept set under a different partitioning
    a = {r["k"] for r in out.collect()}
    b = {r["k"] for r in token_budget_sample(df.repartition(7), "k", "s", "w", 1000, seed="t").collect()}
    assert a == b


def test_pack_sequences_equals_global_cumsum(spark):
    """The distributed prefix sum must equal the naive global cumsum,
    regardless of input partitioning, including across bucket boundaries."""
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.functions.sampling import pack_sequences

    rows = [(i, (i * 37) % 90 + 1) for i in range(0, 250, 3)]  # gaps in ids
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long").repartition(7)
    out = {
        r["doc_id"]: r
        for r in pack_sequences(df, "doc_id", "n_tokens", seq_len=100, bucket_span=40).collect()
    }
    cum = 0
    for doc_id, n in sorted(rows):
        r = out[doc_id]
        assert r["start_offset"] == cum
        assert r["bin_id"] == cum // 100
        assert r["pos_in_bin"] == cum % 100
        cum += n
    assert len(out) == len(rows)


def test_pack_sequences_bucket_span_invariance(spark):
    """bucket_span is an execution knob, not a semantic one."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import pack_sequences

    rows = [(i, i % 13 + 1) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    a = sorted(map(tuple, pack_sequences(df, "doc_id", "n_tokens", 64, bucket_span=10).collect()))
    b = sorted(map(tuple, pack_sequences(df, "doc_id", "n_tokens", 64, bucket_span=1000).collect()))
    assert a == b


def test_group_example_sample_partition_invariant(spark):
    """Same (key, seed) -> same examples under any partitioning, and the
    two-stage shape matches a naive global window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32
    from youtubeanalyzerproject_big_data__spark.functions.sampling import group_example_sample

    rows = [(i, f"s{i % 5}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    a = sorted(map(tuple, group_example_sample(df, "doc_id", "source", 4, seed="x").collect()))
    b = sorted(map(tuple, group_example_sample(df.repartition(13), "doc_id", "source", 4, seed="x").collect()))
    assert a == b and len(a) == 20
    w = Window.partitionBy("source").orderBy(md5_int32(F.col("doc_id").cast("string"), seed="x"), "doc_id")
    naive = sorted(
        (r["source"], r["doc_id"], r["rk"])
        for r in df.withColumn("rk", F.row_number().over(w)).where("rk <= 4").collect()
    )
    assert a == [(s, d, r) for s, d, r in naive]


def test_training_shuffle_is_balanced_permutation(spark):
    """training_shuffle yields a true permutation (ranks 0..n-1, each doc
    once), round-robin shards balanced to +/-1, consistent rank->shard/pos
    arithmetic, and a DIFFERENT order under a different seed."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import training_shuffle

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    out = training_shuffle(df, "doc_id", n_shards=8, seed=0).collect()
    assert sorted(r["ord_rank"] for r in out) == list(range(100))
    assert {r["doc_id"] for r in out} == set(range(100))
    from collections import Counter

    sizes = Counter(r["shard"] for r in out)
    assert set(sizes) == set(range(8)) and max(sizes.values()) - min(sizes.values()) <= 1
    for r in out:
        assert r["shard"] == r["ord_rank"] % 8 and r["pos_in_shard"] == r["ord_rank"] // 8

    order0 = [r["doc_id"] for r in sorted(out, key=lambda r: r["ord_rank"])]
    out1 = training_shuffle(df, "doc_id", n_shards=8, seed=1).collect()
    order1 = [r["doc_id"] for r in sorted(out1, key=lambda r: r["ord_rank"])]
    assert order0 != order1  # new epoch seed -> new permutation
    assert sorted(order1) == sorted(order0)


def test_temperature_mix_caps_light_sources_and_thins_heavy(spark):
    """T=2 flattening: a source under its flattened allowance keeps ALL
    rows (rate capped at 1e6 ppm); a much heavier source thins; membership
    is the deterministic hash predicate (re-run identical)."""
    from youtubeanalyzerproject_big_data__spark.functions.sampling import temperature_mix_sample

    rows = [(i, "light", 10) for i in range(5)] + [(100 + i, "heavy", 10) for i in range(500)]
    df = spark.createDataFrame(rows, "k long, s string, w long")
    # masses: light 50, heavy 5000; sqrt shares ~ 0.0909 / 0.909
    # budget 1000 -> light target ~90.9 > 50 => capped; heavy ~909 < 5000 => thinned
    out = temperature_mix_sample(df, "k", "s", "w", total_budget=1000, seed="t")
    per = {r["s"]: r for r in out.groupBy("s").count().withColumnRenamed("count", "n").collect()}
    rates = {r["s"]: r["rate_ppm"] for r in out.select("s", "rate_ppm").distinct().collect()}
    assert rates["light"] == 1_000_000 and per["light"]["n"] == 5  # under allowance: keep all
    assert rates["heavy"] < 1_000_000 and 0 < per["heavy"]["n"] < 500  # thinned
    again = temperature_mix_sample(df, "k", "s", "w", total_budget=1000, seed="t")
    assert sorted(r["k"] for r in out.collect()) == sorted(r["k"] for r in again.collect())


def test_leakage_safe_split_dup_groups_never_straddle(spark):
    from youtubeanalyzerproject_big_data__spark.functions.sampling import leakage_safe_split

    # 30 distinct texts, each duplicated 3x with different whitespace/case
    # (same normalized form) -> 30 groups of 3 docs.
    rows = []
    for g in range(30):
        base = f"doc {g} unique words here"
        rows += [(g * 3, base), (g * 3 + 1, "  " + base.upper() + " "), (g * 3 + 2, base.replace(" ", "   "))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(df, "doc_id", "text").collect()
    assert sum(r["n_docs"] for r in out) == 90
    assert sum(r["n_groups"] for r in out) == 30
    assert all(r["n_leaky_groups"] == 0 for r in out)
    assert all(r["n_docs"] == 3 * r["n_groups"] for r in out)  # groups move whole


def test_target_mix_whitelist_and_rates(spark):
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.functions.sampling import target_mix_sample

    # sources a (1000 tokens), b (1000), c (1000); targets: a 50%, b 50%,
    # c absent -> c fully dropped; budget 1000 -> each target wants 500
    # tokens -> rate 50%.
    rows = [(i, ["a", "b", "c"][i % 3], 10) for i in range(300)]
    df = spark.createDataFrame(rows, "k long, src string, w long")
    kept = target_mix_sample(df, "k", "src", "w", {"a": 500_000, "b": 500_000}, 1000, seed="t")
    got = {r["src"]: r for r in kept.groupBy("src").agg(F.count(F.lit(1)).alias("n"), F.min("rate_ppm").alias("rate")).collect()}
    assert "c" not in got  # whitelist semantics
    assert got["a"]["rate"] == 500_000 and got["b"]["rate"] == 500_000
    # md5 sampling at 50%: keep count near half (deterministic, just sane)
    assert 20 <= got["a"]["n"] <= 80 and 20 <= got["b"]["n"] <= 80
