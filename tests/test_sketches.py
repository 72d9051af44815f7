"""Misra-Gries heavy-hitter sketch guarantees (partitioning-independent)."""

from __future__ import annotations


def _freqs(rows):
    out = {}
    for (v,) in rows:
        out[v] = out.get(v, 0) + 1
    return out


def test_mg_guarantees_on_skewed_stream(spark):
    from youtubeanalyzerproject_big_data__spark.operators.sketches import misra_gries_candidates

    # zipf-ish: one dominant key, a mid key, and a long tail of singletons
    rows = [("hot",)] * 400 + [("warm",)] * 120 + [(f"tail{i}",) for i in range(480)]
    df = spark.createDataFrame(rows, "k string").repartition(8)
    k = 16
    n = len(rows)
    exact = _freqs(rows)
    est = {r["k"]: r["est"] for r in misra_gries_candidates(df, "k", k=k).collect()}
    # completeness: every key above N/k present
    for key, c in exact.items():
        if c > n / k:
            assert key in est, f"heavy key {key} missing"
    for key, e in est.items():
        assert e <= exact[key], "overestimate"
        assert exact[key] - e <= n / k, "underestimate beyond bound"


def test_mg_gate_row_all_green(spark):
    from youtubeanalyzerproject_big_data__spark.operators.sketches import heavy_hitters_gate

    rows = [(f"k{i % 4}",) for i in range(1000)] + [(f"rare{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, "k string").repartition(5)
    r = heavy_hitters_gate(df, "k", k=32).collect()[0]
    assert r["n_heavy"] == 4 and r["n_heavy_found"] == 4
    assert r["all_heavy_found"] == 1 and r["no_overestimate"] == 1 and r["underestimate_ok"] == 1


def test_bloom_gate_no_false_negatives_and_budget(spark):
    from youtubeanalyzerproject_big_data__spark.operators.sketches import bloom_membership_gate

    build = spark.createDataFrame([(i,) for i in range(500)], "key long")
    probe = spark.createDataFrame([(i,) for i in range(1000)], "key long")  # 500 non-members
    r = bloom_membership_gate(build, probe, "key", m_bits=1 << 13, k_hashes=4).collect()[0]
    assert r["n_build_keys"] == 500 and r["n_probe_keys"] == 1000 and r["n_members"] == 500
    assert r["false_negatives"] == 0 and r["zero_false_negatives"]
    assert r["n_maybe"] >= 500  # members always pass
    assert r["false_positives"] <= r["fp_budget"] and r["fp_within_budget"]


def test_bloom_gate_tiny_filter_saturates_but_never_misses(spark):
    from youtubeanalyzerproject_big_data__spark.operators.sketches import bloom_membership_gate

    # m=64 bits for 200 keys: filter saturates, fp rate ~1, but the
    # structural no-false-negative contract still holds.
    build = spark.createDataFrame([(i,) for i in range(200)], "key long")
    probe = spark.createDataFrame([(i,) for i in range(400)], "key long")
    r = bloom_membership_gate(build, probe, "key", m_bits=64, k_hashes=2).collect()[0]
    assert r["false_negatives"] == 0
    assert r["fp_within_budget"]  # budget follows p -> ~1, so saturation stays in contract


def test_bloom_gate_rejects_bad_k(spark):
    import pytest as _pytest

    from youtubeanalyzerproject_big_data__spark.operators.sketches import bloom_membership_gate

    df = spark.createDataFrame([(1,)], "key long")
    with _pytest.raises(ValueError):
        bloom_membership_gate(df, df, "key", k_hashes=5)


def test_quantile_merge_bound_holds_on_skewed_values(spark, monkeypatch):
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.operators import sketches

    # Zipf-ish skew: value i//10 repeats, plus a long tail -- step sampling
    # must still bracket every target rank within sum(step_s).
    df = spark.range(5000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 4500, (F.col("id") / 10).cast("long")).otherwise(F.col("id") * 100).alias("v"),
    )
    monkeypatch.setattr(sketches, "QMERGE_SHARDS", 8)
    monkeypatch.setattr(sketches, "QMERGE_K", 16)
    out = sketches.quantile_merge_estimates(df, "k", F.col("v")).collect()
    assert len(out) == 3
    for r in out:
        assert r["within_bound"] == 1
        # the bound itself is what the theorem promises: sum of 8 shard steps
        assert r["rank_bound"] <= 8 * ((5000 // 8 + 1 + 15) // 16 + 1)
        # and the estimate's true rank really is inside it
        assert r["r_hi"] >= r["target_rank"] - r["rank_bound"]
        assert r["r_lo"] <= r["target_rank"] - 1 + r["rank_bound"]


def test_quantile_merge_summary_is_model_sized(spark, monkeypatch):
    from pyspark.sql import functions as F

    from youtubeanalyzerproject_big_data__spark.operators import sketches

    # exact quantiles when every shard holds fewer than k rows: step = 1,
    # the "summary" is the whole shard, and the estimate is rank-exact.
    df = spark.range(100).select(F.col("id").alias("k"), F.col("id").alias("v"))
    monkeypatch.setattr(sketches, "QMERGE_SHARDS", 4)
    out = {r["q_ppm"]: r for r in sketches.quantile_merge_estimates(df, "k", F.col("v")).collect()}
    assert out[500_000]["est_micro"] == 49  # rank 50 of 0..99
    assert out[990_000]["est_micro"] == 98
    assert all(r["within_bound"] == 1 for r in out.values())
