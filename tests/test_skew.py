"""Salted joins equal the plain join."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_salted_join_matches_plain_join(spark):
    """salted_join must be answer-identical to the plain join (inner and
    left, including unmatched-left rows and duplicated right keys)."""
    from youtubeanalyzerproject_big_data__spark.functions.skew import salted_join

    left = spark.range(0, 20000).select(
        F.col("id").alias("event_id"), F.when(F.col("id") % 10 < 8, 7).otherwise(F.col("id") % 100).alias("k")
    )  # 80% of rows on hot key 7; keys 0..99 in the tail; some keys dimless
    right = spark.range(0, 50).select(F.col("id").alias("rk"), (F.col("id") * 2).alias("payload"))
    plain = {
        (r["event_id"], r["payload"])
        for r in left.join(right, left.k == right.rk, "left").select("event_id", "payload").collect()
    }
    salted = {
        (r["event_id"], r["payload"])
        for r in salted_join(left, right, "k", "rk", num_salts=8, how="left").select("event_id", "payload").collect()
    }
    assert salted == plain


def test_salted_join_spreads_hot_key_in_plan(spark):
    """The physical join must run on (key, salt): the right side carries a
    Generate (explode over the salt domain) below the join, so a hot key
    hashes to num_salts distinct shuffle partitions instead of one.
    Broadcast is disabled to pin the shuffle-join regime salting targets."""
    from youtubeanalyzerproject_big_data__spark.functions.skew import salted_join
    from youtubeanalyzerproject_big_data__spark.plans.inspect import executed_plan

    left = spark.range(0, 1000).select(F.col("id").alias("event_id"), F.lit(7).alias("k"))
    right = spark.range(0, 50).select(F.col("id").alias("rk"), (F.col("id") * 2).alias("payload"))
    thresholds = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {c: spark.conf.get(c, None) for c in thresholds}
    try:
        for c in thresholds:
            spark.conf.set(c, "-1")
        plan = executed_plan(salted_join(left, right, "k", "rk", num_salts=8))
        assert "Generate explode" in plan  # right-side salt replication
        assert "_lsalt" in plan and "_rsalt" in plan  # salt is a join key
    finally:
        for c, v in saved.items():
            spark.conf.unset(c) if v is None else spark.conf.set(c, v)
