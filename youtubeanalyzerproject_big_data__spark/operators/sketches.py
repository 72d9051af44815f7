"""Mergeable frequency sketches: Misra-Gries heavy hitters.

Spark ships sketch aggregates for distinct counts (HLL++) and quantiles
(GK), but not for heavy hitters; this module adds the classic Misra-Gries
summary as a PARTITION-LOCAL sketch whose candidates merge by key -- the
shape every distributed sketch takes (map-side summary, tiny shuffle,
associative merge), and the reason it scales: the shuffle carries at most
``k`` rows per partition no matter how many billions of rows each partition
scanned.

Guarantees (the textbook ones, preserved by the batch-decrement variant
used here):

- no overestimate: est(x) <= true(x);
- bounded underestimate: true(x) - est(x) <= N/k globally (each
  partition's total decrement is <= N_p/k, and errors add across
  partitions);
- completeness: any x with true(x) > N/k survives in at least one
  partition's summary, hence reaches the merged candidate set.

The summary CONTENT depends on partitioning/arrival order (like any MG
sketch), so queries gate on the guarantees -- which hold under every
partitioning -- not on sketch internals (the a12/a13 pattern).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.precision import ratio_round


def misra_gries_candidates(df: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """Merged heavy-hitter candidates: (key, est) with est summed over the
    per-partition Misra-Gries summaries.

    The kernel is Arrow-batched and VECTORIZED: each batch collapses to
    value_counts first (one C pass), counters update dict-at-a-time, and
    the decrement step subtracts the (k+1)-th largest counter from all --
    one batched decrement instead of Misra-Gries' per-row loop, with the
    same error budget (every unit decremented is charged to k+1 distinct
    arrivals, so total decrement <= N_p/k).
    """

    # NULL keys must count too: the gate's exact groupBy keeps the NULL
    # group, so the sketch dropping NaN (value_counts default) would make a
    # heavy NULL key fail completeness spuriously.  NaN is unusable as a
    # dict key (NaN != NaN), so nulls ride a private sentinel and turn back
    # into None on output.
    _NULL = "\x00__mg_null__"

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            vc = pdf["_k"].value_counts(dropna=False)
            for key, c in vc.items():
                key = _NULL if pd.isna(key) else key
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                s = pd.Series(counters)
                cut = int(s.nlargest(k + 1).iloc[-1])
                s = s - cut
                counters = {key: int(c) for key, c in s.items() if c > 0}
        yield pd.DataFrame(
            {
                "_k": [None if key == _NULL else key for key in counters],
                "est": [int(v) for v in counters.values()],
            }
        )

    keyed = df.select(F.col(key_col).cast("string").alias("_k"))
    summaries = keyed.mapInPandas(summarize, "_k string, est long")
    return (
        summaries.groupBy("_k")
        .agg(F.sum("est").cast("long").alias("est"))
        .select(F.col("_k").alias(key_col), "est")
    )


def heavy_hitters_gate(df: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """One-row contract: the MG candidate set must contain every key whose
    exact frequency exceeds N/k, never overestimate, and underestimate by
    at most N/k.  Exact counts come from one hash aggregate (the ground
    truth the sketch replaces at scale -- here they gate it)."""
    exact = df.groupBy(F.col(key_col).cast("string").alias(key_col)).agg(F.count(F.lit(1)).cast("long").alias("exact"))
    cand = misra_gries_candidates(df, key_col, k=k)
    n_total = df.count()
    threshold = n_total / k  # the MG guarantee line
    joined = exact.join(cand, key_col, "left")
    heavy = joined.where(F.col("exact") > threshold)
    return (
        heavy.agg(
            F.count(F.lit(1)).cast("long").alias("n_heavy"),
            F.count("est").cast("long").alias("n_heavy_found"),
            # min() over an EMPTY heavy set returns NULL; the contract output
            # must be NULL-free (repo invariant) and an empty heavy set is
            # vacuously green, so coalesce to 1.
            F.coalesce(
                F.min((F.col("est").isNotNull()) & (F.col("est") <= F.col("exact"))).cast("int"),
                F.lit(1),
            ).alias("no_overestimate"),
            F.coalesce(
                F.min(F.col("exact") - F.coalesce("est", F.lit(0)) <= threshold).cast("int"),
                F.lit(1),
            ).alias("underestimate_ok"),
        )
        .select(
            "n_heavy",
            "n_heavy_found",
            (F.col("n_heavy") == F.col("n_heavy_found")).cast("int").alias("all_heavy_found"),
            "no_overestimate",
            "underestimate_ok",
        )
    )


def bloom_membership_gate(
    build: DataFrame,
    probe: DataFrame,
    key_col: str,
    m_bits: int = 1 << 17,
    k_hashes: int = 4,
) -> DataFrame:
    """Distributed Bloom-filter membership check as a bit-position
    semijoin, gated on the filter's two contracts: NO false negatives
    (structural -- every build key sets all its bits) and a false-positive
    rate within 2x the textbook bound (1 - e^(-kn/m))^k.

    This is the cheap membership primitive a pipeline puts in front of an
    expensive dedup/decontamination join (d8/c3): "definitely new" keys
    skip the join entirely; only "maybe" keys pay it.

    Shape, not a driver-side bitset: the filter IS a DataFrame of <= m
    distinct set-bit positions, built by one map-side lane expansion + a
    position-keyed distinct.  Probing joins the probe side's k lane
    positions against it -- the position table is <= m rows regardless of
    corpus size, so the join broadcasts and THE PROBE SIDE NEVER SHUFFLES
    WIDE (its shuffle rows are (key, int) lanes).  All k hash lanes come
    from ONE md5 digest per key (functions/hashing.md5_int32_lanes), so
    the oracle replays them bit-for-bit; k_hashes <= 4.

    A lane pair can collide into one position, so membership compares
    DISTINCT matched positions against DISTINCT needed positions per key,
    not a raw hit count.

    Returns one row: (n_build_keys, n_probe_keys, n_members, n_maybe,
    false_negatives, false_positives, fp_rate, zero_false_negatives,
    fp_within_bound).
    """
    if not 1 <= k_hashes <= 4:
        raise ValueError("k_hashes must be in 1..4 (one md5 digest carries four lanes)")
    from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32_lanes

    def lane_positions(df: DataFrame) -> DataFrame:
        key = F.col(key_col).cast("string").alias("k")
        lanes = md5_int32_lanes(F.col("k"), seed="bloom", lanes=k_hashes)
        return (
            df.select(key)
            .distinct()
            .select("k", F.explode(F.array(*[(l % m_bits).cast("long") for l in lanes])).alias("pos"))
            .distinct()
        )

    bits = lane_positions(build).select("pos").distinct()
    probe_pos = lane_positions(probe)
    need = probe_pos.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("need"))
    hit = (
        probe_pos.join(F.broadcast(bits), "pos")
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("hit"))
    )
    bkeys = build.select(F.col(key_col).cast("string").alias("k")).distinct()
    n_build = bkeys.count()
    flags = (
        need.join(hit, "k", "left")
        .join(bkeys.withColumn("member", F.lit(True)), "k", "left")
        .select(
            "k",
            (F.coalesce("hit", F.lit(0)) == F.col("need")).alias("maybe"),
            F.coalesce("member", F.lit(False)).alias("member"),
        )
    )
    import math

    # Gate on the false-positive COUNT: <= 2x the expected count under the
    # textbook rate p = (1 - e^(-kn/m))^k, plus an additive slack of 5 that
    # absorbs Poisson fluctuation when the expectation is a handful (a pure
    # 2x-rate gate flips on +/- 2 occurrences at small n; at scale the
    # multiplicative term dominates and the slack is noise).
    # Sequential multiplication instead of pow(): the oracle replays q*q*...
    # with the same IEEE sequence, leaving exp() as the only libm call.
    q = 1.0 - math.exp(-k_hashes * n_build / m_bits)
    p = 1.0
    for _ in range(k_hashes):
        p *= q
    return flags.agg(
        F.lit(int(n_build)).cast("long").alias("n_build_keys"),
        F.count(F.lit(1)).cast("long").alias("n_probe_keys"),
        F.sum(F.col("member").cast("long")).cast("long").alias("n_members"),
        F.sum(F.col("maybe").cast("long")).cast("long").alias("n_maybe"),
        F.sum((F.col("member") & ~F.col("maybe")).cast("long")).cast("long").alias("false_negatives"),
        F.sum((F.col("maybe") & ~F.col("member")).cast("long")).cast("long").alias("false_positives"),
        ratio_round(
            F.sum((F.col("maybe") & ~F.col("member")).cast("long")),
            F.greatest(F.sum((~F.col("member")).cast("long")), F.lit(1)),
            "fp_rate",
        ),
        (F.floor(F.lit(2.0 * p) * F.sum((~F.col("member")).cast("long"))) + F.lit(5))
        .cast("long")
        .alias("fp_budget"),
    ).select(
        "*",
        (F.col("false_negatives") == 0).alias("zero_false_negatives"),
        (F.col("false_positives") <= F.col("fp_budget")).alias("fp_within_budget"),
    )


def count_min_estimates(
    df: DataFrame,
    key_col: str,
    query_keys: list,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) with md5-derived
    row hashes, point-queried for ``query_keys`` -- the frequency sketch
    completing the family next to Misra-Gries (a14/se7), HLL (a12/a21),
    GK (a13/a17), Bloom (bf1), and KMV (se8/i3).

    Because the hashes are the engine's portable md5 family, the sketch
    is NOT engine-specific: every counter is an exact count of a
    deterministic bucket assignment, so an oracle replays the whole
    table AND the estimates hash-exactly (rare for a sketch -- the
    a12/a13 gates can only pin contracts).  The CM guarantees become
    checkable columns: est >= true always (no underestimate), and
    overestimate <= 2N/width with probability 1 - 2^-depth per key.

    Scale shape: one map-side ``depth``x row expansion + ONE (row,
    bucket)-keyed count aggregate -- the counter table is depth*width
    rows (model-sized) and broadcasts to the literal query keys.
    Returns per query key: (key, true_n, est_n, overestimate,
    no_underestimate) ordered by key.
    """
    from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32

    k = F.col(key_col).cast("string")
    rows = F.array(
        *[
            F.struct(F.lit(j).alias("row"), F.pmod(md5_int32(k, seed=f"cm{j}"), F.lit(width)).alias("bucket"))
            for j in range(depth)
        ]
    )
    counters = (
        df.select(F.explode(rows).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    spark = df.sparkSession
    qk = spark.createDataFrame([(str(q),) for q in query_keys], "qkey string")
    probes = qk.select(
        "qkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row"),
                        F.pmod(md5_int32(F.col("qkey"), seed=f"cm{j}"), F.lit(width)).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("rb"),
    ).select("qkey", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    est = (
        probes.join(counters, ["row", "bucket"], "left")
        .groupBy("qkey")
        .agg(F.min(F.coalesce("c", F.lit(0))).cast("long").alias("est_n"))
    )
    true_n = (
        df.where(k.isin([str(q) for q in query_keys]) | F.col(key_col).isin(list(query_keys)))
        .groupBy(k.alias("qkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("true_n"))
    )
    return (
        est.join(true_n, "qkey", "left")
        .select(
            "qkey",
            F.coalesce("true_n", F.lit(0)).cast("long").alias("true_n"),
            "est_n",
            (F.col("est_n") - F.coalesce("true_n", F.lit(0))).cast("long").alias("overestimate"),
            (F.col("est_n") >= F.coalesce("true_n", F.lit(0))).cast("long").alias("no_underestimate"),
        )
        .orderBy("qkey")
    )


# quantile_merge_estimates: md5 shards, and the sample budget k of each
# shard's summary.
QMERGE_SHARDS = 32
QMERGE_K = 64


def quantile_merge_estimates(df: DataFrame, key_col: str, value_micro: "F.Column") -> DataFrame:
    """Mergeable QUANTILE summaries (the Agarwal et al. mergeable-summaries
    shape Spark's GK aggregate hides): each shard reduces to a <= k+1-row
    weighted sample (every step-th element in shard value order, weight =
    block size -- a valid eps-summary with per-shard rank error <= step),
    the samples merge by concatenation, and global quantile estimates read
    off the merged cumulative weights.  The gate is the merge THEOREM:
    the true rank of every estimate lands within sum_s(step_s) of its
    target rank, checked against exact ranks counted over the full data.

    Everything is integer arithmetic on md5 shards and micro-quantized
    values, so summaries, estimates, and rank checks replay hash-exactly
    in the oracle (unlike GK internals, which are engine state).

    Scale: the only full-data work is one shuffle to shards (parallel
    per-shard rank windows) and the two rank-count aggregates; merged
    summaries are n_shards*(k+1) rows -- model-sized -- so the global
    cumsum window over them is bounded regardless of corpus size.

    Returns (q_ppm, est_micro, r_lo, r_hi, target_rank, rank_bound,
    within_bound) for p50, p90 and p99.
    """
    n_shards, k = QMERGE_SHARDS, QMERGE_K
    from pyspark.sql import Window

    from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32

    key = F.col(key_col)
    t = df.select(
        value_micro.alias("v"),
        key.alias("key"),
        (md5_int32(key.cast("string"), seed="qmerge") % n_shards).alias("shard"),
    )
    per = t.groupBy("shard").agg(F.count(F.lit(1)).cast("long").alias("ns"))
    per = per.withColumn("step", F.expr(f"CAST((ns + {k - 1}) DIV {k} AS BIGINT)"))
    w_shard = Window.partitionBy("shard").orderBy("v", "key")
    ranked = (
        t.join(F.broadcast(per), "shard")
        .withColumn("rn", F.row_number().over(w_shard).cast("long"))
        .where((F.col("rn") - 1) % F.col("step") == 0)
        .select(
            "shard",
            "v",
            "rn",
            F.least(F.col("step"), F.col("ns") - (F.col("rn") - 1)).alias("w"),
        )
    )
    # merged summary is n_shards*(k+1) rows: the global cumsum window is
    # model-sized by construction (same shape as sampling.py's offsets).
    w_cum = Window.orderBy("v", "shard", "rn").rowsBetween(Window.unboundedPreceding, 0)
    cum = ranked.withColumn("cw", F.sum("w").over(w_cum).cast("long")).select("v", "cw")
    tot = t.agg(F.count(F.lit(1)).cast("long").alias("n"))
    bnd = per.agg(F.sum("step").cast("long").alias("rank_bound"))
    qq = df.sparkSession.createDataFrame([(q,) for q in (500_000, 900_000, 990_000)], "q_ppm long")
    tgt = (
        qq.crossJoin(tot)  # three 1-row totals: the sanctioned crossJoin shape
        .crossJoin(bnd)
        .withColumn("target_rank", F.expr("CAST((q_ppm * n + 999999) DIV 1000000 AS BIGINT)"))
        .select("q_ppm", "target_rank", "rank_bound")
    )
    est = (
        F.broadcast(tgt)
        .join(cum, F.col("cw") >= F.col("target_rank"))
        .groupBy("q_ppm", "target_rank", "rank_bound")
        .agg(F.min("v").alias("est_micro"))
    )
    ranks = (
        t.crossJoin(F.broadcast(est))  # est is 3 rows: per-quantile rank counts in one pass
        .groupBy("q_ppm", "target_rank", "rank_bound", "est_micro")
        .agg(
            F.sum(F.when(F.col("v") < F.col("est_micro"), 1).otherwise(0)).cast("long").alias("r_lo"),
            F.sum(F.when(F.col("v") <= F.col("est_micro"), 1).otherwise(0)).cast("long").alias("r_hi"),
        )
    )
    return ranks.select(
        "q_ppm",
        "est_micro",
        "r_lo",
        "r_hi",
        "target_rank",
        "rank_bound",
        F.when(
            (F.col("r_hi") >= F.col("target_rank") - F.col("rank_bound"))
            & (F.col("r_lo") <= F.col("target_rank") - 1 + F.col("rank_bound")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("within_bound"),
    ).orderBy("q_ppm")
