"""Deterministic hash-based sampling.

``df.sample`` is seed-stable only for a fixed partitioning of a fixed
dataset -- repartition the input (or re-run on a grown table) and the
sampled SET changes.  Training-data pipelines want the opposite: a row's
membership should depend only on the row itself, so samples are
reproducible across runs, engines, partitionings, and incremental loads
(a row once in the 10% sample stays in it forever).

The fix is hashing a stable key: keep a row iff
``md5_int32(key) % denominator < numerator``.  The same predicate is
expressible in the DuckDB oracle (functions/hashing.md5_int32_sql), making
sampled pipelines value-checkable end to end -- something no RNG-based
sample can offer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32


def hash_sample_predicate(key: Column, numerator: int, denominator: int = 1000, seed: int | str = 0) -> Column:
    """Membership predicate: deterministic ~numerator/denominator sample."""
    return F.pmod(md5_int32(key.cast("string"), seed=seed), F.lit(denominator)) < numerator


def hash_sample(df: DataFrame, key_col: str, fraction: float, seed: int | str = 0) -> DataFrame:
    """Deterministic sample of ~``fraction`` of rows, keyed on ``key_col``.

    Membership is a pure function of the key -- stable under repartition,
    re-run, engine change, and table growth.
    """
    denominator = 1_000_000
    numerator = int(round(fraction * denominator))
    return df.where(hash_sample_predicate(F.col(key_col), numerator, denominator, seed))


def token_budget_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    weight_col: str,
    budget_per_stratum: int,
    seed: int | str = 0,
) -> DataFrame:
    """Down-sample each stratum to a target WEIGHT budget (domain mixing).

    The training-data framing: ``weight_col`` is a per-row token count and
    ``budget_per_stratum`` the token allowance per source/domain; strata
    under budget are kept whole, over-budget strata are thinned to
    ~budget/total of their rows with the deterministic hash predicate, so
    the kept SET is a pure function of (key, seed) -- stable across runs,
    engines, and partitionings, and each domain's expected token mass lands
    on its allowance.

    Scale: one hash aggregate over the corpus collects #strata rows to the
    driver (model-sized -- domains number in the hundreds, never the
    billions), the rates return as a broadcast join, and the filter is
    map-side.  No second shuffle of the corpus.

    Rates are quantized to ppm with floor() on a double quotient, the same
    IEEE sequence the DuckDB oracle replays -- no Python-vs-SQL rounding
    divergence.
    """
    import math

    denominator = 1_000_000
    totals = df.groupBy(stratum_col).agg(F.sum(F.col(weight_col)).alias("_total")).collect()
    rates = [
        (row[stratum_col], int(math.floor(min(1.0, budget_per_stratum / row["_total"]) * denominator)))
        for row in totals
    ]
    spark = df.sparkSession
    rate_df = spark.createDataFrame(rates, f"{stratum_col} string, _ppm long")
    h = F.pmod(md5_int32(F.col(key_col).cast("string"), seed=seed), F.lit(denominator))
    return df.join(F.broadcast(rate_df), stratum_col).where(h < F.col("_ppm")).drop("_ppm")


def temperature_mix_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    weight_col: str,
    total_budget: int,
    seed: int | str = 0,
) -> DataFrame:
    """Temperature-flattened source mixture -- the multinomial data-mixing
    rule of multilingual/multi-domain LLM training (mT5/XLM-R alpha
    sampling): stratum s gets target share (mass_s)^(1/T) / sum_t
    (mass_t)^(1/T), so T > 1 upweights rare sources relative to their raw
    share.  Down-sampling only: keep rate_s = min(1, budget * share_s /
    mass_s), membership by the deterministic md5 predicate (same contract
    as hash_sample: a pure function of key+seed).

    Cross-engine exactness: T is fixed at 2 (exponent 0.5) -- sqrt is
    IEEE correctly-rounded on every engine while pow is not, and a pow ulp
    could flip a floor-quantized rate.
    The arithmetic is then all-integer: q_s = floor(sqrt(mass_s) * 1e6)
    (one rounded multiply, identical sequence in DuckDB), Q = sum q_s
    (integer, order-free), rate_ppm_s = min(1e6, (B * q_s * 1e6) //
    (Q * mass_s)) -- exact integer products and floor division (Python
    ints driver-side; the oracle routes through HUGEINT).

    Scale: one hash aggregate collects #strata rows (model-sized), rates
    broadcast back, the filter is map-side -- token_budget_sample's plan.
    Kept rows carry ``rate_ppm`` for mixture reporting.
    """
    import math

    denominator = 1_000_000
    totals = df.groupBy(stratum_col).agg(F.sum(F.col(weight_col)).alias("_t")).collect()
    mass = {row[stratum_col]: int(row["_t"]) for row in totals}
    q = {s: int(math.floor(math.sqrt(m) * denominator)) for s, m in mass.items()}
    big_q = sum(q.values())
    rates = [
        (s, min(denominator, (int(total_budget) * q[s] * denominator) // (big_q * mass[s])))
        for s in sorted(mass)
    ]
    spark = df.sparkSession
    rate_df = spark.createDataFrame(rates, f"{stratum_col} string, rate_ppm long")
    h = F.pmod(md5_int32(F.col(key_col).cast("string"), seed=seed), F.lit(denominator))
    return df.join(F.broadcast(rate_df), stratum_col).where(h < F.col("rate_ppm"))


def pack_sequences(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    seq_len: int,
    bucket_span: int = 1000,
) -> DataFrame:
    """Assign documents to fixed-length training sequences by running token
    offset (greedy contiguous packing in ``id_col`` order): document d
    starts at the cumulative token count of all documents before it, and
    lands in bin ``floor(start / seq_len)``.

    A naive global window (``Window.orderBy(id)``) funnels the whole corpus
    through ONE reducer -- the exact anti-pattern the ANN re-rank fix
    removed.  This is the textbook distributed prefix sum instead:

    1. bucket = floor(id / bucket_span): contiguous, deterministic id
       ranges, each a parallel window partition for the LOCAL cumsum;
    2. per-bucket totals (one map-side-combined aggregate, #buckets rows)
       get their own exclusive cumsum -- the only serial step, over
       model-sized data;
    3. offsets broadcast back and the global offset is map-side addition.

    All-integer arithmetic, so the result is partition- and engine-exact.
    Returns (doc_id, n_tokens, start_offset, bin_id, pos_in_bin).
    """
    from pyspark.sql import Window

    d = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(weight_col).cast("long").alias("n_tokens"),
        F.floor(F.col(id_col) / bucket_span).cast("long").alias("_bucket"),
    )
    w_local = Window.partitionBy("_bucket").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    local = d.withColumn("_local_cum", F.sum("n_tokens").over(w_local))
    w_buckets = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("_bucket")
        .agg(F.sum("n_tokens").alias("_bucket_total"))
        .withColumn("_offset", F.coalesce(F.sum("_bucket_total").over(w_buckets), F.lit(0)).cast("long"))
        .select("_bucket", "_offset")
    )
    start = (F.col("_offset") + F.col("_local_cum") - F.col("n_tokens")).cast("long")
    return (
        local.join(F.broadcast(offsets), "_bucket")
        .withColumn("start_offset", start)
        .select(
            "doc_id",
            "n_tokens",
            "start_offset",
            # integer DIV, not floor(double /): offsets at 100 TB exceed
            # double's 2^53 exact-integer range
            F.expr(f"CAST(start_offset DIV {seq_len} AS BIGINT)").alias("bin_id"),
            F.pmod(F.col("start_offset"), F.lit(seq_len)).cast("long").alias("pos_in_bin"),
        )
    )


def weighted_hash_sample(df: DataFrame, key_col: str, prob_col: Column, seed: int | str = 0) -> DataFrame:
    """Per-row probabilistic keep with row-specific probability
    ``prob_col`` (e.g. a quality score in [0, 1]) -- soft curation: good
    documents survive with high probability, bad ones rarely, and the
    decision is a PURE FUNCTION of (key, seed, probability), so the kept
    set is reproducible across runs, engines, and partitionings (unlike
    rand()-based importance sampling, which no oracle can replay).

    Probabilities are floor-quantized to ppm (the token_budget_sample
    recipe) and compared against the md5 hash lane: keep iff
    ``md5(key) % 1e6 < floor(clamp(p, 0, 1) * 1e6)``.  Map-side only.
    """
    denominator = 1_000_000
    p = F.least(F.greatest(prob_col, F.lit(0.0)), F.lit(1.0))
    ppm = F.floor(p * denominator).cast("long")
    h = F.pmod(md5_int32(F.col(key_col).cast("string"), seed=seed), F.lit(denominator))
    return df.where(h < ppm)


def group_example_sample(df: DataFrame, key_col: str, stratum_col: str, n: int, seed: int | str = 0) -> DataFrame:
    """Deterministic per-stratum examples: the ``n`` rows with the smallest
    (md5-hash, key) per stratum -- the stable "show me N examples from
    every domain" primitive (debugging, eval-set seeding, labeling).
    Membership is a pure function of (key, seed): stable across runs,
    engines, partitionings, and table growth ONLY shrinks a stratum's
    sample churn to genuinely-smaller hashes.

    Two-stage exact top-n (the ANN _topk_per_query recipe): a map-side
    partial top-n per (input partition, stratum) bounds the shuffle at
    num_partitions * n rows per stratum, so a billion-row stratum never
    funnels through one reducer; the final window ranks the bounded
    survivors.  Returns (stratum, key, sample_rank).
    """
    from pyspark.sql import Window

    keyed = df.select(
        F.col(stratum_col).alias("_stratum"),
        F.col(key_col).alias("_key"),
        md5_int32(F.col(key_col).cast("string"), seed=seed).alias("_h"),
    )
    part = (
        keyed.groupBy(F.spark_partition_id().alias("_pid"), "_stratum")
        .agg(F.slice(F.sort_array(F.collect_list(F.struct("_h", "_key"))), 1, n).alias("_top"))
        .select("_stratum", F.explode("_top").alias("_t"))
        .select("_stratum", F.col("_t._key").alias("_key"), F.col("_t._h").alias("_h"))
    )
    w = Window.partitionBy("_stratum").orderBy("_h", "_key")
    return (
        part.withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= n)
        .select(
            F.col("_stratum").alias(stratum_col),
            F.col("_key").alias(key_col),
            F.col("sample_rank").cast("long").alias("sample_rank"),
        )
    )


def stratified_hash_sample(df: DataFrame, key_col: str, stratum_col: str, fractions: dict, seed: int | str = 0) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample 'en' to 10%,
    keep 'yo' at 100%) -- the language-rebalancing step of corpus curation.
    Strata missing from ``fractions`` are dropped (explicit is safer than a
    silent keep-all default)."""
    denominator = 1_000_000
    h = F.pmod(md5_int32(F.col(key_col).cast("string"), seed=seed), F.lit(denominator))
    pred = F.lit(False)
    for stratum, fraction in sorted(fractions.items()):
        pred = pred | ((F.col(stratum_col) == stratum) & (h < int(round(fraction * denominator))))
    return df.where(pred)


def training_shuffle(df: DataFrame, id_col: str, n_shards: int = 8, seed: int | str = 0) -> DataFrame:
    """Deterministic global training-order shuffle + round-robin sharding:
    every document gets a position in an md5-seeded permutation of the
    corpus and a shard assignment -- the randomize-then-shard step before
    writing training shards, reproducible across engines and runs (change
    ``seed`` per epoch for a fresh permutation).

    The global rank is the same distributed prefix-sum shape as
    pack_sequences (a naive ``row_number() over (order by key)`` funnels
    100 TB through ONE reducer):

    1. bucket = first 2 hex chars of the md5 key -- 256 contiguous KEY
       ranges, uniformly sized because md5 is uniform; each is a parallel
       window partition for the local rank (4 chars would give 65k as the
       corpus grows);
    2. per-bucket counts get the only serial cumsum, over 256 rows;
    3. offsets broadcast back; global rank = offset + local rank, map-side.

    Round-robin (``rank % n_shards``) keeps shard sizes balanced to +/-1
    doc by construction, not in expectation.  Returns
    (doc_id, ord_rank, shard, pos_in_shard).
    """
    from pyspark.sql import Window

    key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    d = df.select(F.col(id_col).alias("doc_id")).withColumn("_key", key).withColumn(
        "_bucket", F.substring("_key", 1, 2)
    )
    # _bucket is a PREFIX of _key, so (bucket asc, key asc) == global key order.
    w_local = Window.partitionBy("_bucket").orderBy("_key", "doc_id")
    local = d.withColumn("_local_rank", F.row_number().over(w_local))
    w_buckets = Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn("_offset", F.coalesce(F.sum("_n").over(w_buckets), F.lit(0)).cast("long"))
        .select("_bucket", "_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_bucket")
        .withColumn("ord_rank", (F.col("_offset") + F.col("_local_rank") - 1).cast("long"))
        .select(
            "doc_id",
            "ord_rank",
            F.pmod(F.col("ord_rank"), F.lit(n_shards)).cast("long").alias("shard"),
            F.expr(f"CAST(ord_rank DIV {n_shards} AS BIGINT)").alias("pos_in_shard"),
        )
    )


def leakage_safe_split(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Train/val/test split that can NEVER leak duplicates across splits:
    the split key is the md5 of the NORMALIZED TEXT (the exact-dup group
    key from dedup.exact_duplicates), not the row id, so every member of
    a duplicate group lands in the same split by construction -- the
    failure mode this prevents (eval rows whose twins sit in train,
    inflating benchmark scores) is exactly the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" eval-leak
    finding.

    Buckets: md5("split":text_key) % 10 -> val takes bucket 0, test
    bucket 1, train the rest.  Deterministic and engine-replayable like every md5 sample
    here.

    Output: one row per split (split, n_docs, n_groups, n_tokens) plus
    the machine-checked invariant n_leaky_groups -- the count of text
    keys observed in MORE THAN ONE split, zero by construction, but
    COMPUTED, not asserted, so the oracle check would catch a broken
    bucketing.

    Scale: two key-sized hash aggregates (per-split stats and the
    key->distinct-split probe); text never shuffles.
    """
    from youtubeanalyzerproject_big_data__spark.functions.textfns import normalize, token_count

    key = F.md5(normalize(F.col(text_col)))
    bucket = md5_int32(key, "split") % 10
    split = (
        F.when(bucket < 1, F.lit("val"))
        .when(bucket < 2, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        key.alias("_key"),
        split.alias("split"),
        token_count(F.col(text_col)).alias("_ntok"),
    )
    stats = base.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("_key").cast("long").alias("n_groups"),
        F.sum("_ntok").cast("long").alias("n_tokens"),
    )
    leaky = (
        base.groupBy("_key")
        .agg(F.countDistinct("split").alias("_ns"))
        .agg(F.coalesce(F.sum(F.when(F.col("_ns") > 1, 1).otherwise(0)), F.lit(0)).cast("long").alias("n_leaky_groups"))
    )
    return stats.crossJoin(F.broadcast(leaky)).orderBy("split")


def target_mix_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    weight_col: str,
    targets_ppm: dict,
    total_budget: int,
    seed: int | str = 0,
) -> DataFrame:
    """Match-the-target mixture sampling: given EXPLICIT target shares per
    stratum (parts-per-million, the DoReMi/"data mixing laws" deployment
    shape -- domain weights come from an optimizer or a reference model,
    not a closed-form rule like c9's temperature flattening), down-sample
    each stratum to its share of ``total_budget``.

    All-integer: desired_s = (budget * target_ppm_s) // 1e6, rate_ppm_s =
    min(1e6, desired_s * 1e6 // mass_s) (exact Python-int driver
    arithmetic, HUGEINT in the oracle); membership is the md5 predicate.
    Strata missing from ``targets_ppm`` get rate 0 (explicitly excluded
    -- a target mixture is a whitelist).

    Scale: identical plan to temperature_mix_sample -- one model-sized
    aggregate, broadcast rates, map-side filter.  Kept rows carry
    ``rate_ppm``.
    """
    denominator = 1_000_000
    totals = df.groupBy(stratum_col).agg(F.sum(F.col(weight_col)).alias("_t")).collect()
    mass = {row[stratum_col]: int(row["_t"]) for row in totals}
    rates = []
    for s in sorted(mass):
        t_ppm = int(targets_ppm.get(s, 0))
        desired = (int(total_budget) * t_ppm) // denominator
        rates.append((s, min(denominator, (desired * denominator) // mass[s]) if mass[s] > 0 else 0))
    spark = df.sparkSession
    rate_df = spark.createDataFrame(rates, f"{stratum_col} string, rate_ppm long")
    h = F.pmod(md5_int32(F.col(key_col).cast("string"), seed=seed), F.lit(denominator))
    return df.join(F.broadcast(rate_df), stratum_col).where(h < F.col("rate_ppm"))


def exact_k_sample(df: DataFrame, key_col: str, k: int, seed: int | str = 0) -> DataFrame:
    """EXACT-k deterministic uniform sample: the k rows whose keyed md5
    rank lowest -- the fixed-size eval-set / human-review draw (where
    hash_sample's rate form gives only an EXPECTED size).

    Ranking by a pure key hash makes the chosen SET a function of
    (keys, seed) alone -- stable under repartition, re-run, engine, and
    insertion order -- and uniform because md5 is equidistributed over
    keys.  ORDER BY hash LIMIT k compiles to TakeOrderedAndProject:
    each partition keeps a k-sized heap and the driver merges P*k rows,
    so there is NO global sort and no corpus shuffle at any scale.
    (key ascending breaks the measure-zero hash-collision tie.)
    """
    h = md5_int32(F.col(key_col).cast("string"), seed=seed)
    return df.orderBy(h.asc(), F.col(key_col).asc()).limit(k)
