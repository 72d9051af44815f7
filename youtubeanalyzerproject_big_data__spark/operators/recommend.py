"""ALS recommendation pipeline M1-M4 + re-nesting A7/J3/J4
(SURVEY.md par.2.8; reference: Milestone4SourceCode.zip!.../run_alsrecs_job.py).

Pipeline shape preserved: na.drop -> optional sample(fraction, seed=42) ->
StringIndexer x2 -> metadata strip (task-size fix, run_alsrecs_job.py:12-22)
-> ALS(maxIter=10, regParam=0.1, coldStartStrategy='drop') ->
recommendForUserSubset(500 users, 5 recs) -> explode -> broadcast dim joins
-> deterministic re-nest.

Determinism upgrades over the reference: ALS seed is fixed, and the re-nest
uses sort_array instead of order-nondeterministic collect_list
(SURVEY.md par.5 caveats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.session import pin


def strip_metadata(df: DataFrame) -> DataFrame:
    """M2: rebuild schema without StringIndexer label metadata so ALS task
    binaries stay small (run_alsrecs_job.py:12-22)."""
    return df.select([F.col(c).alias(c) for c in df.columns])


def build_ratings(df: DataFrame, user_col: str, item_col: str, rating_col: str, sample_fraction: float | None = None) -> DataFrame:
    """M1: string-indexed (user, item, rating) matrix.

    Uses dense_rank-free StringIndexer like the reference
    (run_alsrecs_job.py:62-74); drops null users/ratings first (F7).
    """
    from pyspark.ml.feature import StringIndexer

    clean = df.na.drop(subset=[user_col, rating_col]).select(user_col, item_col, rating_col)
    if sample_fraction:
        clean = clean.sample(fraction=sample_fraction, seed=42)  # S11
    # Each StringIndexer.fit is a full scan; cache the cleaned input so the
    # two fits + downstream transform don't re-run the upstream join/sample.
    clean = clean.cache()
    idx_u = StringIndexer(inputCol=user_col, outputCol="user_idx", handleInvalid="skip")
    idx_i = StringIndexer(inputCol=item_col, outputCol="item_idx", handleInvalid="skip")
    out = idx_u.fit(clean).transform(clean)
    out = idx_i.fit(out).transform(out)
    out = out.select(
        F.col("user_idx").cast("int"),
        F.col("item_idx").cast("int"),
        F.col(rating_col).cast("double").alias("rating"),
        F.col(user_col).alias("user_label"),
        F.col(item_col).alias("item_label"),
    )
    # Pin the indexed ratings once (ALS fit + the dim-reduction joins in
    # recommend_for_users all re-read them), then release the cached input
    # so repeated pipeline runs in one session don't accumulate storage.
    return pin(strip_metadata(out), clean)


def train_als(
    ratings: DataFrame,
    max_iter: int = 10,
    reg_param: float = 0.1,
    rank: int = 10,
    seed: int = 42,
    num_blocks: int | None = None,
):
    """M3: reference hyper-params (run_alsrecs_job.py:84-93) + fixed seed.

    ``num_blocks`` controls ALS's user/item blocking (default 10): each
    iteration runs one stage per block pair, so oversized block counts on
    small ratings matrices are pure scheduling overhead, while undersized
    ones cap parallelism on big ones.  Rule of thumb: rows / ~20k, clamped
    to the cluster's parallelism.
    """
    from pyspark.ml.recommendation import ALS

    als = ALS(
        maxIter=max_iter,
        regParam=reg_param,
        rank=rank,
        userCol="user_idx",
        itemCol="item_idx",
        ratingCol="rating",
        coldStartStrategy="drop",
        seed=seed,
    )
    if num_blocks is not None:
        als = als.setNumUserBlocks(num_blocks).setNumItemBlocks(num_blocks)
    return als.fit(ratings.select("user_idx", "item_idx", "rating"))


def recommend_for_users(
    model, ratings: DataFrame, n_users: int = 500, n_recs: int = 5
) -> DataFrame:
    """M4 + A7/J3/J4: top-n_recs items for a deterministic user subset,
    labels re-attached via broadcast joins (replacing the reference's N+1
    find_one loop, run_pagerank_job.py:124-140), re-nested deterministically.

    Returns (user_idx, user_label, recommendations array<string>): the
    bounded n_users-row result, pinned, with the internal recs cache
    released so long-lived serving sessions don't accumulate executor
    storage.
    """
    users = ratings.select("user_idx").distinct().orderBy("user_idx").limit(n_users)
    recs = model.recommendForUserSubset(users, n_recs)
    exploded = recs.select("user_idx", F.explode("recommendations").alias("rec")).select(
        "user_idx", F.col("rec.item_idx").alias("item_idx"), F.col("rec.rating").alias("score")
    )
    # Reused three times below (two key extractions + the final join);
    # bounded at n_users * n_recs rows, so caching is cheap and avoids
    # re-running the model transform.
    exploded = exploded.cache()
    # Broadcast DIRECTION matters at scale: the full user/item dims are
    # distinct over ALL ratings -- unbounded -- while the exploded rec side
    # is n_users * n_recs rows.  Broadcasting the dims works at bench scale
    # and OOMs at 100x.  Instead broadcast the SMALL key sets into a
    # left-semi reduction of each dim, then the reduced dims (<= n_users *
    # n_recs rows each) are safely broadcastable into the enrichment joins.
    item_keys = exploded.select("item_idx").distinct()
    user_keys = exploded.select("user_idx").distinct()
    item_dim = (
        ratings.select("item_idx", "item_label").join(F.broadcast(item_keys), "item_idx", "left_semi").distinct()
    )
    user_dim = (
        ratings.select("user_idx", "user_label").join(F.broadcast(user_keys), "user_idx", "left_semi").distinct()
    )
    enriched = exploded.join(F.broadcast(item_dim), "item_idx", "left").join(
        F.broadcast(user_dim), "user_idx", "left"
    )
    result = (
        enriched.groupBy("user_idx")
        .agg(
            F.first("user_label").alias("user_label"),
            F.sort_array(F.collect_list(F.struct(F.col("score"), F.col("item_label"))), asc=False).alias("_recs"),
        )
        .select(
            "user_idx",
            "user_label",
            F.transform("_recs", lambda r: r.getField("item_label")).alias("recommendations"),
        )
    )
    return pin(result, exploded)
