"""CDC merge (upsert + delete) -- the lakehouse ingestion primitive.

A naive MERGE full-outer-joins base and updates on the key: a big-big
shuffle of the ENTIRE base table for every incremental batch.  The CDC
batch is almost always orders of magnitude smaller than the base, so this
implements the rewrite-only-what-changed plan instead:

    merged = (base ANTI-JOIN update_keys) UNION (updates minus tombstones)

The anti-join broadcasts the update KEYS (key columns only -- a few bytes
per changed row), so the 100 TB base is scanned once, never shuffled, and
every surviving base row streams straight to the output.  Updated rows,
inserted rows, and deletes all fall out of the same two-branch plan:
matched keys leave via the anti-join, their replacement rows (or nothing,
for tombstones) arrive via the union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.precision import ratio_round


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Row-level MERGE: rows of ``updates`` replace base rows with the same
    key (full-row overwrite, standard MERGE semantics), unmatched update
    rows insert, and rows flagged true in ``delete_col`` (if given) are
    tombstones -- their keys vanish from the result.

    ``updates`` must carry the base schema (plus the optional tombstone
    flag).  The key anti-join is broadcast-hinted: an update batch is
    small next to its base (the normal CDC shape).

    PRECONDITION: ``updates`` must be unique per key.  Standard MERGE
    raises when multiple source rows match one target key; this rewrite
    instead passes every such row through the union, silently emitting
    duplicates.  Compact the CDC batch to last-write-wins per key (e.g. a
    row_number over an ordering column) before calling.
    """
    value_cols = [c for c in base.columns if c not in key_cols]
    if delete_col is not None:
        live = updates.where(~F.coalesce(F.col(delete_col), F.lit(False))).drop(delete_col)
    else:
        live = updates
    touched_keys = F.broadcast(updates.select(*key_cols).distinct())
    kept = base.join(touched_keys, key_cols, "left_anti")
    return kept.unionByName(live.select(*key_cols, *value_cols))


# Epoch-micros for 9999-12-31T00:00:00Z: the open-interval sentinel SCD2
# rows carry instead of NULL (repo invariant: sentinels, not NULLs).
SCD2_OPEN_END_US = 253402214400000000


def scd2_history(
    df: DataFrame,
    key_col: str,
    state_col: str,
    ts_col: str,
    order_tiebreak_col: str,
) -> DataFrame:
    """Slowly-changing-dimension type-2 history build from a change feed:
    per key, collapse consecutive no-change records, then stamp each
    surviving state with its validity interval [valid_from_us, valid_to_us)
    and version number -- the warehouse primitive that turns an event/CDC
    stream into an as-of-queryable dimension (u1's merge keeps only the
    latest row; this keeps the full temporal history).

    Determinism: ordering is (ts, tiebreak) -- equal timestamps are real in
    change feeds, so a tiebreak column is REQUIRED, not optional.  Validity
    bounds are integer epoch micros; the open interval of each key's
    current row ends at the SCD2_OPEN_END_US sentinel (no NULLs).

    Scale: two analytic windows + one row_number, all partitioned by the
    key -- per-reducer state is one key's history, never the table.  No
    joins, no driver-side state.

    Returns (key, state, valid_from_us, valid_to_us, version, is_current).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak_col)
    changed = (
        df.select(
            F.col(key_col),
            F.col(state_col).alias("state"),
            F.col(ts_col),
            F.col(order_tiebreak_col).alias("_tb"),
            F.lag(state_col).over(w).alias("_prev"),
        )
        .where(F.col("_prev").isNull() | (F.col("state") != F.col("_prev")))
    )
    wk = Window.partitionBy(key_col).orderBy(ts_col, "_tb")
    out = changed.select(
        F.col(key_col),
        "state",
        F.unix_micros(F.col(ts_col)).alias("valid_from_us"),
        F.coalesce(
            F.unix_micros(F.lead(ts_col).over(wk)), F.lit(SCD2_OPEN_END_US)
        ).alias("valid_to_us"),
        F.row_number().over(wk).cast("long").alias("version"),
    )
    return out.withColumn("is_current", F.col("valid_to_us") == F.lit(SCD2_OPEN_END_US))


def pit_lookup(
    facts: DataFrame,
    history: DataFrame,
    fact_key: str,
    ts_us: "F.Column",
    key_col: str,
) -> DataFrame:
    """Point-in-time (as-of) dimension lookup: enrich each fact row with
    the :func:`scd2_history` state valid at the fact's timestamp
    (``valid_from_us <= ts_us < valid_to_us``) -- the feature-store /
    warehouse primitive that makes training joins leakage-free (a fact
    must never see dimension attributes from its future).

    Plan shape: LEFT equi-join on the key with the interval test as a
    residual predicate.  Because a key's validity intervals partition the
    timeline (scd2_history construction), every fact matches AT MOST one
    history row -- no row explosion, no dedup pass.  Both sides shuffle
    once on the key; per-key history is version-count-sized, so the
    sort-merge buffers stay small at any corpus size.  Facts before a
    key's first version (or with no history key at all) surface the
    state ``__none__`` / version -1, never NULL (repo invariant).

    ``ts_us`` must be an integer-epoch-micros Column (match the history's
    unix_micros convention; compute it with F.unix_micros under a pinned
    UTC session).
    """
    h = history.select(
        F.col(key_col).alias("_hk"),
        F.col("state").alias("_hstate"),
        "valid_from_us",
        "valid_to_us",
        F.col("version").alias("_hversion"),
    )
    f = facts.withColumn("_ts_us", ts_us)
    joined = f.join(
        h,
        (f["_ts_us"] >= h["valid_from_us"]) & (f["_ts_us"] < h["valid_to_us"]) & (f[fact_key] == h["_hk"]),
        "left",
    )
    return (
        joined.withColumn("state", F.coalesce(F.col("_hstate"), F.lit("__none__")))
        .withColumn("version", F.coalesce(F.col("_hversion"), F.lit(-1)).cast("long"))
        .drop("_hk", "_hstate", "_hversion", "_ts_us", "valid_from_us", "valid_to_us")
    )


AGG_STATE_COLS = ["n_rows", "sum_micro", "min_v", "max_v"]


def agg_state(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """Mergeable aggregate STATE per key: (n_rows, sum_micro, min_v, max_v)
    -- the partial-aggregation buffer materialized as a table.  The sum is
    integer micros (round(value * 1e6) per row summed as long), so states
    merge exactly in any order on any engine; avg derives at read time.
    """
    v = F.col(value_col)
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.round(v * 1e6).cast("long")).cast("long").alias("sum_micro"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    )


def merge_agg_state(state: DataFrame, batch_state: DataFrame, key_cols: list[str]) -> DataFrame:
    """Incremental materialized-aggregate maintenance: fold a new batch's
    aggregate state into the stored state WITHOUT rescanning the base data
    -- the mergeability contract of count/sum/min/max partial buffers
    (what every incremental-view / streaming-state engine relies on).
    ``merge_agg_state(agg_state(base), agg_state(batch)) ==
    agg_state(base UNION batch)`` exactly, because the sum is integer
    micros and count/min/max are order-free.

    Scale: the stored state is key-cardinality-sized (not data-sized); the
    merge is a union of two state tables + one re-aggregate keyed the same
    way.  A 100 TB fact table's daily refresh touches only the batch and
    the state.  Returns the merged state plus derived ``avg_v``.
    """
    merged = (
        state.select(*key_cols, *AGG_STATE_COLS)
        .unionByName(batch_state.select(*key_cols, *AGG_STATE_COLS))
        .groupBy(*key_cols)
        .agg(
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("sum_micro").cast("long").alias("sum_micro"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
    )
    return merged.select(
        *key_cols,
        *AGG_STATE_COLS,
        ratio_round(F.col("sum_micro"), F.col("n_rows") * F.lit(1_000_000), "avg_v"),
    )


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str], compare_cols: list[str]) -> DataFrame:
    """Table-version reconciliation: classify every key as inserted /
    deleted / changed / unchanged between two snapshots, with per-column
    change attribution -- the diff report a data-platform runs after a
    backfill or migration (Delta's DESCRIBE HISTORY companion, computed
    not logged).

    Plan: ONE full-outer join on the key (both sides shuffle-partitioned
    by the same key -- co-located at scale if the snapshots share
    bucketing), row equality via null-safe eqNullSafe per compared column
    (no md5 needed: comparisons stay JVM-side), then a single
    conditional-sum aggregate.  Output one row per status plus
    changed-column counts, fully oracle-replayable.
    """
    # explicit presence markers: a present row with all-null compare
    # columns must still count as present
    o = old.select(*keys, F.lit(1).alias("_o_present"), *[F.col(c).alias(f"_o_{c}") for c in compare_cols])
    n = new.select(*keys, F.lit(1).alias("_n_present"), *[F.col(c).alias(f"_n_{c}") for c in compare_cols])
    j = o.join(n, keys, "full_outer")
    o_present = F.col("_o_present").isNotNull()
    n_present = F.col("_n_present").isNotNull()
    same = None
    for c in compare_cols:
        eq = F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        same = eq if same is None else (same & eq)
    status = (
        F.when(o_present & ~n_present, F.lit("deleted"))
        .when(~o_present & n_present, F.lit("inserted"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    per_col = [
        F.sum(
            F.when(
                (status == "changed") & ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias(f"changed_{c}")
        for c in compare_cols
    ]
    return (
        j.withColumn("status", status)
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"), *per_col)
        .orderBy("status")
    )


def topk_state(df: DataFrame, group_cols: list[str], order_col: str, id_col: str, k: int) -> DataFrame:
    """Per-group top-k rows as a mergeable state table (leaderboard
    materialization): (group, rank, id, value), deterministic
    (value desc, id) order.  Top-k is a mergeable summary: the union of
    two groups' top-k lists always CONTAINS the true top-k of their
    union, so maintenance never rescans history (see merge_topk_state)."""
    w = Window.partitionBy(*group_cols).orderBy(F.col(order_col).desc(), F.col(id_col))
    return (
        df.select(*group_cols, id_col, order_col)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def merge_topk_state(
    state: DataFrame, batch_state: DataFrame, group_cols: list[str], order_col: str, id_col: str, k: int
) -> DataFrame:
    """Fold a batch's top-k state into the standing state WITHOUT
    rescanning base rows: union the two k-bounded lists, re-cut.  Each
    side is at most k rows per group, so the merge shuffles 2k rows per
    group regardless of history size -- the incremental-leaderboard shape
    (i1's mergeable-aggregate argument applied to order statistics;
    equality with a full recompute IS the mergeability proof, gated by
    the i2 oracle)."""
    u = state.select(*group_cols, id_col, order_col).unionByName(
        batch_state.select(*group_cols, id_col, order_col)
    )
    return topk_state(u, group_cols, order_col, id_col, k)


def kmv_state(df: DataFrame, group_cols: list[str], hash_col: str, k: int = 64) -> DataFrame:
    """Per-group KMV cardinality state as a mergeable summary table:
    (group, rank, hv) -- the ``k`` smallest DISTINCT hashes, one row per
    kept hash (i1/i2's state-table convention; se8 is the streaming twin).
    KMV is exactly mergeable: the k smallest of A ∪ B equal the k smallest
    of kmv(A) ∪ kmv(B), so maintenance never rescans history.

    Built as distinct + a group-partitioned rank window (NOT collect_set:
    per-group distinct cardinality is unbounded at 100 TB, and an array
    aggregate would hold it in one buffer; the window streams it)."""
    w = Window.partitionBy(*group_cols).orderBy("hv")
    return (
        df.select(*group_cols, F.col(hash_col).alias("hv"))
        .distinct()
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def merge_kmv_state(state: DataFrame, batch_state: DataFrame, group_cols: list[str], k: int = 64) -> DataFrame:
    """Fold a batch's KMV state into the standing state: union the two
    k-bounded hash lists, dedup, re-cut -- 2k rows per group shuffle,
    history never rescanned."""
    u = state.select(*group_cols, "hv").unionByName(batch_state.select(*group_cols, "hv"))
    return kmv_state(u, group_cols, "hv", k)


def kmv_estimate(state: DataFrame, group_cols: list[str], k: int = 64) -> DataFrame:
    """Collapse a KMV state table to per-group cardinality estimates:
    (group, n_tracked, kth_min, est_distinct) with the same all-integer
    formula as se8 -- (k-1)*2^32 DIV kth_min when full, exact tracked
    count otherwise -- so batch and streaming sketches are comparable
    row-for-row."""
    agg = state.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_tracked"),
        F.max("hv").cast("long").alias("kth_min"),
    )
    est = F.when(
        (F.col("n_tracked") >= k) & (F.col("kth_min") > 0),
        F.expr(f"({k - 1} * 4294967296) DIV kth_min"),
    ).otherwise(F.col("n_tracked"))
    return agg.select(*group_cols, "n_tracked", "kth_min", est.cast("long").alias("est_distinct"))


def refresh_partitions(state: DataFrame, recompute_src: DataFrame, batch: DataFrame, part_col: str, build_state) -> DataFrame:
    """Partition-incremental materialized-view maintenance: recompute ONLY
    the partitions a batch touches, pass every other state row through
    untouched -- the standard incremental-MV pattern when the aggregate is
    partition-local (daily rollups, per-tenant summaries) but not purely
    mergeable row-by-row (or when late data must REPLACE a partition, not
    fold into it).

    ``build_state`` is the MV definition (DataFrame -> state rows).  The
    affected-partition list is batch-bounded and broadcast to BOTH sides:
    the state passthrough is a broadcast anti join, and the recompute
    source is pruned with a broadcast semi join -- on a partitioned table
    that predicate becomes partition pruning, so the refresh reads only
    the touched partitions' data, never the history (i1/i3 are the
    pure-merge alternatives when the aggregate is mergeable)."""
    affected = batch.select(part_col).distinct()
    kept = state.join(F.broadcast(affected), part_col, "left_anti")
    rebuilt = build_state(recompute_src.join(F.broadcast(affected), part_col, "left_semi"))
    return kept.unionByName(rebuilt)
