"""Joins J1-J6 (SURVEY.md par.2.3).

Patterns preserved from the reference:
  * degree-preserving left join + fillna(0)  (YoutubeNetworkAgg_Final.py:122-139)
  * dimension enrichment joins               (run_alsrecs_job.py:138-139)
  * the N+1 driver-side find_one loop (PageRank_Spark_v5.py:148-156) is
    REPLACED by a broadcast-hash join -- same output, distributed mechanics.

Broadcast discipline: every dimension side here is wrapped in
``F.broadcast`` when small, so the big fact side never shuffles for the
join.  AQE can also promote at runtime, but being explicit keeps the 100 TB
plan deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def left_join_fill_zero(base: DataFrame, counts: DataFrame, key: str, fill_cols: list[str]) -> DataFrame:
    """J1/J2: keep zero-degree entities through a left join + fillna(0)."""
    return base.join(counts, key, "left").fillna({c: 0 for c in fill_cols})


def enrich_broadcast(fact: DataFrame, dim: DataFrame, key: str) -> DataFrame:
    """J3/J4/J6: broadcast-hash left enrichment join against a small dimension."""
    return fact.join(F.broadcast(dim), key, "left")


def semi_join(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """EXISTS semi-join (not in the reference; completes the join family)."""
    return left.join(right, key, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, key: str) -> DataFrame:
    """NOT EXISTS anti-join."""
    return left.join(right, key, "left_anti")


def interval_join_binned(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    window_us: int,
) -> DataFrame:
    """Interval (range) join: pair each left row with the right rows of the
    same key whose timestamp falls in ``[left_ts, left_ts + window)``.

    Spark plans the naive ``ON key = key AND r.ts BETWEEN ...`` as a hash
    join on the key followed by a per-key filter -- fine for small keys, but
    a single hot key degenerates to quadratic row pairing.  This is the
    BINNED form: quantize time into window-sized buckets, explode each
    left row to the (at most 2) buckets its window overlaps, and equi-join on (key, bucket) before applying the
    exact range predicate.  The shuffle key becomes (key, time-bucket), so
    a key's rows spread over its whole time range instead of one reducer --
    the property that keeps the join alive at 100 TB event scale.  AQE skew
    split composes on top for residual hot (key, bucket) cells.

    Timestamps compare as integer MICROSECONDS (``unix_micros``) for
    cross-engine determinism (see streaming/events.py sessionize).
    Output: all left columns + all right columns, inner-joined; callers
    wanting degree preservation re-join aggregates to the left base
    (`left_join_fill_zero`).
    """
    lus, rus = F.unix_micros(F.col(left_ts)), F.unix_micros(F.col(right_ts))
    l2 = left.withColumn("_lus", lus).withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col("_lus") / window_us),
                F.floor((F.col("_lus") + F.lit(window_us - 1)) / window_us),
            )
        ),
    )
    r2 = right.withColumn("_rus", rus).withColumn("_bin", F.floor(F.col("_rus") / window_us))
    cond = (
        (l2[left_key] == r2[right_key])
        & (l2["_bin"] == r2["_bin"])
        & (r2["_rus"] >= l2["_lus"])
        & (r2["_rus"] < l2["_lus"] + F.lit(window_us))
    )
    out_cols = [l2[c] for c in left.columns] + [r2[c] for c in right.columns]
    return l2.join(r2, cond, "inner").select(*out_cols)


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    right_vals: list[str],
    tiebreak: str,
) -> DataFrame:
    """As-of (backward) join: each left row enriched with the LATEST right
    row of the same ``key`` whose ``ts`` is at-or-before the left row's.

    Spark has no native as-of join; the naive range join explodes.  This is
    the merge-union formulation: tag sides, union, and take a running
    ``last(ignorenulls)`` of the right payload over
    (key, ORDER BY ts, side, tiebreak) -- ONE shuffle on the key, O(n log n)
    per partition, no row multiplication.  Right rows sort before left rows
    at equal ts (side 0 < 1), giving the <= semantics; ``tiebreak`` (a
    column present in both inputs) makes the winner among equal-ts right
    rows deterministic.

    Output: all left columns + each right payload column as ``<col>_asof``
    (null when no right row precedes the left row).
    """
    ltypes, rtypes = dict(left.dtypes), dict(right.dtypes)
    lcols = left.columns
    l2 = left.select(
        *lcols,
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(rtypes[c]).alias(f"{c}_asof") for c in right_vals],
    )
    r2 = right.select(
        *[F.col(c) if c in (key, ts, tiebreak) else F.lit(None).cast(ltypes[c]).alias(c) for c in lcols],
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"{c}_asof") for c in right_vals],
    )
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts), F.col("_side"), F.col(tiebreak))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = l2.unionByName(r2)
    out = u.select(
        *lcols,
        "_side",
        *[F.last(f"{c}_asof", ignorenulls=True).over(w).alias(f"{c}_asof") for c in right_vals],
    )
    return out.where(F.col("_side") == 1).drop("_side")
