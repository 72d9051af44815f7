"""Skew mitigation: salted two-phase aggregation.

AQE's skew-join splitting (enabled in session.py) handles skewed JOINS at
runtime, but a groupBy on a power-law key still funnels each hot key into
one reducer.  The classic fix is salting: spread each key over
``num_salts`` sub-keys for a partial aggregate, then combine partials in a
second (cheap) aggregate keyed by the original key.

Spark's HashAggregateExec already does map-side partial aggregation, which
covers MOST of what salting gives you -- the partial combine happens before
the shuffle.  Salting still wins when the per-key STATE is large (e.g.
collect_list / distinct-count buffers too big for one reducer task), which
is exactly when you should reach for these helpers.  For plain
count/sum/min/max, prefer the straight groupBy and let partial aggregation
do its job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, num_salts: int, salt_col: str = "_salt") -> DataFrame:
    """Deterministic per-row salt in [0, num_salts): derived from a hash of
    the whole row (monotonically_increasing_id would break retry/replay
    determinism)."""
    return df.withColumn(salt_col, F.pmod(F.xxhash64(F.struct(*df.columns)), F.lit(num_salts)).cast("int"))


def salted_agg(
    df: DataFrame,
    key: str,
    partial_aggs: list[Column],
    final_aggs: list[Column],
    num_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation over a skewed key.

    ``partial_aggs`` run per (key, salt); ``final_aggs`` combine the salted
    partials per key (e.g. partial ``count -> c`` then final ``sum(c)``).
    Both phases are single shuffles; the first spreads a hot key over
    ``num_salts`` reducers.
    """
    salted = with_salt(df, num_salts)
    partial = salted.groupBy(key, "_salt").agg(*partial_aggs)
    return partial.groupBy(key).agg(*final_aggs)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    num_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Salted/replicated equi-join for skewed keys (keys must be named
    differently on the two sides, like operators.joins.interval_join_binned).

    The LEFT (big, skewed) side gets a deterministic row-hash salt in
    [0, num_salts); the RIGHT side is replicated once per salt value.
    Joining on (key, salt) spreads a hot key's rows over ``num_salts``
    reducers instead of one, at the cost of num_salts x the right side's
    shuffle volume -- reach for this when the right side is too big (or
    too skew-paired) to broadcast and AQE's runtime skew splitting isn't
    available (e.g. the shuffle feeds a co-partitioned downstream op,
    which disables AQE skew handling).

    Answer equivalence: a left row carries exactly ONE salt and meets
    exactly the one replica of its key with that salt, so join
    multiplicity is unchanged -- the plan changes, the answer doesn't
    (machine-checked by sk2's plain-join oracle).  Works for 'inner' and
    'left' joins; right-side duplication semantics are preserved because
    EVERY right row is replicated across the full salt domain.
    """
    lsalt = with_salt(left, num_salts, "_lsalt")
    rrep = right.withColumn("_rsalt", F.explode(F.array(*[F.lit(i).cast("int") for i in range(num_salts)])))
    cond = (F.col(left_key) == F.col(right_key)) & (F.col("_lsalt") == F.col("_rsalt"))
    return lsalt.join(rrep, cond, how).drop("_lsalt", "_rsalt")
