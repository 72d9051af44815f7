"""Regular-grid time-series repair over an irregular event stream.

Feature pipelines and monitoring consume FIXED-step series (one row per
key per hour), but event streams are bursty: hours with no events simply
do not exist in a groupBy output.  ``gap_fill`` materializes the missing
buckets (the per-key time spine) and carries the last observed categorical
state forward -- the standard as-of semantics for features between
observations.

Scale shape (100 TB events):
  * One shuffle: the (key, bucket) pre-aggregate.  Everything after runs
    on bucket-cardinality rows (keys x active-hours), orders of magnitude
    smaller than the event corpus.
  * The spine is GENERATED per key with sequence()+explode from that key's
    (min, max) bucket -- never a cross join against a global calendar
    table, so sparse keys don't pay for the global time range.
  * The forward fill is one per-key window (running last-non-null); state
    per reducer is a single key's spine, bounded by the time range.

Determinism: bucket boundaries are date_trunc (exact), counts are ints,
and the carried state is the MAX event type within the bucket (a total
order, no arrival-order dependence); leading rows can't be NULL because
each key's spine starts at its first ACTIVE bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.session import free, pin


def gap_fill(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    unit: str = "hour",
) -> DataFrame:
    """Fill a per-key bucketed event series to a dense regular grid.

    Returns one row per (key, bucket) for every bucket between the key's
    first and last active bucket inclusive: ``n_events`` (0 on gaps),
    ``is_gap``, and ``carried_type`` -- the bucket's max ``type_col``
    carried forward across gaps (as-of state between observations).
    """
    bucket = F.date_trunc(unit, F.col(ts_col)).alias("bucket")
    active = events.groupBy(F.col(key_col), bucket).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.max(type_col).alias("_type"),
    )
    spine = (
        active.groupBy(key_col)
        .agg(F.min("bucket").alias("_b0"), F.max("bucket").alias("_b1"))
        .select(
            key_col,
            F.explode(F.sequence("_b0", "_b1", F.expr(f"interval 1 {unit}"))).alias("bucket"),
        )
    )
    filled = spine.join(active, [key_col, "bucket"], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        F.col(key_col),
        F.col("bucket"),
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_events"),
        F.col("_n").isNull().alias("is_gap"),
        F.last("_type", ignorenulls=True).over(w).alias("carried_type"),
    )


def seasonal_naive_backtest(
    events: DataFrame,
    ts_col: str,
    group_col: str,
    period_hours: int = 24,
) -> DataFrame:
    """Backtest the seasonal-naive forecaster (predict this hour's count
    with the count from ``period_hours`` earlier) against the observed
    hourly series -- the baseline every real forecasting pipeline must
    beat, and the accuracy-reporting primitive (WAPE) for monitoring it.

    Hours key on exact INTEGER epoch-hours (unix_micros div 3600e6), so
    bucketing and the self-alignment are engine-exact; the error metric is
    WAPE = 1e6 * sum|actual - forecast| DIV sum(actual) -- all int64, no
    float division (MAPE's per-point ratios would need per-row rounding;
    WAPE is the aggregate-safe form).  Only hours where BOTH sides exist
    are scored (inner alignment -- absent hours are gap_fill's job, and
    scoring a missing forecast as 0 would double-count coverage gaps as
    model error; the oracle mirrors the inner join).

    Scale shape: ONE corpus shuffle (the (group, hour) pre-aggregate);
    the self-join and scoring run on bucket-cardinality rows.  Returns
    per group: (group, n_hours, total_actual, total_abs_err, wape_ppm),
    ordered by group.
    """
    # integer DIV, never double-divide-then-cast: a double quotient that
    # rounds up across an integer would flip the bucket (house rule)
    hour = F.expr(f"unix_micros({ts_col}) div 3600000000")
    counts = (
        events.select(F.col(group_col).alias("grp"), hour.alias("h"))
        .groupBy("grp", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    fc = counts.select("grp", (F.col("h") + F.lit(int(period_hours))).cast("long").alias("h"), F.col("n").alias("f"))
    scored = counts.join(fc, ["grp", "h"])  # inner: hours with actual AND forecast
    return (
        scored.groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum("n").cast("long").alias("total_actual"),
            F.sum(F.abs(F.col("n") - F.col("f"))).cast("long").alias("total_abs_err"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_hours",
            "total_actual",
            "total_abs_err",
            F.expr("(1000000 * total_abs_err) DIV total_actual").alias("wape_ppm"),
        )
        .orderBy(group_col)
    )


def acf_ppm(
    events: DataFrame,
    ts_col: str,
    lags: tuple[int, ...] = (1, 2, 3, 24),
) -> DataFrame:
    """Autocorrelation of the global hourly event-count series at fixed
    integer lags -- the seasonality detector behind forecast-model choice
    (a large lag-24 coefficient is what justifies seasonal_naive_backtest's
    period) and the drift monitor for ingest cadence.

    Exactness recipe (the q14/m6 big-int pattern): the series is integer
    counts on a dense integer epoch-hour spine (missing hours are real
    zeros, generated from min/max + range, never collected).  Deviations
    are computed against the UNSCALED mean by clearing the denominator:
    d_t = n_hours * x_t - sum(x)  (exact int64), so
    acf(L) = sum(d_t * d_{t+L}) / sum(d_t^2) exactly, no float mean.
    The cross products can exceed int64 when summed (d ~ 1e9 squared,
    summed over 1e5 hours), so partial sums accumulate in decimal(38,0)
    (HUGEINT in the oracle twin); the final ppm ratio is taken DRIVER-SIDE
    in Python big ints on the lag-count-sized aggregate, truncated toward
    zero so both engines' signed division agrees.

    Scale shape: ONE corpus shuffle (the hour pre-aggregate); the spine
    join, deviation map, and lag self-join all run on hour-cardinality
    rows (calendar-bounded -- ~1e5 rows for a decade, regardless of
    corpus size).  Returns (lag, n_pairs, n_hours, acf_ppm), one row per
    requested lag, ordered by lag.
    """
    spark = events.sparkSession
    hour = F.expr(f"unix_micros({ts_col}) div 3600000000")
    # Materialize the calendar-bounded hour aggregate ONCE: three driver
    # actions follow (bounds, denominator, lag numerators) and each would
    # otherwise re-scan the corpus.  The pin holds ~1e5 rows and truncates
    # lineage (eager, so the single corpus scan happens here).
    hourly = pin(events.select(hour.alias("h")).groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("x")))
    b = hourly.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1"), F.sum("x").cast("long").alias("s")
    ).collect()[0]
    h0, h1, total = int(b["h0"]), int(b["h1"]), int(b["s"])
    n_hours = h1 - h0 + 1
    dev = (
        spark.range(h0, h1 + 1).withColumnRenamed("id", "h")
        .join(hourly, "h", "left")
        .select("h", (F.lit(n_hours) * F.coalesce(F.col("x"), F.lit(0)) - F.lit(total)).alias("d"))
    )
    dec = "decimal(38,0)"
    den_row = dev.agg(F.sum(F.col("d").cast(dec) * F.col("d").cast(dec)).alias("dd")).collect()[0]
    den = max(int(den_row["dd"]), 1)
    shifted = dev.select(
        F.explode(F.array(*[F.lit(int(l)) for l in lags])).alias("lag"),
        F.col("h").alias("h_base"),
        F.col("d").alias("d_lead"),
    ).select("lag", (F.col("h_base") - F.col("lag")).alias("h"), "d_lead")
    nums = (
        dev.join(shifted, "h")
        .groupBy("lag")
        .agg(
            F.sum(F.col("d").cast(dec) * F.col("d_lead").cast(dec)).alias("num"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
        .collect()
    )
    # Release the pinned hour aggregate: the result below is driver-built
    # (model-sized rows), so nothing downstream needs the checkpoint.
    free(hourly)
    rows = []
    for r in nums:
        num = int(r["num"])
        ppm = -((1_000_000 * -num) // den) if num < 0 else (1_000_000 * num) // den
        rows.append((int(r["lag"]), int(r["n_pairs"]), n_hours, ppm))
    rows.sort()
    return spark.createDataFrame(
        rows, "lag bigint, n_pairs bigint, n_hours bigint, acf_ppm bigint"
    )
