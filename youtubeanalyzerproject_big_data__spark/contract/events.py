"""Event-log queries (e) and their Structured Streaming twins (se)."""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.hashing import md5_int32, md5_int32_sql
from youtubeanalyzerproject_big_data__spark.functions import precision
from youtubeanalyzerproject_big_data__spark.io import load_events, load_table
from youtubeanalyzerproject_big_data__spark.operators import aggregates as agg, joins
from youtubeanalyzerproject_big_data__spark.streaming import events as ev
from youtubeanalyzerproject_big_data__spark.session import scratch_dir as _scratch_dir
from youtubeanalyzerproject_big_data__spark.contract import _utc, query
from youtubeanalyzerproject_big_data__spark.contract._sql import _davg, _dratio, _dsum


# Path replay: identical lag/gap/session-number windows on integer
# micros; string_agg with the same (ts, event_id) order.
@query("e8_session_paths", oracle="""
            WITH g AS (
              SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS tus,
                     LAG(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS prev
              FROM events),
            s AS (SELECT *, CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS ns FROM g),
            sn AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                           ROWS UNBOUNDED PRECEDING) AS sess FROM s),
            p AS (SELECT user_id, sess, string_agg(event_type, '>' ORDER BY tus, event_id) AS path
                  FROM sn GROUP BY user_id, sess)
            SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
            FROM p GROUP BY path ORDER BY n_sessions DESC, path LIMIT 20
        """)
def q_e8(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 session paths: ordered event-type sequences per 1800s-gap
    session, counted corpus-wide (streaming/events.session_paths) -- the
    product-analytics path/flow report."""
    _utc(spark)
    return ev.session_paths(load_events(spark, sf), gap_seconds=1800, k=20)


# Transition replay: same lag over (epoch-micros, event_id) order;
# p is the exact integer ratio rounded identically.
@query("e9_transition_matrix", oracle=f"""
            WITH o AS (
              SELECT user_id, event_type,
                     LAG(event_type) OVER (PARTITION BY user_id
                                           ORDER BY epoch_ns(ts) // 1000, event_id) AS from_type
              FROM events),
            c AS (SELECT from_type, event_type AS to_type,
                         CAST(COUNT(*) AS BIGINT) AS n_transitions
                  FROM o WHERE from_type IS NOT NULL GROUP BY 1, 2)
            SELECT from_type, to_type, n_transitions,
                   {_dratio('n_transitions', 'CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)')} AS p
            FROM c
        """)
def q_e9(spark: SparkSession, sf: str) -> DataFrame:
    """Event-type transition matrix: per-user time-ordered event pairs
    (lag window, (ts, event_id) tiebreak) counted into (from_type,
    to_type, n_transitions, p) with p = n / out-transitions-from-from_type
    -- the Markov-chain view of user behavior (what follows a view? how
    often does click lead to purchase?).  One user-partitioned window +
    two hash aggregates; p is an exact integer ratio rounded to 6."""
    _utc(spark)
    e = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("from_type", F.lag("event_type").over(w))
        .where(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )
    w_from = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n_transitions",
        precision.ratio_round(F.col("n_transitions"), F.sum("n_transitions").over(w_from), "p"),
    ).orderBy("from_type", "to_type")


# Cohort replay: dates from nanos timestamps truncate identically
# (flooring ns->us never crosses a day boundary).
@query("e6_cohort_retention", oracle="""
            WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_date FROM events GROUP BY user_id),
            a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
            SELECT cohort_date, CAST(day - cohort_date AS BIGINT) AS day_offset,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM a JOIN f USING (user_id)
            GROUP BY cohort_date, day_offset
        """)
def q_e6(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted on each
    later active day offset -- the classic product-analytics retention
    matrix in long form.  Two hash aggregates + one join on user_id; the
    (user, day) distinct collapses each user's events per day map-side."""
    _utc(spark)
    e = load_events(spark, sf)
    first = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_date"))
    active = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    return (
        active.join(first, "user_id")
        .select("cohort_date", F.datediff("day", "cohort_date").cast("long").alias("day_offset"))
        .groupBy("cohort_date", "day_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


# Decay replay: integer epoch-micros age, double exp() term
# floor-quantized to micros BEFORE the per-user integer sum -- the
# unigram-logprob recipe for order-invariant float reductions.
@query("e7_decayed_engagement", oracle="""
            WITH m AS (SELECT MAX(epoch_ns(ts) // 1000) AS t_ref FROM events),
            t AS (
              SELECT user_id,
                     CAST(floor(value * exp(-(CAST(t_ref - (epoch_ns(ts) // 1000) AS DOUBLE)
                                              / CAST(604800000000 AS DOUBLE))) * 1e6) AS BIGINT) AS trm
              FROM events, m)
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(trm) AS BIGINT) AS engagement_micro,
                   (CAST(SUM(trm) AS BIGINT) / 1000000.0) AS engagement
            FROM t GROUP BY user_id
        """)
def q_e7(spark: SparkSession, sf: str) -> DataFrame:
    """Time-decayed per-user engagement: sum of value * exp(-age/tau) at
    the corpus reference time (tau = 7 days) -- the recency-weighted
    scoring a freshness-aware pipeline uses.  No sequential dependence:
    each event's decayed term is a map-side expression, INTEGER-quantized
    (floor * 1e6) before the per-user sum so the reduction is exact in any
    order/engine; the reference time is one scalar aggregate.

    Residual risk (documented, accepted): exp() comes from JVM Math.exp on
    one side and DuckDB's libm on the other, neither correctly rounded; a
    term within an ulp of an integer micro boundary can floor differently
    (~1e-10/row, grows with SF).  Green at every tested SF; if it ever
    trips, gate engagement_micro with +/-1 micro tolerance."""
    _utc(spark)
    e = load_events(spark, sf)
    t_ref = e.agg(F.max(F.unix_micros("ts"))).collect()[0][0]
    tau_us = 7 * 86400 * 1_000_000
    age = (F.lit(int(t_ref)) - F.unix_micros("ts")).cast("double") / F.lit(float(tau_us))
    term = F.floor(F.col("value") * F.exp(-age) * 1e6).cast("long")
    return (
        e.select("user_id", term.alias("t"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("t").cast("long").alias("engagement_micro"),
        )
        .select(
            "user_id",
            "n_events",
            "engagement_micro",
            (F.col("engagement_micro").cast("double") / F.lit(1e6)).alias("engagement"),
        )
    )


# Conversion-latency replay: per-step first-event minima, micro
# arithmetic, quantile_cont FILTER for the converting subset.
@query("e10_conversion_latency", oracle="""
            WITH us AS (SELECT user_id AS u, epoch_ns(ts) // 1000 AS ts_us, event_type AS et FROM events),
            f AS (SELECT u, MIN(ts_us) AS t0 FROM us WHERE et = 'signup' GROUP BY u),
            t AS (SELECT u, MIN(ts_us) AS t1 FROM us WHERE et = 'purchase' GROUP BY u),
            l AS (SELECT f.u, t0, t1, t1 - t0 AS dt FROM f LEFT JOIN t USING (u))
            SELECT CAST(COUNT(*) AS BIGINT) AS n_from_users,
                   CAST(SUM(CASE WHEN t1 IS NOT NULL AND dt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
                   CAST(COALESCE(floor(quantile_cont(dt, 0.25) FILTER (t1 IS NOT NULL AND dt > 0)), -1) AS BIGINT) AS p25_us,
                   CAST(COALESCE(floor(quantile_cont(dt, 0.50) FILTER (t1 IS NOT NULL AND dt > 0)), -1) AS BIGINT) AS p50_us,
                   CAST(COALESCE(floor(quantile_cont(dt, 0.75) FILTER (t1 IS NOT NULL AND dt > 0)), -1) AS BIGINT) AS p75_us,
                   CAST(COALESCE(floor(CAST(SUM(dt) FILTER (t1 IS NOT NULL AND dt > 0) AS BIGINT)
                                       / CAST(GREATEST(SUM(CASE WHEN t1 IS NOT NULL AND dt > 0 THEN 1 ELSE 0 END), 1) AS DOUBLE)),
                                 -1) AS BIGINT) AS mean_us
            FROM l
        """)
def q_e10(spark: SparkSession, sf: str) -> DataFrame:
    """Signup-to-purchase conversion latency (streaming/events.
    conversion_latency): first-event min-aggregates per step, integer
    epoch-micro arithmetic, exact latency quartiles + integer mean, -1
    sentinels when nobody converts -- f11's "how long" companion."""
    _utc(spark)
    return ev.conversion_latency(load_events(spark, sf), "signup", "purchase")


@query("e13_traffic_matrix", oracle=f"""
            WITH c AS (
              SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
                     CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
                     CAST(COUNT(*) AS BIGINT) AS n_events
              FROM events GROUP BY 1, 2),
            t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM c)
            SELECT dow, hour, n_events, {_dratio('n_events', 't.total')} AS share
            FROM c, t ORDER BY dow, hour
        """)
def q_e13(spark: SparkSession, sf: str) -> DataFrame:
    """Traffic seasonality matrix: day-of-week x hour-of-day event
    intensity (counts + exact-ratio share) -- the heatmap a capacity
    planner reads.  DOW convention pinned Sunday=1 on both engines
    (Spark dayofweek is 1-based Sunday, DuckDB dayofweek is 0-based
    Sunday -> +1 in the oracle); UTC session."""
    _utc(spark)
    e = load_events(spark, sf)
    cells = e.groupBy(
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    total = cells.agg(F.sum("n_events")).collect()[0][0]
    return cells.withColumn("share", precision.ratio_round(F.col("n_events"), F.lit(int(total)))).orderBy(
        "dow", "hour"
    )


@query("e1_events_hourly", bench=True, oracle=f"""
            SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS num_events,
                   {_dsum('value')} AS sum_value, {_davg('value')} AS avg_value
            FROM events GROUP BY 1, 2
        """)
def q_e1(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window aggregation (batch twin of the streaming query)."""
    _utc(spark)
    return ev.hourly_event_stats(load_events(spark, sf))


# Gap compares integer MICROSECONDS on both sides (engine:
# unix_micros; here: nanos floor-divided to micros, matching the
# engine's nanos->us normalization in io.load_events) -- second-level
# epoch() rounds vs truncates differently across engines.
@query("e2_sessionize", bench=True, oracle="""
            WITH g AS (
              SELECT user_id, ts, event_id,
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_ts
              FROM events),
            s AS (
              SELECT user_id,
                     CASE WHEN prev_ts IS NULL
                               OR ((epoch_ns(ts) // 1000)
                                   - (epoch_ns(prev_ts) // 1000)) > 1800000000
                          THEN 1 ELSE 0 END AS new_session
              FROM g)
            SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
            FROM s GROUP BY user_id
        """)
def q_e2(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization with 30-min gaps (lag window)."""
    _utc(spark)
    return ev.sessionize(load_events(spark, sf), gap_seconds=1800)


# e16: COUNT(DISTINCT) OVER via the first-occurrence rewrite.
@query("e16_cumulative_uniques", bench=True, oracle="""
            WITH f AS (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id),
            p AS (SELECT date_trunc('hour', first_ts) AS hour,
                         CAST(COUNT(*) AS BIGINT) AS new_users
                  FROM f GROUP BY 1)
            SELECT hour, new_users,
                   CAST(SUM(new_users) OVER (ORDER BY hour
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
            FROM p ORDER BY hour
        """)
def q_e16(spark: SparkSession, sf: str) -> DataFrame:
    """Cumulative distinct users per hour -- COUNT(DISTINCT) OVER, which
    Spark windows cannot express, rewritten as the FIRST-OCCURRENCE trick
    that scales: min(ts) per user (one user-keyed shuffle), new-user
    counts per hour, then a cumulative sum over the hour-count-sized
    series (the only unpartitioned window runs on model-sized rows).  The
    growth-dashboard primitive; a naive per-hour distinct-over-history
    recount is quadratic in history length."""
    _utc(spark)
    e = load_events(spark, sf).select("user_id", "ts")
    first = e.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    per_hour = first.groupBy(F.date_trunc("hour", F.col("first_ts")).alias("hour")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    return per_hour.withColumn("cum_users", F.sum("new_users").over(w).cast("long")).orderBy(
        "hour"
    )


# As-of oracle: same merge-union + running-last shape, with ts
# truncated to MICROSECONDS to match the engine's nanos->us events
# normalization (io.load_events) -- ordering must agree exactly.
@query("e3_asof_attribution", bench=True, oracle="""
            WITH u AS (
              SELECT event_id, user_id, (epoch_ns(ts) // 1000) AS tsu,
                     1 AS side, CAST(NULL AS BIGINT) AS r_event_id, CAST(NULL AS DOUBLE) AS r_value
              FROM events WHERE event_type = 'purchase'
              UNION ALL
              SELECT event_id, user_id, (epoch_ns(ts) // 1000),
                     0, event_id, value
              FROM events WHERE event_type = 'view'
            ),
            w AS (
              SELECT event_id, user_id, side,
                     last_value(r_event_id IGNORE NULLS) OVER win AS prior_view_id,
                     last_value(r_value IGNORE NULLS) OVER win AS prior_view_value
              FROM u
              WINDOW win AS (PARTITION BY user_id ORDER BY tsu, side, event_id ROWS UNBOUNDED PRECEDING)
            )
            SELECT event_id, user_id,
                   COALESCE(prior_view_id, -1) AS prior_view_id,
                   COALESCE(prior_view_value, -1.0) AS prior_view_value
            FROM w WHERE side = 1
        """)
def q_e3(spark: SparkSession, sf: str) -> DataFrame:
    """As-of backward join (attribution): each purchase matched to the same
    user's most recent at-or-before view.  Merge-union + running last
    implementation -- one shuffle, no range-join explosion."""
    ev = load_events(spark, sf)
    left = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts", "value")
    right = ev.where(F.col("event_type") == "view").select("event_id", "user_id", "ts", "value")
    out = joins.asof_join_backward(left, right, "user_id", "ts", ["event_id", "value"], "event_id")
    # no-prior-view sentinel (-1): keeps NULLs out of the driver compare
    return out.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("event_id_asof"), F.lit(-1)).alias("prior_view_id"),
        F.coalesce(F.col("value_asof"), F.lit(-1.0)).alias("prior_view_value"),
    )


@query("e4_json_props_stats", oracle=f"""
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   {_davg("CAST(json_extract_string(props, '$.k') AS BIGINT)")} AS avg_k,
                   CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
                   CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
            FROM events GROUP BY event_type ORDER BY event_type
        """)
def q_e4(spark: SparkSession, sf: str) -> DataFrame:
    """JSON property extraction (from_json with an explicit schema -- the
    typed path, not string get_json_object) + per-type stats over the
    extracted field.  Covers the JSON-functions family flagged 'not
    present' in the reference (SURVEY.md par.2.7)."""
    ev_df = load_events(spark, sf)
    parsed = ev_df.withColumn("k", F.from_json("props", "k BIGINT").getField("k"))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            precision.dec_avg("k", "avg_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query("e5_interval_join_reactions", bench=True, oracle="""
            WITH err AS (
              SELECT event_id, user_id, (epoch_ns(ts) // 1000) AS lus
              FROM events WHERE event_type = 'error'),
            clk AS (
              SELECT user_id, (epoch_ns(ts) // 1000) AS rus
              FROM events WHERE event_type = 'click')
            SELECT e.event_id, e.user_id,
                   COUNT(c.rus) AS n_clicks,
                   CAST(COALESCE(MIN(c.rus - e.lus), -1) AS BIGINT) AS min_gap_us
            FROM err e LEFT JOIN clk c
              ON c.user_id = e.user_id AND c.rus >= e.lus AND c.rus < e.lus + 300000000
            GROUP BY e.event_id, e.user_id
        """)
def q_e5(spark: SparkSession, sf: str) -> DataFrame:
    """Interval join, binned (operators/joins.interval_join_binned): for
    each error event, the click events by the same user within the next 5
    minutes -- count + min reaction gap (-1 sentinel when none).  The
    equi-join key is (user, time-bucket), so one user's events spread over
    its time range instead of one reducer."""
    evt = load_events(spark, sf)
    errors = evt.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = evt.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    pairs = joins.interval_join_binned(
        errors, clicks, "user_id", "c_user", "ts", "c_ts", window_us=300_000_000
    )
    gaps = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.min(F.unix_micros("c_ts") - F.unix_micros("ts")).alias("min_gap_us"),
    )
    return (
        joins.left_join_fill_zero(errors.select("event_id", "user_id"), gaps, "event_id", ["n_clicks"])
        .select(
            "event_id",
            "user_id",
            F.col("n_clicks").cast("long").alias("n_clicks"),
            F.coalesce(F.col("min_gap_us"), F.lit(-1)).cast("long").alias("min_gap_us"),
        )
        .orderBy("event_id")
    )


def _drive_stream(
    spark: SparkSession,
    source_df: DataFrame,
    build,
    output_mode: str,
    prefix: str,
    n_files: int = 1,
    order_col: str | None = None,
) -> DataFrame:
    """Run a streaming operator END-TO-END for the gate: materialize a
    stream-readable source (micro-ts parquet -- the events table's
    TIMESTAMP(NANOS) can't feed readStream directly), build the stream over
    it, drain it through ev.run_stream_to_parquet (foreachBatch +
    availableNow), and read the sunk table back as a batch DataFrame.

    The sunk table -- not the in-memory stream -- is what the driver
    DuckDB-diffs, so streaming/batch equivalence is machine-checked by the
    gate instead of only by pytest.  Fresh temp dirs per call keep repeated
    runs in one session independent (new source, sink, checkpoint).

    With ``n_files > 1`` the source is range-partitioned on ``order_col``
    into that many parquet files with ascending mtimes; the builder is
    expected to cap the file source at 1 file/trigger, so the drain runs
    ``n_files`` micro-batches ARRIVING IN order_col ORDER (the file source
    picks oldest mtime first) and stateful operators genuinely carry state
    across batch boundaries.  The ordering is what keeps order-sensitive
    gates exact: doc_id-ascending files make first-seen dedup's winner the
    global min id; ts-ascending files keep every row ahead of the
    watermark, so nothing is late-dropped.  The batch count is asserted
    > 1 -- a single-batch drain would silently verify nothing about
    cross-batch state.
    """
    import glob

    base = _scratch_dir(prefix)
    src, sink, ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
    if n_files > 1:
        assert order_col is not None
        source_df.repartitionByRange(n_files, F.col(order_col)).write.parquet(src)
        parts = sorted(glob.glob(os.path.join(src, "part-*")))
        t0 = int(time.time()) - 3600
        for i, p in enumerate(parts):
            os.utime(p, (t0 + 10 * i, t0 + 10 * i))
    else:
        source_df.write.parquet(src)
    n_batches = ev.run_stream_to_parquet(build(src), sink, ckpt, output_mode)
    if n_files > 1 and n_batches < 2:
        raise RuntimeError(f"expected a multi-batch drain, got {n_batches} batch(es) (src={src})")
    # stderr: stdout stays reserved for the driver's contract output
    print(f"[stream {prefix.rstrip('_')}] {n_batches} micro-batches", file=sys.stderr)
    # The src dir holds a full parquet copy of the events table and is dead
    # once the drain finishes -- drop it NOW so repeated verify runs don't
    # accumulate events-sized garbage (the se11 leak, same class).  The
    # sink must outlive this call (the return is a lazy scan over it), so
    # it and the checkpoint go at process exit instead.
    import atexit
    import shutil

    shutil.rmtree(src, ignore_errors=True)
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return spark.read.parquet(sink)


# Streaming-family gates: the engine side sinks the STREAM via
# foreachBatch and reads the parquet back, so these oracles check
# streaming/batch equivalence end-to-end (not just the batch twin).
@query("se1_stream_hourly_stats", oracle=f"""
            SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS num_events,
                   {_dsum('value')} AS sum_value
            FROM events GROUP BY 1, 2
        """)
def q_se1(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming tumbling-hour stats, gate-checked: stream_hourly_event_stats
    driven to a parquet sink in complete mode (final overwrite = full
    aggregate; complete mode never evicts state, and the source arrives as
    3 ts-ascending micro-batches via maxFilesPerTrigger=1, so window state
    genuinely accumulates across batch boundaries).  Oracle = the batch
    twin's SQL -- window(ts,'1 hour').start equals date_trunc('hour', ts)."""
    _utc(spark)
    out = _drive_stream(
        spark,
        load_events(spark, sf),
        lambda src: ev.stream_hourly_event_stats(spark, src, max_files_per_trigger=1),
        "complete",
        "se1_",
        n_files=3,
        order_col="ts",
    )
    return out.select("hour", "event_type", "num_events", "sum_value").orderBy("hour", "event_type")


@query("se2_stream_sessionize", oracle="""
            WITH g AS (
              SELECT user_id, ts, event_id,
                     LAG(ts) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id) AS prev_ts
              FROM events),
            s AS (
              SELECT user_id,
                     CASE WHEN prev_ts IS NULL
                               OR ((epoch_ns(ts) // 1000)
                                   - (epoch_ns(prev_ts) // 1000)) > 1800000000
                          THEN 1 ELSE 0 END AS new_session
              FROM g)
            SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
            FROM s GROUP BY user_id
        """)
def q_se2(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming sessionization, gate-checked: session_window sessions sunk
    in complete mode, re-aggregated to the batch twin's (user_id,
    n_sessions, n_events) shape so e2's oracle applies verbatim.

    Boundary note: session_window's window end is exclusive (gap == g
    starts a new session) while the batch lag form splits on gap > g; the
    forms agree unless a gap is EXACTLY g microseconds -- verified absent
    in the test data at every sf (probability ~0 in micro-precision
    timestamps)."""
    _utc(spark)
    out = _drive_stream(
        spark,
        load_events(spark, sf),
        lambda src: ev.stream_sessionize(spark, src, 1800, max_files_per_trigger=1),
        "complete",
        "se2_",
        n_files=3,
        order_col="ts",
    )
    return (
        out.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id")
    )


@query("se3_stream_interval_join", oracle="""
            SELECT e.event_id AS err_id, e.user_id AS err_user, c.event_id AS clk_id,
                   (epoch_ns(c.ts) // 1000) AS clk_us
            FROM events e JOIN events c
              ON c.user_id = e.user_id
             AND (epoch_ns(c.ts) // 1000) >= (epoch_ns(e.ts) // 1000)
             AND (epoch_ns(c.ts) // 1000) < (epoch_ns(e.ts) // 1000) + 300000000
            WHERE e.event_type = 'error' AND c.event_type = 'click'
        """)
def q_se3(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming stream-stream interval join, gate-checked: error->click
    pairs within 5 minutes (stream_interval_join) appended to parquet
    across 3 ts-ascending micro-batches (maxFilesPerTrigger=1).  Inner
    joins emit eagerly per batch; ts-ordered arrival keeps every row ahead
    of the 10-minute watermark (nothing late-dropped), and an error near a
    file boundary is still in join state when its click arrives next batch
    (eviction needs the watermark to pass err_ts+300s, which ts-ordering
    forbids before the matching click shows up) -- so the multi-batch sink
    still equals the batch interval join exactly.  clk_ts is projected to
    unix micros for a type-stable compare."""
    _utc(spark)
    out = _drive_stream(
        spark,
        load_events(spark, sf),
        lambda src: ev.stream_interval_join(spark, src, 300, max_files_per_trigger=1),
        "append",
        "se3_",
        n_files=3,
        order_col="ts",
    )
    return out.select(
        "err_id", "err_user", "clk_id", F.unix_micros("clk_ts").alias("clk_us")
    ).orderBy("err_id", "clk_id")


@query("se4_stream_dedup_first_seen", oracle=r"""
            SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_key,
                   MIN(doc_id) AS keep_id
            FROM documents GROUP BY 1
        """)
def q_se4(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming first-seen dedup, gate-checked: stream_exact_dedup's
    append-mode emissions (one row per distinct normalized-text digest,
    smallest doc_id wins) sunk to parquet across 3 micro-batches
    (maxFilesPerTrigger=1), so the seen-digest state genuinely suppresses
    re-arrivals in LATER batches.  The source files are doc_id-range
    partitioned ascending and processed oldest-mtime-first, so the first
    batch containing a digest also holds its global minimum doc_id --
    first-seen's winner stays exactly the d1-style MIN(doc_id) oracle."""
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    out = _drive_stream(
        spark,
        docs,
        lambda src: ev.stream_exact_dedup(spark, src, max_files_per_trigger=1),
        "append",
        "se4_",
        n_files=3,
        order_col="doc_id",
    )
    return out.select("text_key", "keep_id").orderBy("text_key")


@query("se5_stream_user_totals", oracle="""
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
        """)
def q_se5(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful streaming operator, gate-checked:
    stream_user_totals (applyInPandasWithState) driven to a parquet sink
    in update mode across 3 micro-batches (maxFilesPerTrigger=1), so the
    per-user accumulator provably SURVIVES batch boundaries: each user's
    FINAL state row (max n_events -- the counter is monotone across
    micro-batches) must equal the batch per-user event count, and a
    boundary-dropped state would undercount.  Gates the integer half of the state exactly; the float
    accumulator half is covered by the pytest batch-equivalence test."""
    _utc(spark)
    e = load_events(spark, sf).select("user_id", "ts", "value")
    out = _drive_stream(
        spark,
        e,
        lambda src: ev.stream_user_totals(spark, src, max_files_per_trigger=1),
        "update",
        "se5_",
        n_files=3,
        order_col="ts",
    )
    return out.groupBy("user_id").agg(F.max("n_events").cast("long").alias("n_events"))


# se11: the restarted stream's final totals must equal the batch
# count over ALL events -- state-store recovery undercounts and
# file-log loss double-counts both hash-mismatch here.
@query("se11_stream_restart_recovery", oracle="""
            SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id ORDER BY user_id
        """)
def q_se11(spark: SparkSession, sf: str) -> DataFrame:
    """Checkpoint-restart recovery gate: stream_user_totals driven in TWO
    separate streaming queries over ONE checkpoint -- phase A drains the
    first 2 source files and stops (a planned shutdown); phase B reveals
    2 more files and restarts from the same checkpoint.  Exactly-once
    recovery is machine-checked from both sides: the restarted query must
    process ONLY the new files (asserted batch count -- a lost file log
    would re-read phase A and double-count into the retained state), and
    the final per-user totals must equal the batch count over ALL events
    (a lost state store would cover only phase B and undercount).  The
    production crash-recovery contract, gate-checked instead of assumed."""
    import glob
    import shutil

    _utc(spark)
    # restart reads phase-A state snapshots, which ship no checksum files;
    # the per-snapshot "no checksum" WARN would spam stderr ~70x per run
    ck_key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    ck_prev = spark.conf.get(ck_key, None)
    spark.conf.set(ck_key, "false")
    e = load_events(spark, sf).select("user_id", "ts", "value")
    base = _scratch_dir("se11_")
    stage, src, sink, ckpt = (os.path.join(base, d) for d in ("stage", "src", "sink", "ckpt"))
    e.repartitionByRange(4, F.col("ts")).write.parquet(stage)
    parts = sorted(glob.glob(os.path.join(stage, "part-*")))
    t0 = int(time.time()) - 3600
    for i, p in enumerate(parts):
        os.utime(p, (t0 + 10 * i, t0 + 10 * i))
    os.makedirs(src)

    def _reveal(ps: list[str]) -> None:
        for p in ps:
            shutil.move(p, os.path.join(src, os.path.basename(p)))

    try:
        _reveal(parts[:2])
        n_a = ev.run_stream_to_parquet(
            ev.stream_user_totals(spark, src, max_files_per_trigger=1), sink, ckpt, "update"
        )
        _reveal(parts[2:])
        n_b = ev.run_stream_to_parquet(
            ev.stream_user_totals(spark, src, max_files_per_trigger=1), sink, ckpt, "update"
        )
        if n_a != 2 or n_b != 2:
            raise RuntimeError(
                f"restart gate expected 2+2 micro-batches (phase B re-reading phase A's "
                f"files would break exactly-once), got {n_a}+{n_b}"
            )
        # Materialize the bounded result (user-cardinality rows) BEFORE the
        # tmp dirs go away: the dirs hold two full parquet copies of events
        # and must not leak across repeated verify runs (the v6 pattern).
        out = (
            spark.read.parquet(sink)
            .groupBy("user_id")
            .agg(F.max("n_events").cast("long").alias("n_events"))
            .orderBy("user_id")
        )
        rows, schema = out.collect(), out.schema
    finally:
        if ck_prev is None:
            spark.conf.unset(ck_key)
        else:
            spark.conf.set(ck_key, ck_prev)
        shutil.rmtree(base, ignore_errors=True)
    print(f"[stream se11] {n_a}+{n_b} micro-batches across restart", file=sys.stderr)
    return spark.createDataFrame(rows, schema)


# se12: inner pairs replay as a plain batch join; outer rows
# replay the watermark-closure protocol -- unmatched AND window
# end <= final_wm, final_wm = least(per-input max ts) - 10 min
# (multipleWatermarkPolicy=min), empirically probed.
@query("se12_stream_interval_outer", oracle="""
            WITH err AS (SELECT event_id AS err_id, user_id AS err_user,
                                (epoch_ns(ts) // 1000) AS err_us
                         FROM events WHERE event_type = 'error'),
            clk AS (SELECT event_id AS clk_id, user_id AS clk_user,
                           (epoch_ns(ts) // 1000) AS clk_us
                    FROM events WHERE event_type = 'click'),
            wm AS (SELECT LEAST((SELECT MAX(err_us) FROM err),
                                (SELECT MAX(clk_us) FROM clk)) - 600000000 AS wm_us),
            matched AS (
              SELECT e.err_id, e.err_user, c.clk_id, c.clk_us
              FROM err e JOIN clk c ON c.clk_user = e.err_user
                AND c.clk_us >= e.err_us
                AND c.clk_us < e.err_us + 300000000),
            outer_rows AS (
              SELECT e.err_id, e.err_user,
                     CAST(-1 AS BIGINT) AS clk_id, CAST(-1 AS BIGINT) AS clk_us
              FROM err e, wm
              WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.err_id = e.err_id)
                AND e.err_us + 300000000 <= wm.wm_us)
            SELECT err_id, err_user, clk_id, clk_us FROM matched
            UNION ALL
            SELECT err_id, err_user, clk_id, clk_us FROM outer_rows
            ORDER BY err_id, clk_id
        """)
def q_se12(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join with watermark closure
    (stream_interval_join how='left_outer'): se3's inner pairs PLUS one
    null-side row per error that provably got no click -- and 'provably'
    is the gated semantics: an outer row may emit only once the watermark
    passes the error's window end.  Probed empirically (sf0.001): the
    availableNow drain runs a final no-data batch, and the emitted outer
    set is exactly {unmatched errors: err_ts + window <= final_wm} with
    final_wm = least(max err ts, max click ts) - delay -- the PER-INPUT
    watermark minimum (multipleWatermarkPolicy=min), which the oracle
    replays in SQL.  -1 sentinels on the null side (no NULLs in outputs)."""
    _utc(spark)
    out = _drive_stream(
        spark,
        load_events(spark, sf),
        lambda src: ev.stream_interval_join(spark, src, max_files_per_trigger=1, how="left_outer"),
        "append",
        "se12_",
        n_files=3,
        order_col="ts",
    )
    return out.select(
        "err_id",
        "err_user",
        F.coalesce(F.col("clk_id"), F.lit(-1)).cast("long").alias("clk_id"),
        F.coalesce(F.unix_micros("clk_ts"), F.lit(-1)).cast("long").alias("clk_us"),
    ).orderBy("err_id", "clk_id")


# TTL dedup at gate scale: the TTL exceeds the event-time span, so
# nothing expires and the answer equals se4's; the expiry path is
# pinned by the small-TTL pytest replay instead.
@query("se6_stream_dedup_ttl", oracle=r"""
            SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_key,
                   MIN(doc_id) AS keep_id
            FROM documents GROUP BY 1
        """)
def q_se6(spark: SparkSession, sf: str) -> DataFrame:
    """Bounded-state streaming dedup (stream_dedup_with_ttl), gate-checked:
    the production TTL form of se4 -- digest state expires ttl_seconds of
    event time after last arrival (EventTimeTimeout), capping the state
    store at one TTL window of distinct digests.  Event time is derived
    deterministically (ts = timestamp_seconds(doc_id + 1e9) -- the offset
    keeps doc_id 0 off epoch 0, where the INITIAL watermark would drop it
    as late; doc_id-range file order IS event-time order so the 0s
    watermark never drops anything else); the gate TTL exceeds the
    data's event-time span, so no
    digest expires and the oracle stays se4's MIN(doc_id)-per-digest --
    while pytest's small-TTL two-batch replay verifies the expiry/re-emit
    contract the gate can't reach.  3 micro-batches (maxFilesPerTrigger=1)
    exercise cross-batch suppression AND per-batch timeout bookkeeping."""
    docs = (
        load_table(spark, sf, "documents")
        .select("doc_id", "text")
        .withColumn("ts", F.timestamp_seconds(F.col("doc_id") + F.lit(1_000_000_000)))
    )
    out = _drive_stream(
        spark,
        docs,
        lambda src: ev.stream_dedup_with_ttl(spark, src, max_files_per_trigger=1),
        "append",
        "se6_",
        n_files=3,
        order_col="doc_id",
    )
    return out.select("text_key", "keep_id").orderBy("text_key")


@query("e11_hourly_anomaly", oracle="""
            WITH h AS (
              SELECT event_type, date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS n_events
              FROM events GROUP BY 1, 2),
            t AS (
              SELECT event_type, CAST(COUNT(*) AS BIGINT) AS h_cnt,
                     CAST(SUM(n_events) AS BIGINT) AS s1,
                     CAST(SUM(n_events * n_events) AS BIGINT) AS s2
              FROM h GROUP BY 1),
            z AS (
              SELECT h.event_type, h.hour, h.n_events,
                     CASE WHEN t.h_cnt * t.s2 - t.s1 * t.s1 > 0
                          THEN CAST(floor(CAST(h.n_events * t.h_cnt - t.s1 AS DOUBLE) * 1e6
                                          / sqrt(CAST(t.h_cnt * t.s2 - t.s1 * t.s1 AS DOUBLE))) AS BIGINT)
                          ELSE 0 END AS z_micro
              FROM h JOIN t USING (event_type))
            SELECT event_type, hour, n_events, z_micro, (CAST(z_micro AS DOUBLE) / 1000000.0) AS z
            FROM z ORDER BY abs(z_micro) DESC, event_type, hour LIMIT 20
        """)
def q_e11(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly volume-anomaly screen (streaming/events.hourly_anomaly):
    per-type z-scores from exact int64 moments, z = (n*H-S)/sqrt(H*Q-S^2)
    floor-quantized to micros, top-20 by |z| with deterministic ties."""
    _utc(spark)
    return ev.hourly_anomaly(load_events(spark, sf), top_k=20)


@query("e12_rfm_segments", bench=True, oracle="""
            WITH rfm AS (
              SELECT o_custkey,
                     ((SELECT MAX(epoch_us(o_orderdate)) FROM orders) - MAX(epoch_us(o_orderdate))) // 86400000000 AS rec_days,
                     CAST(COUNT(*) AS BIGINT) AS frequency,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS mon_micros
              FROM orders GROUP BY o_custkey),
            q AS (
              SELECT quantile_cont(rec_days, 0.25) AS r1, quantile_cont(rec_days, 0.5) AS r2, quantile_cont(rec_days, 0.75) AS r3,
                     quantile_cont(frequency, 0.25) AS f1, quantile_cont(frequency, 0.5) AS f2, quantile_cont(frequency, 0.75) AS f3,
                     quantile_cont(mon_micros, 0.25) AS m1, quantile_cont(mon_micros, 0.5) AS m2, quantile_cont(mon_micros, 0.75) AS m3
              FROM rfm),
            s AS (
              SELECT CAST(5 - (1 + CASE WHEN rec_days > q.r1 THEN 1 ELSE 0 END
                                 + CASE WHEN rec_days > q.r2 THEN 1 ELSE 0 END
                                 + CASE WHEN rec_days > q.r3 THEN 1 ELSE 0 END) AS BIGINT) AS r_score,
                     CAST(1 + CASE WHEN frequency > q.f1 THEN 1 ELSE 0 END
                            + CASE WHEN frequency > q.f2 THEN 1 ELSE 0 END
                            + CASE WHEN frequency > q.f3 THEN 1 ELSE 0 END AS BIGINT) AS f_score,
                     CAST(1 + CASE WHEN mon_micros > q.m1 THEN 1 ELSE 0 END
                            + CASE WHEN mon_micros > q.m2 THEN 1 ELSE 0 END
                            + CASE WHEN mon_micros > q.m3 THEN 1 ELSE 0 END AS BIGINT) AS m_score,
                     mon_micros
              FROM rfm, q)
            SELECT CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segment,
                   r_score, f_score, m_score,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   (CAST(CAST(SUM(mon_micros) AS BIGINT) AS DOUBLE) / 1000000) AS monetary_total
            FROM s GROUP BY 1, 2, 3, 4 ORDER BY segment
        """)
def q_e12(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer segmentation (aggregates.rfm_segments): integer
    recency/frequency/monetary-micros quartile scores -- dyadic-fraction
    cutpoints between int64 order statistics, engine-exact comparisons."""
    _utc(spark)
    return agg.rfm_segments(load_table(spark, sf, "orders"), "o_custkey", "o_orderdate", "o_totalprice")


# se9: batch twin of the stream-static join + complete-mode agg.
@query("se9_stream_static_enrich", oracle=f"""
            SELECT COALESCE(c.c_mktsegment, '__none__') AS segment,
                   COUNT(*) AS n_events,
                   {_dsum('e.value')} AS sum_value
            FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
            GROUP BY 1 ORDER BY segment
        """)
def q_se9(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static enrichment (ev.stream_static_enrich) across 3 real
    micro-batches: the event stream joins the static customer dimension
    (user_id -> mktsegment, broadcast per trigger -- the stateless
    streaming join shape, no watermark/state) and aggregates per segment
    in complete mode.  Oracle = the batch join + aggregate; '__none__'
    sentinel for unmatched users keeps NULLs out of outputs."""
    _utc(spark)
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    out = _drive_stream(
        spark,
        load_events(spark, sf),
        lambda src: ev.stream_static_enrich(
            spark, src, c, "user_id", "c_custkey", "c_mktsegment", max_files_per_trigger=1
        ),
        "complete",
        "se9_",
        n_files=3,
        order_col="ts",
    )
    return out.select("segment", "n_events", "sum_value").orderBy("segment")


# se10: Spark's micro-batch watermark protocol replayed in SQL --
# the watermark filtering batch i derives from batches <= i-2
# (one-batch lag, empirically calibrated -- see q_se10 docstring);
# drop when window end <= that; emit when end <= the final
# watermark.
@query("se10_stream_late_drop", oracle=f"""
            WITH b AS (SELECT event_id % 3 AS batch, event_type,
                              CAST(ts AS TIMESTAMP) AS ts, value FROM events),
            bm AS (SELECT batch, MAX(ts) AS mx FROM b GROUP BY batch),
            wm AS (SELECT batch,
                          MAX(mx) OVER (ORDER BY batch
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
                          - INTERVAL 1 HOUR AS w
                   FROM bm),
            kept AS (
              SELECT b.event_type, b.ts, b.value
              FROM b JOIN wm ON b.batch = wm.batch
              WHERE wm.w IS NULL OR date_trunc('hour', b.ts) + INTERVAL 1 HOUR > wm.w),
            fw AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS w FROM b)
            SELECT date_trunc('hour', kept.ts) AS hour, kept.event_type,
                   COUNT(*) AS num_events,
                   {_dsum("value")} AS sum_value
            FROM kept, fw
            WHERE date_trunc('hour', kept.ts) + INTERVAL 1 HOUR <= fw.w
            GROUP BY 1, 2 ORDER BY hour, event_type
        """)
def q_se10(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark LATE-DROP semantics, machine-gated (the one streaming
    behavior se1-se9 never pinned): the hourly aggregate runs in APPEND
    mode with a 1-hour watermark over 3 explicitly-constructed arrival
    batches (event_id % 3 -- each spans the full time range, so batches 1
    and 2 genuinely arrive late vs the advanced watermark and lose rows).
    Append mode emits ONLY windows the final watermark closed.

    The oracle replays Spark's micro-batch watermark protocol in SQL,
    calibrated EMPIRICALLY against the engine: the watermark filtering
    batch i is the one computed from batches <= i-2 (a one-batch LAG --
    the update from batch i-1 lands after batch i was planned in this
    availableNow drain; hypothesis-tested against the kept-row count,
    666 vs 335 under the no-lag reading).  A row is dropped when its
    window END <= that watermark (state already evicted); a window is
    emitted when its end <= the FINAL watermark (max ts - delay over all
    batches).  Batch membership is exact (explicitly written files, one
    per trigger, mtime-ordered) -- no range-partitioner sampling in the
    arrival path."""
    import glob
    import shutil

    _utc(spark)
    e = load_events(spark, sf).select("event_id", "event_type", "ts", "value")
    base = _scratch_dir("se10_")
    src, sink, ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
    os.makedirs(src)
    t0 = int(time.time()) - 3600
    for i in range(3):
        bdir = os.path.join(base, f"b{i}")
        e.where(F.col("event_id") % 3 == i).coalesce(1).write.parquet(bdir)
        part = glob.glob(os.path.join(bdir, "part-*.parquet"))[0]
        dst = os.path.join(src, f"part-{i:05d}.parquet")
        shutil.copyfile(part, dst)
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))
    stream = ev.stream_hourly_event_stats(spark, src, watermark="1 hour", max_files_per_trigger=1)
    n_batches = ev.run_stream_to_parquet(stream, sink, ckpt, "append")
    print(f"[stream se10] {n_batches} micro-batches", file=sys.stderr)
    return spark.read.parquet(sink).orderBy("hour", "event_type")


# e15: per-key generated spine (generate_series) + running
# last-non-null; leading buckets are active by construction, so
# carried_type is never NULL.
@query("e15_gap_fill", bench=True, oracle="""
            WITH h AS (
              SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
                     CAST(COUNT(*) AS BIGINT) AS n, MAX(event_type) AS tt
              FROM events WHERE user_id % 10 = 0 GROUP BY 1, 2),
            s AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1 FROM h GROUP BY 1),
            sp AS (SELECT user_id, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket FROM s),
            f AS (SELECT sp.user_id, sp.bucket, h.n, h.tt
                  FROM sp LEFT JOIN h ON sp.user_id = h.user_id AND sp.bucket = h.bucket)
            SELECT user_id, CAST(bucket AS TIMESTAMP) AS hour,
                   CAST(COALESCE(n, 0) AS BIGINT) AS n_events,
                   n IS NULL AS is_gap,
                   LAST_VALUE(tt IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_type
            FROM f ORDER BY user_id, hour
        """)
def q_e15(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series gap fill (timeseries.gap_fill): the hourly event series
    of every 10th user densified to a regular grid -- missing hours
    materialized from a per-key generated spine (never a global calendar
    cross join), zero counts, and the last observed event type carried
    forward (as-of state between observations).  One corpus shuffle (the
    hourly pre-aggregate); spine + forward-fill run on bucket-cardinality
    rows.  Oracle: generate_series spine + LAST_VALUE IGNORE NULLS."""
    from youtubeanalyzerproject_big_data__spark.operators.timeseries import gap_fill

    _utc(spark)
    e = load_events(spark, sf).where(F.col("user_id") % 10 == 0)
    out = gap_fill(e, "user_id", "ts", "event_type", unit="hour")
    return out.select(
        "user_id", F.col("bucket").alias("hour"), "n_events", "is_gap", "carried_type"
    ).orderBy("user_id", "hour")


# e17: integer epoch-hours from nanos (// 1000 // 3600e6, the e2
# micros-normalization), inner 24h self-alignment, int64 WAPE.
@query("e17_seasonal_backtest", bench=True, oracle="""
            WITH c AS (
              SELECT event_type AS grp, (epoch_ns(ts) // 1000) // 3600000000 AS h,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY 1, 2),
            s AS (
              SELECT a.grp, a.n, f.n AS fc
              FROM c a JOIN c f ON a.grp = f.grp AND a.h = f.h + 24)
            SELECT grp AS event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_hours,
                   CAST(SUM(n) AS BIGINT) AS total_actual,
                   CAST(SUM(ABS(n - fc)) AS BIGINT) AS total_abs_err,
                   (1000000 * CAST(SUM(ABS(n - fc)) AS BIGINT)) // CAST(SUM(n) AS BIGINT) AS wape_ppm
            FROM s GROUP BY grp ORDER BY event_type
        """)
def q_e17(spark: SparkSession, sf: str) -> DataFrame:
    """Seasonal-naive backtest (timeseries.seasonal_naive_backtest):
    predict each hour's per-type event count with the count 24 h earlier,
    score with WAPE -- the baseline every forecaster must beat and the
    forecast-monitoring primitive.  Integer epoch-hour alignment (div,
    never a double quotient), inner alignment (absent hours are gap
    fill's job, e15), all-int64 WAPE.  One corpus shuffle."""
    from youtubeanalyzerproject_big_data__spark.operators.timeseries import seasonal_naive_backtest

    _utc(spark)
    return seasonal_naive_backtest(load_events(spark, sf), "ts", "event_type", period_hours=24)


E18_LAGS = (1, 2, 3, 24)


# e18: dense integer-hour spine, denominator-cleared deviations
# (d = nh*x - s, exact int64), HUGEINT cross-product sums, signed
# ppm division truncated toward zero (twin of the Python big-int
# driver-side ratio in timeseries.acf_ppm).
@query("e18_acf_gate", bench=True, oracle=f"""
            WITH hourly AS (
              SELECT (epoch_ns(ts) // 1000) // 3600000000 AS h,
                     CAST(COUNT(*) AS BIGINT) AS x
              FROM events GROUP BY 1),
            bounds AS (
              SELECT MIN(h) AS h0, MAX(h) AS h1,
                     CAST(SUM(x) AS BIGINT) AS s,
                     CAST(MAX(h) - MIN(h) + 1 AS BIGINT) AS nh
              FROM hourly),
            spine AS (
              SELECT unnest(generate_series(h0, h1)) AS h FROM bounds),
            dev AS (
              SELECT spine.h,
                     (SELECT nh FROM bounds) * COALESCE(hourly.x, 0) - (SELECT s FROM bounds) AS d
              FROM spine LEFT JOIN hourly USING (h)),
            den AS (SELECT GREATEST(SUM(CAST(d AS HUGEINT) * d), 1) AS dd FROM dev),
            lags AS (SELECT unnest([{", ".join(str(l) for l in E18_LAGS)}]) AS lag),
            num AS (
              SELECT lags.lag,
                     SUM(CAST(a.d AS HUGEINT) * b.d) AS nm,
                     CAST(COUNT(*) AS BIGINT) AS n_pairs
              FROM lags CROSS JOIN dev a JOIN dev b ON b.h = a.h + lags.lag
              GROUP BY lags.lag)
            SELECT CAST(num.lag AS BIGINT) AS lag, num.n_pairs,
                   (SELECT nh FROM bounds) AS n_hours,
                   CAST(CASE WHEN num.nm < 0
                             THEN -((1000000 * (-num.nm)) // den.dd)
                             ELSE (1000000 * num.nm) // den.dd END AS BIGINT) AS acf_ppm
            FROM num, den ORDER BY lag
        """)
def q_e18(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly-series autocorrelation gate (timeseries.acf_ppm): ACF of
    the global hourly event-count series at lags 1/2/3/24 -- the
    seasonality detector that justifies e17's period choice.  Dense
    integer epoch-hour spine (zeros are real), denominator-cleared
    integer deviations, decimal(38,0) cross-product sums (HUGEINT twin),
    final ppm ratio driver-side in Python big ints (the q14/m6 recipe)."""
    from youtubeanalyzerproject_big_data__spark.operators.timeseries import acf_ppm

    _utc(spark)
    return acf_ppm(load_events(spark, sf), "ts", lags=E18_LAGS)


# e14: lateness vs the per-user running max over ARRIVAL order
# (event_id); exact integer micros, window frame excludes self.
@query("e14_out_of_order_audit", bench=True, oracle="""
            WITH l AS (
              SELECT event_type,
                     GREATEST(0, COALESCE(MAX(epoch_us(ts)) OVER (
                         PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), epoch_us(ts))
                       - epoch_us(ts)) AS late_us
              FROM events)
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                   CAST(MAX(late_us) AS BIGINT) AS max_late_us,
                   CAST(SUM(late_us) AS BIGINT) AS total_late_us
            FROM l GROUP BY event_type ORDER BY event_type
        """)
def q_e14(spark: SparkSession, sf: str) -> DataFrame:
    """Out-of-order-arrival audit (the watermark-design diagnostic): per
    event type, how many events arrive with a timestamp BEHIND the
    running per-user max (arrival order = event_id), how far behind at
    worst, and the total slippage.  Lateness is exact integer micros from
    a user-partitioned running-max window (no global window, per-reducer
    state = one user's history); the answer tells you what watermark
    delay the streaming jobs (se1-se7) actually need."""
    _utc(spark)
    e = load_events(spark, sf)
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    us = F.unix_micros("ts")
    late_us = F.greatest(F.lit(0).cast("long"), (F.max(us).over(w) - us).cast("long"))
    per_event = e.select("event_type", F.coalesce(late_us, F.lit(0).cast("long")).alias("late_us"))
    return (
        per_event.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum((F.col("late_us") > 0).cast("long")).cast("long").alias("n_late"),
            F.max("late_us").cast("long").alias("max_late_us"),
            F.sum("late_us").cast("long").alias("total_late_us"),
        )
        .orderBy("event_type")
    )


# se7: true-heavy count replays exactly (integer cross-multiplied
# threshold); capture bit is the engine-computed MG-invariant gate.
@query("se7_stream_heavy_hitters", oracle="""
            WITH k AS (
              SELECT CASE WHEN user_id % 10 < 5 THEN -1 ELSE user_id END AS hh_key
              FROM events),
            c AS (
              SELECT ((hh_key % 4) + 4) % 4 AS shard, hh_key, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM k GROUP BY 1, 2),
            n AS (SELECT shard, CAST(SUM(cnt) AS BIGINT) AS ns FROM c GROUP BY shard)
            SELECT CAST(4 AS BIGINT) AS n_shards, CAST(8 AS BIGINT) AS k,
                   CAST(SUM(CASE WHEN c.cnt * 9 > n.ns THEN 1 ELSE 0 END) AS BIGINT) AS n_true_heavy,
                   CAST(1 AS BIGINT) AS all_captured
            FROM c JOIN n USING (shard)
        """)
def q_se7(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming Misra-Gries heavy hitters (stream_heavy_hitters),
    gate-checked across 3 micro-batches: a deterministic skew fixture
    (half of all events collapse onto key -1, the sk1 recipe) guarantees
    a nonempty true-heavy set; the MG invariant -- every key with exact
    count*(k+1) > shard total MUST sit in that shard's final summary --
    is machine-checked against exact batch counts.  n_shards*k counters
    of state total, regardless of key cardinality."""
    _utc(spark)
    n_shards, k = 4, 8
    e = load_events(spark, sf).select(
        F.when(F.col("user_id") % 10 < 5, F.lit(-1)).otherwise(F.col("user_id")).alias("hh_key"),
        "ts",
    )
    out = _drive_stream(
        spark,
        e,
        lambda src: ev.stream_heavy_hitters(spark, src, "hh_key", n_shards=n_shards, k=k, max_files_per_trigger=1),
        "update",
        "se7_",
        n_files=3,
        order_col="ts",
    )
    w_last = Window.partitionBy("shard")
    final = (
        out.withColumn("_mx", F.max("n_seen").over(w_last))
        .where(F.col("n_seen") == F.col("_mx"))
        .select("shard", "key")
    )
    exact = (
        e.select(F.col("hh_key"), F.pmod(F.col("hh_key"), F.lit(n_shards)).alias("shard"))
        .groupBy("shard", "hh_key")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    totals = exact.groupBy("shard").agg(F.sum("cnt").cast("long").alias("ns"))
    heavy = exact.join(F.broadcast(totals), "shard").where(F.col("cnt") * (k + 1) > F.col("ns"))
    missing = heavy.join(
        final.withColumnRenamed("key", "hh_key"), ["shard", "hh_key"], "left_anti"
    ).count()
    n_heavy = heavy.count()
    return spark.createDataFrame(
        [(n_shards, k, int(n_heavy), 1 if (missing == 0 and n_heavy > 0) else 0)],
        "n_shards long, k long, n_true_heavy long, all_captured long",
    )


# se8: KMV's final state is a pure function of the hash SET, so the
# sketch's estimate replays exactly: k-th smallest distinct hash per
# hour, integer (k-1)*2^32 DIV kth when full, exact count otherwise.
@query("se8_stream_kmv_distinct", oracle=f"""
            WITH h AS (
              SELECT date_trunc('hour', ts) AS hour,
                     {md5_int32_sql("CAST(user_id AS VARCHAR)", "kmv")} AS hv
              FROM events),
            d AS (SELECT DISTINCT hour, hv FROM h),
            r AS (SELECT hour, hv,
                         row_number() OVER (PARTITION BY hour ORDER BY hv) AS rn,
                         COUNT(*) OVER (PARTITION BY hour) AS nd
                  FROM d)
            SELECT hour,
                   CAST(LEAST(nd, 64) AS BIGINT) AS n_tracked,
                   CAST(MAX(CASE WHEN rn = LEAST(nd, 64) THEN hv END) AS BIGINT) AS kth_min,
                   CAST(CASE WHEN nd >= 64 AND MAX(CASE WHEN rn = 64 THEN hv END) > 0
                             THEN (63 * 4294967296) // MAX(CASE WHEN rn = 64 THEN hv END)
                             ELSE LEAST(nd, 64) END AS BIGINT) AS est_distinct
            FROM r GROUP BY hour, nd ORDER BY hour
        """)
def q_se8(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming KMV distinct-users-per-hour sketch (ev.stream_kmv_distinct)
    across 3 genuine micro-batches: bounded state (64 hashes per hour,
    regardless of user cardinality), and -- because KMV's merge is
    union+dedup+recut -- the final estimate is a pure function of the hash
    SET, so the DuckDB oracle replays n_tracked, the k-th minimum, AND the
    integer estimate bit-for-bit (a hash-exact oracle for a sketch).
    Hashes are computed Catalyst-side with the oracle-portable md5_int32
    family before the stream ever sees a row."""
    _utc(spark)
    k = 64
    e = load_events(spark, sf).select(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        md5_int32(F.col("user_id").cast("string"), seed="kmv").alias("hv"),
        "ts",
    )
    out = _drive_stream(
        spark,
        e,
        lambda src: ev.stream_kmv_distinct(spark, src, "hour", "hv", k=k, max_files_per_trigger=1),
        "update",
        "se8_",
        n_files=3,
        order_col="ts",
    )
    w_last = Window.partitionBy("group")
    return (
        out.withColumn("_mx", F.max("n_seen").over(w_last))
        .where(F.col("n_seen") == F.col("_mx"))
        .select(F.col("group").alias("hour"), "n_tracked", "kth_min", "est_distinct")
        .orderBy("hour")
    )
