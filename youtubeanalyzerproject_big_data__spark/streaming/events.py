"""Event-stream analytics: tumbling-window aggregation and sessionization.

Each operator comes in two forms with identical semantics:
  * a batch DataFrame transform (oracle-checkable against DuckDB), and
  * a Structured Streaming wiring (readStream + watermark) exercised in
    tests with a file source -- at cluster scale the same code runs on
    Kafka by swapping the reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.precision import dec_avg, dec_sum


def _read_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source readStream with an optional per-trigger file cap.

    ``maxFilesPerTrigger`` is the lever that turns a finite availableNow
    drain into a genuine MULTI-micro-batch run: with N source files and a
    cap of 1, state crosses N-1 batch boundaries instead of zero.  The
    file source picks oldest-modification-time first (latestFirst defaults
    false), so a caller that writes range-partitioned files with ascending
    mtimes controls arrival order -- what the gate queries rely on for
    order-sensitive operators (first-seen dedup, watermarked joins).
    """
    reader = spark.readStream.schema(spark.read.parquet(source_dir).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def run_stream_to_parquet(
    stream_df: DataFrame,
    sink_dir: str,
    checkpoint_dir: str,
    output_mode: str = "append",
) -> int:
    """Drive a streaming DataFrame to a parquet table via ``foreachBatch``
    and block until the (finite) source is drained (availableNow trigger).

    foreachBatch is the production sink pattern for arbitrary writers: each
    micro-batch arrives as a plain BATCH DataFrame plus a batch id, so the
    body can use any batch writer (parquet here; JDBC/merge elsewhere) and
    exactly-once falls out of the checkpoint + per-batch-id idempotent
    writes.  'complete' mode overwrites the sink every trigger (the final
    overwrite IS the full result -- the aggregation route); 'append'/
    'update' modes append each batch's delta.

    This is what turns the streaming family's test-only batch-equivalence
    into a GATE-checked equivalence: the driver queries (se1-se4) sink a
    stream over the sf events/documents tables with this helper, read the
    sunk table back, and DuckDB-diff it against the batch twin's oracle.

    Returns the number of micro-batches processed, so callers can assert a
    multi-batch run actually crossed batch boundaries (the gate queries
    pair this with ``maxFilesPerTrigger`` on the source).
    """
    write_mode = "overwrite" if output_mode == "complete" else "append"
    batch_ids: list[int] = []

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_ids.append(batch_id)
        batch_df.write.mode(write_mode).parquet(sink_dir)

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(f"stream did not drain within 300s (sink={sink_dir})")
    return len(batch_ids)


def hourly_event_stats(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window x event_type: count + value sum/avg.

    Batch form uses date_trunc (equals window(ts,'1 hour').start) so the
    oracle SQL is plain ANSI.  Streaming form: see stream_hourly_event_stats.
    """
    return (
        events.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            dec_sum("value", "sum_value"),
            dec_avg("value", "avg_value"),
        )
        .orderBy("hour", "event_type")
    )


def stream_hourly_event_stats(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "2 hours",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of hourly_event_stats over a parquet file source.

    Watermark bounds state: late events beyond ``watermark`` are dropped and
    closed windows are evicted from the state store -- this is what keeps
    unbounded streams bounded-memory at scale.
    """
    stream = _read_stream(spark, source_dir, max_files_per_trigger)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("num_events"),
            dec_sum("value", "sum_value"),
        )
        .select(F.col("win.start").alias("hour"), "event_type", "num_events", "sum_value")
    )


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Per-user session assignment: a new session starts when the gap from
    the previous event exceeds ``gap_seconds``.

    Batch form: lag window over (user_id, ts) -- one shuffle on user_id.
    Returns (user_id, n_sessions, n_events).  The streaming twin of this
    shape is stream_sessionize (applyInPandasWithState).

    Gaps compare integer MICROSECONDS (unix_micros), not unix_timestamp
    seconds: second-truncation rounds the two sides of a near-1800s gap
    differently from an oracle that rounds-to-nearest, flipping the
    new-session decision on one side only.  Micros are the native precision
    of the events table (io.load_events), so both engines compare the same
    integers.
    """
    gap_us = gap_seconds * 1_000_000
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gaps = events.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | ((F.unix_micros("ts") - F.unix_micros("prev_ts")) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        gaps.groupBy("user_id")
        .agg(F.sum("new_session").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id")
    )


def stream_user_totals(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-user running (n_events, sum_value) accumulator that survives across
    micro-batches.

    This is the escape hatch for state transitions Spark's native operators
    can't express (native window/session_window cover the common cases --
    see stream_hourly_event_stats / stream_sessionize).  State is one tiny
    tuple per user, partitioned by the group key, so state-store size grows
    with |users|, not |events|; pair with a timeout
    (GroupStateTimeout.ProcessingTimeTimeout) to expire idle keys on
    unbounded key spaces.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _read_stream(spark, source_dir, max_files_per_trigger)

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [total]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n_events long, sum_value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_exact_dedup(spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming ingestion dedup: emit each document's key the FIRST time
    its normalized-text digest is seen; every later arrival (same batch or
    any later micro-batch) is suppressed.  The streaming twin of
    dedup.exact_duplicates for continuous corpus ingestion.

    State is one flag per md5 digest via applyInPandasWithState -- the
    stream is keyed by the digest, so state size grows with |distinct
    documents|, the keys are 32-char hashes (never the text), and a
    production deployment bounds it with a timeout (idle digests expire,
    trading exactness for bounded state -- the standard streaming-dedup
    compromise, equivalent to dropDuplicatesWithinWatermark semantics).
    Within a first batch the smallest doc_id wins, deterministically.
    Output: (text_key, keep_id).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from youtubeanalyzerproject_big_data__spark.functions.textfns import normalize

    stream = _read_stream(spark, source_dir, max_files_per_trigger)
    keyed = stream.select(F.md5(normalize(F.col("text"))).alias("text_key"), "doc_id")

    def first_seen(key, pdfs, state):
        if state.exists:
            return  # digest already emitted in an earlier batch
        keep = None
        for pdf in pdfs:
            batch_min = pdf["doc_id"].min()
            keep = batch_min if keep is None else min(keep, batch_min)
        state.update((True,))
        yield pd.DataFrame({"text_key": [key[0]], "keep_id": [keep]})

    return keyed.groupBy("text_key").applyInPandasWithState(
        first_seen,
        outputStructType="text_key string, keep_id long",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# stream_dedup_with_ttl's digest lifetime in event-time seconds: 10^9 s
# (~31 years) never expires within a corpus.
DEDUP_TTL_SECONDS = 10**9


def stream_dedup_with_ttl(spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """BOUNDED-STATE streaming dedup: first-seen per digest, but a digest's
    state expires DEDUP_TTL_SECONDS of EVENT TIME after its last arrival
    (GroupStateTimeout.EventTimeTimeout), so a duplicate arriving after the
    TTL re-emits.  This is the production form of stream_exact_dedup for
    unbounded key spaces: state size ~ |distinct digests seen within one
    TTL window|, not |all digests ever| -- the standard streaming-dedup
    exactness/state trade (dropDuplicatesWithinWatermark semantics, done
    via applyInPandasWithState because the native operator keeps an
    arbitrary first ROW per key, which is nondeterministic under Spark's
    unordered batches; this keeps the min-id winner deterministic).

    Each arrival EXTENDS the key's timeout (last-arrival + TTL, the
    sliding-TTL form); the source must carry a ``ts`` event time and the
    stream watermarks on it (0s delay -- callers order files by event time,
    the gate's mtime trick), because EventTimeTimeout fires exactly when
    the watermark passes the key's timeout timestamp.
    Output: (text_key, keep_id) per (digest, TTL-window) emission.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from youtubeanalyzerproject_big_data__spark.functions.textfns import normalize

    ttl_ms = DEDUP_TTL_SECONDS * 1000
    stream = _read_stream(spark, source_dir, max_files_per_trigger)
    keyed = stream.select(F.md5(normalize(F.col("text"))).alias("text_key"), "doc_id", "ts").withWatermark(
        "ts", "0 seconds"
    )

    def first_seen_ttl(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()  # idle past TTL: forget the digest entirely
            return
        seen = state.exists and bool(state.get[0])
        keep = None
        ts_max_ms = None
        for pdf in pdfs:
            if len(pdf) == 0:
                continue  # empty Arrow chunk: min/max would yield NaN/NaT
            m = pdf["doc_id"].min()
            keep = m if keep is None else min(keep, m)
            t = pdf["ts"].max()
            t_ms = int(t.value // 1_000_000)  # pandas Timestamp ns -> epoch ms
            ts_max_ms = t_ms if ts_max_ms is None else max(ts_max_ms, t_ms)
        if ts_max_ms is None:
            return  # every chunk empty: leave state/timeout untouched
        state.update((True,))
        state.setTimeoutTimestamp(ts_max_ms + ttl_ms)
        if not seen:
            yield pd.DataFrame({"text_key": [key[0]], "keep_id": [keep]})

    return keyed.groupBy("text_key").applyInPandasWithState(
        first_seen_ttl,
        outputStructType="text_key string, keep_id long",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_sessionize(
    spark: SparkSession,
    source_dir: str,
    gap_seconds: int = 1800,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stateful streaming sessionization via session_window (native state
    operator; applyInPandasWithState would be the route for custom state
    transitions beyond gap-close semantics)."""
    stream = _read_stream(spark, source_dir, max_files_per_trigger)
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", f"{gap_seconds} seconds").alias("sess"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sess.start").alias("session_start"), "n_events")
    )


def stream_interval_join(
    spark: SparkSession,
    source_dir: str,
    window_seconds: int = 300,
    max_files_per_trigger: int | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: error events paired with the same
    user's click events in the following ``window_seconds`` -- the
    streaming twin of joins.interval_join_binned (driver query e5).

    Both sides carry watermarks and the join predicate time-bounds the
    click relative to the error.  That pair is what makes the symmetric
    hash join's state FINITE: an error row is evictable once the click
    watermark passes its window end, a click row once the error watermark
    passes its timestamp.  An unbounded-condition stream-stream join would
    grow state forever -- the scale-defining difference.

    Inner join => rows emit eagerly per micro-batch.  ``how='left_outer'``
    adds the UNMATCHED errors with a null click side -- and those rows are
    held back until the watermark passes the error's window end (only then
    can the engine prove no click will arrive), the state-closure semantics
    driver query se12 pins against a protocol-replaying oracle.
    """
    stream = _read_stream(spark, source_dir, max_files_per_trigger)
    errors = (
        stream.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "10 minutes")
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("clk_id"),
            F.col("user_id").alias("clk_user"),
            F.col("ts").alias("clk_ts"),
        )
        .withWatermark("clk_ts", "10 minutes")
    )
    bound = F.expr(f"err_ts + INTERVAL {window_seconds} SECONDS")
    cond = (
        (F.col("err_user") == F.col("clk_user"))
        & (F.col("clk_ts") >= F.col("err_ts"))
        & (F.col("clk_ts") < bound)
    )
    return errors.join(clicks, cond, how).select("err_id", "err_user", "clk_id", "clk_ts")


def funnel_steps(events: DataFrame, steps: list[str]) -> DataFrame:
    """Ordered-funnel user counts: for each prefix of ``steps``, how many
    users performed those event types in strict timestamp order (each step
    strictly after the previous one -- the product-analytics conversion
    funnel).

    One hash aggregate PER STEP, each over only that step's events
    (filter pushed to the scan), chained by a join on the shrinking
    per-user reach table -- never a per-user event-array collect, so a
    power user with millions of events costs the same shuffle rows as a
    light one.  Timestamps compare as integer epoch-micros (engine- and
    zone-exact).  Returns (step, step_no, n_users), one row per step.
    """
    us = events.select(
        F.col("user_id").alias("u"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("event_type").alias("et"),
    )
    reach: DataFrame | None = None
    counts: list[DataFrame] = []
    for i, step in enumerate(steps):
        cur = us.where(F.col("et") == step)
        if reach is None:
            hit = cur.groupBy("u").agg(F.min("ts_us").alias("t"))
        else:
            hit = (
                cur.join(reach.select("u", F.col("t").alias("t_prev")), "u")
                .where(F.col("ts_us") > F.col("t_prev"))
                .groupBy("u")
                .agg(F.min("ts_us").alias("t"))
            )
        reach = hit
        counts.append(
            hit.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit(step).alias("step"), F.lit(i + 1).cast("long").alias("step_no"), "n_users"
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def session_paths(events: DataFrame, gap_seconds: int = 1800, k: int = 20) -> DataFrame:
    """Top-k event-type sequences per session (path analysis): sessions cut
    at ``gap_seconds`` silence (the e2 rule), each session's ordered event
    types joined into a '>' path, counted across all sessions.

    Shape: one user-partitioned window pass (lag + running session number),
    one (user, session) aggregate whose ordered-collect happens inside the
    group (sort_array over structs -- group-sized, never corpus-sized), one
    model-small path count, TakeOrdered for the top-k.  Timestamps compare
    as integer micros with event_id tiebreaks -- fully deterministic.
    """
    gap_us = gap_seconds * 1_000_000
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    run = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id")).rowsBetween(Window.unboundedPreceding, 0)
    marked = events.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull() | ((F.unix_micros("ts") - F.unix_micros("prev_ts")) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("sess_no", F.sum("new_session").over(run))
    paths = (
        marked.groupBy("user_id", "sess_no")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.unix_micros("ts").alias("t"), F.col("event_id").alias("e"), F.col("event_type").alias("et")))
                    ),
                    lambda s: s["et"],
                ),
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(k)
    )


def conversion_latency(events: DataFrame, from_step: str, to_step: str) -> DataFrame:
    """Funnel conversion-latency distribution: for every user whose first
    ``to_step`` strictly follows their first ``from_step``, the elapsed
    micros between the two firsts; reported as converting-user count plus
    exact latency quartiles and mean -- the "how long does signup-to-
    purchase take" product metric next to f11's "how many convert".

    One filtered min-aggregate per step (pushed filters, map-side
    combine), an equi-join on user, integer epoch-micro arithmetic, and a
    single exact-percentile aggregate over the converting-user-sized
    latency table.  No per-user event arrays, no windows.

    Returns one row: (n_from_users, n_converted, p25_us, p50_us, p75_us,
    mean_us).
    """
    us = events.select(
        F.col("user_id").alias("u"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("event_type").alias("et"),
    )
    first_from = us.where(F.col("et") == from_step).groupBy("u").agg(F.min("ts_us").alias("t0"))
    first_to = us.where(F.col("et") == to_step).groupBy("u").agg(F.min("ts_us").alias("t1"))
    lat = (
        first_from.join(first_to, "u", "left")
        .select("u", "t0", "t1", (F.col("t1") - F.col("t0")).alias("dt"))
    )
    conv = F.col("t1").isNotNull() & (F.col("dt") > 0)
    qs = F.percentile(F.when(conv, F.col("dt")), [0.25, 0.5, 0.75])
    # Mean as exact integer floor(sum/count) -- a float avg's partial sums
    # leave exact-double range on big corpora; -1 sentinels when nobody
    # converts (repo invariant: sentinels, not NULLs).
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_from_users"),
        F.sum(conv.cast("long")).cast("long").alias("n_converted"),
        F.coalesce(F.floor(qs.getItem(0)), F.lit(-1)).cast("long").alias("p25_us"),
        F.coalesce(F.floor(qs.getItem(1)), F.lit(-1)).cast("long").alias("p50_us"),
        F.coalesce(F.floor(qs.getItem(2)), F.lit(-1)).cast("long").alias("p75_us"),
        F.coalesce(
            F.floor(
                F.sum(F.when(conv, F.col("dt"))).cast("long")
                / F.greatest(F.sum(conv.cast("long")), F.lit(1)).cast("double")
            ),
            F.lit(-1),
        ).cast("long").alias("mean_us"),
    )


def hourly_anomaly(events: DataFrame, top_k: int = 20) -> DataFrame:
    """Volume-anomaly screen over the hourly event grid: per event type,
    z-score of each hour's count against that type's own hourly
    distribution, top-``top_k`` hours by |z| -- the monitoring query an
    ingestion pipeline runs to catch traffic spikes/outages before they
    poison training data.

    Cross-engine determinism: with per-type totals H (hours), S = sum n,
    Q = sum n^2 (all exact int64), the population z-score collapses to
      z = (n*H - S) / sqrt(H*Q - S^2)
    -- ONE integer-valued-double division and one sqrt of an exact int64,
    floor-quantized to micros.  Constant series (variance 0) score 0.
    The final cut is a deterministic (|z| desc, event_type, hour)
    TakeOrdered.

    Scale: corpus shuffles once into the hourly grid (map-side combined);
    the per-type moment table is type-cardinality-sized and broadcasts
    back.  No window over the full grid, no data-sized collect.
    """
    hourly = (
        events.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    moments = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("h_cnt"),
        F.sum("n_events").cast("long").alias("s1"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("long").alias("s2"),
    )
    j = hourly.join(F.broadcast(moments), "event_type")
    a = F.col("n_events") * F.col("h_cnt") - F.col("s1")
    b = F.col("h_cnt") * F.col("s2") - F.col("s1") * F.col("s1")
    z_micro = (
        F.when(b > 0, F.floor(a.cast("double") * F.lit(1e6) / F.sqrt(b.cast("double"))))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        j.select("event_type", "hour", "n_events", z_micro.alias("z_micro"))
        # micros/1e6 is already the canonical materialization (both engines
        # IEEE-identical); a same-scale ROUND on top is the fragile half-case
        # (CLAUDE.md) -- dropped, oracle twin dropped in lockstep
        .withColumn("z", F.col("z_micro").cast("double") / F.lit(1e6))
        .orderBy(F.abs(F.col("z_micro")).desc(), "event_type", "hour")
        .limit(top_k)
    )


MG_EMPTY_KEY = -(2**62)
"""Sentinel key for a micro-batch whose Misra-Gries reduction emptied the
summary (every survivor's count equaled the (k+1)-th largest).  Real keys
are event/user ids (>= -1 in every gate fixture), so the sentinel cannot
collide; emitting it keeps n_seen advancing in the output stream instead of
letting downstream max(n_seen) selections fall back to a stale batch
(ADVICE r5 item 3)."""


def _mg_fold(mg: dict, n_seen: int, pdfs, key_col: str, k: int) -> tuple[dict, int]:
    """Fold a stream of pandas batches into a Misra-Gries summary of at
    most ``k`` counters (mergeable-summaries rule, Agarwal et al. 2012):
    add the batch's exact counts, then subtract the (k+1)-th largest and
    keep the strictly positive survivors.  Total error <= n_seen/(k+1), so
    any key with true count > n_seen/(k+1) is always present.  Pure
    (returns the new summary + count); module-level so the reduction --
    including the all-counts-tie case that empties the dict -- is
    unit-testable without streaming machinery."""
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n_seen += len(pdf)
        for u, c in pdf[key_col].value_counts().items():
            mg[int(u)] = mg.get(int(u), 0) + int(c)
        if len(mg) > k:
            t = sorted(mg.values(), reverse=True)[k]
            mg = {u: c - t for u, c in mg.items() if c - t > 0}
    return mg, n_seen


def _mg_rows(shard: int, mg: dict, n_seen: int) -> dict:
    """Column dict for one shard's per-batch emission.  An emptied summary
    still emits ONE sentinel row (MG_EMPTY_KEY, count 0) so every
    micro-batch advances n_seen in the output -- heavy keys can never live
    in an emptied summary, so the gate's containment check is unaffected."""
    if not mg:
        return {"shard": [shard], "key": [MG_EMPTY_KEY], "mg_count": [0], "n_seen": [n_seen]}
    return {
        "shard": [shard] * len(mg),
        "key": list(mg.keys()),
        "mg_count": list(mg.values()),
        "n_seen": [n_seen] * len(mg),
    }


def stream_heavy_hitters(
    spark: SparkSession,
    source_dir: str,
    key_col: str = "hh_key",
    n_shards: int = 4,
    k: int = 8,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters: bounded-state frequent-key
    tracking over an unbounded stream -- the sketch twin of the batch a14
    gate, and the canonical answer to "top talkers, but state must not
    grow with |keys|".

    Each of ``n_shards`` hash shards holds ONE Misra-Gries summary of at
    most ``k`` counters in the state store (applyInPandasWithState;
    state = two arrays + the monotone n_seen counter, so total state is
    n_shards * k counters REGARDLESS of key cardinality).  Batches fold
    in via the mergeable-summaries rule (Agarwal et al. 2012): add the
    batch's counts, then subtract the (k+1)-th largest and keep the
    positive top-k -- total error <= n_seen/(k+1), which preserves the MG
    guarantee that any key with true count > n_seen/(k+1) is ALWAYS in
    the summary (the se7 gate machine-checks exactly that against the
    exact batch counts).

    Emits each shard's current summary every micro-batch (update mode):
    (shard, key, mg_count, n_seen); the final summary per shard is the
    rows with that shard's max n_seen.  A batch whose reduction empties
    the summary (all survivors tie at the (k+1)-th count) emits one
    MG_EMPTY_KEY sentinel row so n_seen still advances in the output.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _read_stream(spark, source_dir, max_files_per_trigger)
    keyed = stream.withColumn("_shard", F.pmod(F.col(key_col), F.lit(n_shards)))

    def update(key, pdfs, state):
        if state.exists:
            users, counts, n_seen = state.get
            mg = dict(zip(users, counts))
        else:
            mg, n_seen = {}, 0
        mg, n_seen = _mg_fold(mg, n_seen, pdfs, key_col, k)
        state.update((list(mg.keys()), list(mg.values()), n_seen))
        yield pd.DataFrame(_mg_rows(int(key[0]), mg, n_seen))

    return keyed.groupBy("_shard").applyInPandasWithState(
        update,
        outputStructType="shard long, key long, mg_count long, n_seen long",
        stateStructType="users array<long>, counts array<long>, n_seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_kmv_distinct(
    spark: SparkSession,
    source_dir: str,
    group_col: str = "hour",
    hash_col: str = "hv",
    k: int = 64,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming KMV (k-minimum-values) distinct-count sketch per group:
    bounded-state cardinality estimation (Bar-Yossef et al. 2002) -- the
    "distinct users per hour, but state must not grow with |users|"
    primitive, the sketch twin of the batch a12 gate.

    State per group is the ``k`` smallest DISTINCT hashes seen plus the
    monotone n_seen row count -- merge is union+dedup+recut, so the final
    state is a pure function of the SET of hashes, independent of
    micro-batch boundaries.  That makes the ESTIMATE itself replayable
    bit-for-bit by a batch engine (rare for a sketch): with the summary
    full, est = (k-1)*2^32 DIV kth_min (integer), else the exact tracked
    count.  The caller computes the hash Catalyst-side (md5_int32 family,
    oracle-portable); this operator only merges integers.

    Emits (group, n_tracked, kth_min, est_distinct, n_seen) per
    micro-batch in update mode; the final summary per group is the rows
    with that group's max n_seen.
    """
    import pandas as pd
    from pyspark.sql.streaming import state as _state  # GroupStateTimeout

    stream = _read_stream(spark, source_dir, max_files_per_trigger)

    def update(key, pdfs, state):
        if state.exists:
            hs, n_seen = state.get
            hs = list(hs)
        else:
            hs, n_seen = [], 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n_seen += len(pdf)
            merged = set(hs)
            merged.update(int(v) for v in pdf[hash_col])
            hs = sorted(merged)[:k]
        state.update((hs, n_seen))
        n_tracked = len(hs)
        kth = hs[-1] if hs else 0
        full = n_tracked >= k
        est = ((k - 1) * 4294967296) // kth if full and kth > 0 else n_tracked
        yield pd.DataFrame(
            {
                "group": [key[0]],
                "n_tracked": [n_tracked],
                "kth_min": [kth],
                "est_distinct": [est],
                "n_seen": [n_seen],
            }
        )

    return stream.withColumnRenamed(group_col, "group").groupBy("group").applyInPandasWithState(
        update,
        outputStructType="group timestamp, n_tracked long, kth_min long, est_distinct long, n_seen long",
        stateStructType="hs array<long>, n_seen long",
        outputMode="update",
        timeoutConf=_state.GroupStateTimeout.NoTimeout,
    )


def stream_static_enrich(
    spark: SparkSession,
    source_dir: str,
    static_dim: DataFrame,
    key_col: str,
    dim_key: str,
    dim_payload: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream-static enrichment + aggregation: each micro-batch joins the
    (unbounded) stream against a STATIC dimension and aggregates per
    dimension attribute -- the third streaming join shape next to
    stream-stream interval (se3) and stateful fold (se5): stateless per
    batch on the join side, so no watermark and no join state; only the
    downstream complete-mode aggregate carries state (attribute-
    cardinality-sized).

    The dimension is broadcast-hinted: at cluster scale the static side
    re-broadcasts per micro-batch, which is exactly what you want for a
    dimension (fresh snapshot isolation per trigger is the documented
    Spark semantic for stream-static joins).  Unmatched stream keys keep a
    '__none__' sentinel attribute (no NULL groups in outputs).
    """
    stream = _read_stream(spark, source_dir, max_files_per_trigger)
    dim = static_dim.select(F.col(dim_key).alias("_dk"), F.col(dim_payload).alias("_attr"))
    joined = stream.join(F.broadcast(dim), stream[key_col] == F.col("_dk"), "left")
    return (
        joined.groupBy(F.coalesce(F.col("_attr"), F.lit("__none__")).alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "sum_value"),
        )
    )
