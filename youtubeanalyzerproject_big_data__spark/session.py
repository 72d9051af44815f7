"""SparkSession factory.

The reference hand-tunes each job's session (Kryo buffers, 8-16g heaps,
``repartition(400)`` -- PageRank_Spark_v5.py:29-31,94-95;
run_alsrecs_job.py:36-42).  The new engine centralises that into one factory
with AQE enabled so runtime re-planning (coalescing, skew splitting,
broadcast demotion/promotion) replaces hand-scheduling.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

# Cores of the local session (``local[CPUS]``), which is also its shuffle
# partition count; read once, at import.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def loop_partitions(df: DataFrame) -> int:
    """Partition count of a data-sized layout: 1 when Catalyst's size
    estimate of ``df``'s plan (plan statistics, no pass) fits one
    ``spark.sql.adaptive.coalescePartitions.minPartitionSize`` (the crawl
    graph: 0.10 MB), else ``spark.sql.shuffle.partitions``.  The one rule
    behind :func:`data_sized`; callers lay tables out through that.

    No count in between: a rank round's dst aggregate shuffles into
    ``spark.sql.shuffle.partitions`` pieces, so a narrower layout either
    drops the aggregate's map-side combine (g5 at sf0.1, 6 of 8 pieces:
    107 vs 63 MB) or re-shuffles the edge table every round (151 MB)."""
    spark = df.sparkSession
    est = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    floor = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    )
    return 1 if est <= floor else int(spark.conf.get("spark.sql.shuffle.partitions"))


def data_sized(df: DataFrame, key: str | None = None) -> DataFrame:
    """``df`` in its data-sized layout, the one layout helper that jobs,
    graph and serve share.  On one piece (:func:`loop_partitions` is 1) it
    is ``df.coalesce(1)``: a narrow step, no shuffle, and its
    ``SinglePartition`` output satisfies every downstream aggregate, sort,
    window and shuffle-hash join without an exchange.  Otherwise it is
    ``df.repartition(n, key)``, or ``df`` unchanged (its source partitions)
    when no key is given."""
    n = loop_partitions(df)
    if n == 1:
        return df.coalesce(1)
    return df if key is None else df.repartition(n, key)


LIVE_PLANS = False
"""True makes :func:`pin` hand its frame back live and release nothing, so
plan tests and ``tools/capture_plans.py --no-ckpt`` see the whole lineage
(the caller then owns any cache the operator built).  Production code
never sets it: the pins are what keep loop plans bounded."""


def pin(df: DataFrame, *release: DataFrame) -> DataFrame:
    """The one materialization step: ``df.localCheckpoint(eager=True)``
    (the bounded result computed once, its lineage cut), then :func:`free`
    on each frame of ``release``, which the pinned result no longer
    reads.  Under :data:`LIVE_PLANS`, ``df`` itself and nothing released."""
    if LIVE_PLANS:
        return df
    pinned = df.localCheckpoint(eager=True)
    free(*release)
    return pinned


def free(*frames: DataFrame) -> None:
    """Drop each frame's stored blocks: a cache through ``unpersist()``; a
    pinned frame through its checkpoint RDD, since ``unpersist()`` on a
    ``localCheckpoint`` result leaves the blocks stored (Spark 4.1: the
    RDD stays in ``getRDDStorageInfo()``).  Nothing may read them after."""
    for df in frames:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)
        else:
            df.unpersist()


# All engine scratch (Spark local dirs for shuffle/blockmgr spill, streaming
# source/sink/checkpoint dirs, layout-query write-read dirs) lives under the
# repo, NOT /tmp.  Round 7's post-round bench and verify both died with
# FileNotFoundException on /tmp/blockmgr-*/NN/temp_shuffle_* -- Spark's
# lazily-created shuffle subdirs vanished mid-write, the signature of an
# external /tmp sweep racing a live JVM.  A repo-local scratch root is
# outside any system tmp cleaner's reach; .tmp/ is gitignored.
SCRATCH_ROOT = os.environ.get(
    "SPARK_GRAFT_SCRATCH",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp"),
)


def scratch_dir(prefix: str) -> str:
    """mkdtemp under the repo-local scratch root (sweep-safe; caller cleans up)."""
    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=SCRATCH_ROOT)


def scratch_free_gb() -> float:
    """Free space (GB) on the volume holding the scratch root -- the cheap,
    truthful bound signal for multi-hour scale sweeps (walking the blockmgr
    tree itself costs minutes at sf10)."""
    import shutil

    os.makedirs(SCRATCH_ROOT, exist_ok=True)
    return shutil.disk_usage(SCRATCH_ROOT).free / 1e9

# Streaming state-store backends.  'hdfs' (Spark's default) keeps state as
# in-memory maps snapshotted to the checkpoint dir -- fine while every
# executor's keys fit in heap.  'rocksdb' spills state to local SSD with
# incremental checkpointing -- the provider that makes bounded-state claims
# (se6's TTL design) real at 100 TB key cardinalities.  The conf is a
# per-session SQLConf read at query start, so it can also be flipped at
# runtime: spark.conf.set('spark.sql.streaming.stateStore.providerClass', ...).
STATE_STORE_PROVIDERS = {
    "hdfs": "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb": "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}


def get_spark(
    app_name: str = "youtubeanalyzer-spark",
    master: str | None = None,
    state_store: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    At test scale we run ``local[N]``; at cluster scale the same settings
    hold: AQE owns post-shuffle partition counts, so
    ``spark.sql.shuffle.partitions`` is an upper bound, not a schedule.

    ``state_store`` ('hdfs' | 'rocksdb', default Spark's own): streaming
    state backend; see STATE_STORE_PROVIDERS.
    Applied via spark.conf.set so it takes effect even when an existing
    session is reused (builder confs don't reach a live session).
    """
    if state_store is not None and state_store not in STATE_STORE_PROVIDERS:
        raise ValueError(f"unknown state_store {state_store!r}; pick from {sorted(STATE_STORE_PROVIDERS)}")
    # spark.local.dir is read once at JVM start; pointing it at the repo-local
    # scratch keeps blockmgr/shuffle temp out of /tmp (see SCRATCH_ROOT note).
    spark_local = os.path.join(SCRATCH_ROOT, "spark-local")
    os.makedirs(spark_local, exist_ok=True)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{CPUS}]")
        .config("spark.local.dir", spark_local)
        # AQE: runtime coalescing of shuffle partitions, skew-join splitting,
        # sort-merge -> broadcast conversion when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        # Arrow for any toPandas()/mapInPandas boundary (multimodal, ALS export).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Keep parquet scans splittable at cluster scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # The AppStatusStore backs perfbench.meter.SparkCounters (per-job-
        # group stage totals: perfbench, bench.py and tools/bench_isolated
        # shuffle bytes) even with the UI off; retain enough stages that a
        # group's stages are still stored when it is read back.
        .config("spark.ui.retainedStages", "20000")
        # Console progress bars write \r-framed [Stage ...] lines to stdout;
        # harness channels that tail-capture stdout (bench.py's one-line JSON
        # contract) get their buffer eaten by them, so keep stdout clean.
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = builder.getOrCreate()
    if state_store is not None:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", STATE_STORE_PROVIDERS[state_store])
    return spark
