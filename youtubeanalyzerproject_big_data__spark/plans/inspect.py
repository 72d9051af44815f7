"""Physical-plan inspection utilities.

The engine has no optimizer of its own -- Catalyst plans everything
(SURVEY.md par.4) -- so the engineering discipline lives in VERIFYING that
the executed plans carry the shapes the 100 TB design depends on: filters
pushed into parquet scans, pruned read schemas, broadcast dimension joins,
TakeOrderedAndProject top-K, no shuffles in map-only pipelines.  These
helpers back tests/test_plans.py and ad-hoc `.explain` review.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """String form of the EXECUTED physical plan (post-AQE where adaptive)."""
    return df._jdf.queryExecution().executedPlan().toString()


def scan_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each scan -- the column-pruning evidence."""
    out = []
    for line in executed_plan(df).splitlines():
        if "ReadSchema:" in line:
            out.append(line.split("ReadSchema:", 1)[1].strip())
    return out


def stage_metrics(spark) -> dict[str, int]:
    """Cumulative physical-execution counters from Spark's AppStatusStore
    (works with the UI disabled): shuffle read/write bytes, input bytes,
    executor run time, stage count.  Snapshot before/after a query and
    diff -- shuffle VOLUME is the durable perf signal wall-clock noise
    can't fake (VERDICT r5 item 7): a plan regression that re-shuffles an
    edge-sized table shows up as bytes immediately, at any box load.

    Caveat: the store retains spark.ui.retainedStages (default 1000)
    stages; a diff spanning an eviction undercounts.  Snapshot tightly
    around one query (bench does) and the window is dozens of stages.
    A drifted internal API raises: zeros would read as "shuffled nothing".
    """
    sc = spark.sparkContext
    jvm = spark._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out = {"shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "input_bytes": 0,
           "executor_run_ms": 0, "n_stages": 0}
    it = stages.iterator()
    while it.hasNext():
        s = it.next()
        out["shuffle_read_bytes"] += s.shuffleReadBytes()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["input_bytes"] += s.inputBytes()
        out["executor_run_ms"] += s.executorRunTime()
        out["n_stages"] += 1
    return out
