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
