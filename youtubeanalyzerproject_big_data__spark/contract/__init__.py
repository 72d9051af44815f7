"""The query contract: every declared query with its DuckDB oracle twin.

A query is declared once, on its ``q_*`` body in a family module::

    @query("a9_distinct_customers", bench=True, oracle="SELECT ...")
    def q_a9(spark, sf): ...

``oracle`` is the DuckDB twin (None = rows-only check); ``bench`` puts the
query in bench.py's run set and ``stdout`` in its printed subset.
``queries()`` and ``oracle_sql()`` are derived from the declarations.

Cross-engine determinism rules used throughout (see
youtubeanalyzerproject_big_data__spark/functions/precision.py):
  * SUM/AVG of doubles go through exact DECIMAL(18,6)-input arithmetic
    (long-backed fast path; sum buffers auto-widen, staying exact).
  * Float outputs are ROUNDed (4-6 dp) identically on both sides.
  * Every ORDER BY ... LIMIT has a deterministic tiebreak key.
  * Hashes that appear in results are md5-derived (portable), never
    Spark-native hash/xxhash64.
  * Timestamp queries pin the session timezone to UTC.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class Query(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    bench: bool
    stdout: bool


_DECLARED: dict[str, Query] = {}


def query(name: str, *, oracle: str | None, bench: bool = False, stdout: bool = False):
    """Declare the decorated ``q_*`` body as query ``name``; a name may be
    declared only once."""

    def declare(fn: Callable[[SparkSession, str], DataFrame]):
        if name in _DECLARED:
            raise ValueError(f"query {name!r} is already declared")
        _DECLARED[name] = Query(fn, oracle, bench, stdout)
        return fn

    return declare


def declared() -> dict[str, Query]:
    return dict(_DECLARED)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in _DECLARED.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in _DECLARED.items() if q.oracle is not None}


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# The family modules declare their queries on import.
from youtubeanalyzerproject_big_data__spark.contract import (  # noqa: E402,F401
    relational,
    tpch,
    events,
    graph,
    dedup,
    text,
    vectors,
    media,
    lake,
    quality,
    ml,
)
