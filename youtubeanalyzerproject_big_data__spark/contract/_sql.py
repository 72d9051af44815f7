"""Shared DuckDB SQL fragments of the oracle twins."""

from __future__ import annotations

# _dratio / _dmicro: the integer-half-up ratio and IEEE micro-round SQL
# twins of precision.ratio_round / precision.micro_round (defined in the
# package so tools/segmented_oracle.py shares them; see their docstrings
# for the 41/640-class engine divergence they close).
from youtubeanalyzerproject_big_data__spark.functions.precision import (
    MICROS,
    dmicro_sql as _dmicro,
    dratio_sql as _dratio,
)


def _dsum(col_expr: str) -> str:
    # Twin of precision.dec_sum_col: the double materializes via int64
    # micros (int->double and /1e6 are IEEE-correctly-rounded in both
    # engines at any magnitude); a direct decimal->double cast diverged by
    # 1 ulp at 18 significant digits (tpch_q1, sf10 replay).
    return (
        f"(CAST(CAST(SUM(CAST({col_expr} AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
        f" AS DOUBLE) / 1000000)"
    )


def _davg(col_expr: str) -> str:
    # ALL-INTEGER half-up average -- the exact twin of precision.dec_avg
    # (see its docstring: the ROUND(double/count) form diverged on exact
    # half cases, first caught by the sf1 replay on e1).  DuckDB's // and %
    # are native int64 ops, so every step is exact.
    p = MICROS
    s = f"CAST(SUM(CAST({col_expr} AS DECIMAL(18,6))) * {p} AS BIGINT)"
    n = f"COUNT({col_expr})"
    q = f"((ABS({s}) - ABS({s}) % {n}) // {n} + CASE WHEN 2 * (ABS({s}) % {n}) >= {n} THEN 1 ELSE 0 END)"
    return f"(CAST(CASE WHEN {s} < 0 THEN -{q} ELSE {q} END AS DOUBLE) / {p}.0)"


def _dsum_round(col_expr: str, scale: int) -> str:
    # Twin of precision.dec_sum_round: HALF-UP at scale < 6 decided on
    # exact int64 micros (ROUND(double, scale) is ulp-fragile once the
    # scaled product's ulp reaches ~0.5 -- q5's revenue at the sf30
    # replay, the round-9 catch).  % on BIGINT is exact in DuckDB.
    q = 10 ** (6 - scale)
    a = f"(ABS(CAST(SUM(CAST({col_expr} AS DECIMAL(18,6))) * 1000000 AS BIGINT)) + {q // 2})"
    m = f"CAST(SUM(CAST({col_expr} AS DECIMAL(18,6))) * 1000000 AS BIGINT)"
    return (
        f"(CAST(CASE WHEN {m} < 0 THEN -({a} - {a} % {q}) ELSE ({a} - {a} % {q}) END"
        f" AS DOUBLE) / 1000000)"
    )


# DuckDB cosine fragment: exact per-element double arithmetic (matches the
# left-to-right fold of the Arrow cosine kernel, functions/_arrow_udfs.py).
def _cos_sql(a: str, b: str) -> str:
    d = f"list_sum(list_transform(generate_series(1, len({a})), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    na = f"sqrt(list_sum(list_transform(generate_series(1, len({a})), i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
    nb = f"sqrt(list_sum(list_transform(generate_series(1, len({b})), i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))"
    return f"({d} / ({na} * {nb}))"
