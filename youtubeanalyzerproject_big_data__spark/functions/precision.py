"""Cross-engine deterministic numeric aggregates.

Floating-point SUM/AVG over many rows is order-dependent; Spark and the
DuckDB oracle would disagree in the last ulps and fail value-hash checks.
Fix: route sums through exact DECIMAL arithmetic (associative, so partial
aggregation / AQE re-partitioning cannot change the result), cast back to
double, and round.  The same recipe is mirrored in the oracle SQL
(the contract's oracle twins, `contract/_sql.py`).

This also matters at 100 TB: decimal sums keep map-side partial aggregation
(HashAggregateExec partial+final) bit-identical regardless of partitioning,
so results are reproducible across cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Input cast precision 18 (12 integer digits -- ample for any single
# measure value): Spark backs decimals of <= 18 digits with an unscaled
# LONG, so the cast and the aggregation run the compact fast path (~3x
# faster than a 28-digit cast, measured).  SUM's buffer auto-widens to
# decimal(28,6), so totals stay exact up to 1e22 -- no overflow even at
# 100 TB row counts.
DEC = "decimal(18,6)"

# One micro: the six-decimal output scale of dec_avg, ratio_round and
# their DuckDB twins contract/_sql._davg and dratio_sql.
MICROS = 1_000_000


def dec_sum_col(col: str | Column) -> Column:
    """Exact SUM of a double column as an UNALIASED double Column.

    The double materializes through int64 micros -- ``double(micros) / 1e6``
    -- NOT through a direct decimal->double cast.  Why: int64->double
    conversion and division by the exactly-representable 1e6 are both
    IEEE-correctly-rounded primitives, identical on the JVM and DuckDB at
    ANY magnitude; a decimal->double cast of an 18-significant-digit sum
    is NOT (BigDecimal.doubleValue converts once, DuckDB scales an int128
    by 1e-6 -- they landed 1 ulp apart on tpch_q1's sf10 replay, the
    round-6 sf10 catch).  The decimal sum itself stays the exact,
    partial-aggregation-safe accumulator; only the final double
    materialization changes.  Exact until |sum| micros overflows int64
    (|sum| ~ 9.2e12 in one group -- beyond any gate or tiled replay).

    SQL twin: ``CAST(CAST(SUM(CAST(x AS DECIMAL(18,6))) * 1000000
    AS BIGINT) AS DOUBLE) / 1000000`` (`contract/_sql._dsum`).
    """
    c = F.col(col) if isinstance(col, str) else col
    micros = (F.sum(c.cast(DEC)) * 1_000_000).cast("long")
    return micros.cast("double") / F.lit(1_000_000.0)


def dec_sum(col: str | Column, alias: str) -> Column:
    """Exact SUM of a double column, returned as double (see dec_sum_col)."""
    return dec_sum_col(col).alias(alias)


def dec_sum_round(col: str | Column, scale: int) -> Column:
    """dec_sum_col with the output HALF-UP rounded to ``scale`` < 6 decimals,
    decided entirely in INTEGER micro space -- never ROUND(double, scale).

    Why: at |sum| ~ 3.5e11 a double's ulp is ~6e-5, so the 4th decimal sits
    at the precision limit and Spark's round (exact-BigDecimal HALF_UP of
    the double's true value) and DuckDB's (scale-multiply of the double,
    whose product can land ON a half) disagree by one output ulp.  First
    hit: q5's revenue at the sf30 replay (.4200 vs .4201) -- the round-9
    fourth-decade catch, same family as e1's dec_avg (sf1) and tpch_q1's
    dec_sum (sf10).  Here the half-up decision runs on exact int64 micros
    (add half, strip pmod remainder -- no doubles anywhere near the
    decision, honoring the 2^53 lesson), and only the final
    int64 -> double / 1e6 materialization -- IEEE-correctly-rounded in
    both engines -- touches floating point.

    SQL twin: ``contract/_sql._dsum_round``.
    """
    if not 0 <= scale < 6:
        raise ValueError("dec_sum_round is for scale < 6; use dec_sum at scale 6")
    c = F.col(col) if isinstance(col, str) else col
    m = (F.sum(c.cast(DEC)) * 1_000_000).cast("long")
    q = 10 ** (6 - scale)
    a = F.abs(m) + F.lit(q // 2)
    rounded_abs = a - F.pmod(a, F.lit(q))
    rounded = F.when(m < 0, -rounded_abs).otherwise(rounded_abs)
    return rounded.cast("double") / F.lit(1_000_000.0)


def dec_avg(col: str | Column, alias: str) -> Column:
    """Deterministic AVG, HALF-UP at six decimals via ALL-INTEGER
    arithmetic -- no double division anywhere near the rounding decision.

    The old form (round(double(dec_sum)/count, 6)) diverged from the
    DuckDB oracle on exact half cases: sum/count = x.xxxxxx5 makes Spark
    HALF_UP the double's full decimal expansion while DuckDB rounds the
    10^6-scaled double, and the two disagree by one last-digit ulp.
    Invisible at sf0.1; the sf1 replay hit it on its first run
    (e1 avg_value = 13911.3/320 = 43.4728125 exactly).

    New recipe, exact at every step: s = the 10^6-scaled decimal sum
    as int64; r = |s| mod n (exact JVM long op); the integer quotient
    (|s|-r)/n is recovered through DECIMAL division -- (|s|-r) is an exact
    multiple of n, the true quotient is an integer, and Spark evaluates
    decimal/decimal exactly before rounding to the result scale, so the
    long cast is bit-exact for every |s| that fits int64; the half-up
    bump is the integer test 2r >= n.  The final avg = q/10^6 is one
    exact double op both engines perform identically.

    (Historical: the first integer recipe recovered the quotient with
    round((|s|-r)/n) through DOUBLE division.  The precision property
    fuzz caught it 1 micro off at |s| ~ 4.2e16: past 2^53 the long ->
    double conversion of (|s|-r) itself quantizes, so the division error
    reaches ~n/2 micros and round() restores the wrong integer -- while
    the DuckDB twin's native // stayed exact.  Reachable at 100 TB group
    sums; hence the decimal division.)

    SQL twin (oracle `_davg`): same integers with DuckDB's native ``//``
    and ``%``.  Bounds: |scaled sum| must fit int64 (< 9.2e18).
    """
    c = F.col(col) if isinstance(col, str) else col
    p = MICROS
    s = (F.sum(c.cast(DEC)) * p).cast("long")
    n = F.count(c)
    s_abs = F.abs(s)
    r = F.pmod(s_abs, n)
    dec38 = "decimal(38,0)"
    q = ((s_abs - r).cast(dec38) / n.cast(dec38)).cast("long") + (F.lit(2) * r >= n).cast("long")
    return (F.when(s < 0, -q).otherwise(q).cast("double") / F.lit(float(p))).alias(alias)


def ratio_round(num: str | Column, den: str | Column, alias: str | None = None) -> Column:
    """HALF-UP rounding of an INTEGER ratio num/den at six decimals,
    decided on exact integers -- the per-row sibling of dec_avg.

    ``ROUND(num/den, 6)`` on the double quotient is input-fragile: when the
    true rational lands exactly on a 7th-digit half (reduced denominator of
    the 2^a*5^b family -- e.g. 41/640 = 0.0640625) the double sits one side
    of the half and Spark's exact-expansion HALF_UP vs DuckDB's
    scale-multiply round can split by one output ulp (probed: 10 divergent
    (p, q) pairs out of 2329 enumerated half-landing cases; the e1/q5 bug
    family).  Here the rounding decision is the integer floor
    ((2*10^6*|num| + den) // (2*den)) -- floor(x + 1/2) of the exact
    rational -- with the exact-multiple division recovered through
    decimal(38,0) exactly as dec_avg (a double division silently breaks
    past 2^53).  The final micros -> double /10^6 materialization is
    IEEE-correctly-rounded in both engines.

    Requires den > 0 and |num/den|*10^6 < 9.2e18 (the QUOTIENT must fit
    int64; the intermediate 2*10^6*|num| is computed in decimal(38,0), so
    there is NO int64 bound on num itself -- the first long-space draft
    overflowed on i1's group-sum micros, 2e6 * 1e15).  SQL twin:
    ``precision.dratio_sql`` (HUGEINT intermediates).
    """
    p = MICROS
    nm = (F.col(num) if isinstance(num, str) else num).cast("long")
    dn = (F.col(den) if isinstance(den, str) else den).cast("long")
    dec38 = "decimal(38,0)"
    t = F.abs(nm).cast(dec38) * F.lit(2 * p) + dn.cast(dec38)
    two_d = dn.cast(dec38) * F.lit(2)
    r = F.pmod(t, two_d)
    q = ((t - r) / two_d).cast("long")
    out = (F.when(nm < 0, -q).otherwise(q).cast("double") / F.lit(float(p)))
    return out.alias(alias) if alias else out


def micro_round(col: str | Column, alias: str | None = None, scale: int = 6) -> Column:
    """Cross-engine deterministic replacement for ``ROUND(double_x, 6)`` on
    DOUBLE-VALUED quotients (cosines, ratios of double sums) where no exact
    integer form exists: ``floor(x * 10^s + 0.5) / 10^s`` -- every step a
    pure IEEE double op (multiply, add, floor, int64 cast, divide) that
    both engines compute bit-for-bit, unlike ROUND (Spark rounds the
    double's exact decimal expansion, DuckDB rounds the scaled product;
    they split when the scaled value sits on a half -- CLAUDE.md float->
    micro invariant).  Ties round toward +inf rather than away from zero;
    for the contract's in-[-1,1] similarity outputs the distinction never
    materialized, and cross-engine identity is the contract, not decimal
    HALF_UP.  SQL twin: ``contract/_sql._dmicro``."""
    p = float(10**scale)
    c = (F.col(col) if isinstance(col, str) else col).cast("double")
    out = F.floor(c * F.lit(p) + F.lit(0.5)).cast("double") / F.lit(p)
    return out.alias(alias) if alias else out


def dratio_sql(num: str, den: str) -> str:
    """DuckDB twin of ratio_round -- ALL-INTEGER half-up of an integer
    ratio (HUGEINT intermediates mirror the Spark side's decimal(38,0), so
    group-sum-micro numerators never overflow; // and % are exact; requires
    den > 0).  Lives here (not in contract/_sql) so tools/segmented_oracle.py
    shares the one definition, same pattern as hashing.md5_int32_lane_sql."""
    p = MICROS
    t = f"(CAST({2 * p} AS HUGEINT) * ABS(CAST({num} AS HUGEINT)) + CAST({den} AS HUGEINT))"
    d2 = f"(2 * CAST({den} AS HUGEINT))"
    q = f"CAST(({t} - {t} % {d2}) // {d2} AS BIGINT)"
    return f"(CAST(CASE WHEN {num} < 0 THEN -{q} ELSE {q} END AS DOUBLE) / {p}.0)"


def dmicro_sql(expr: str, scale: int = 6) -> str:
    """DuckDB twin of micro_round: floor(x*10^s + 0.5)/10^s on a DOUBLE --
    pure IEEE ops both engines compute bit-for-bit."""
    p = 10**scale
    return f"(CAST(floor(CAST({expr} AS DOUBLE) * {p} + 0.5) AS BIGINT) / {p}.0)"
