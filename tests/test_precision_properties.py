"""Property-fuzz the exact-integer kernels at their documented boundaries.

Every CLAUDE.md precision invariant encodes an edge found by a scale replay
AFTER shipping (dec_avg's half case by e1 at sf1, dec_sum's decimal->double
ulp by tpch_q1 at sf10, the ppm int64 overflow by m6's AUC math).  These
tests drive each helper TO its stated boundary before a replay has to:

- hypothesis fuzz of the pure-integer MODELS against DuckDB (the actual
  oracle engine), cheap enough for hundreds of examples -- half-up averages
  with engineered 2r==n halves, micro-sums at 17/18/19 significant digits,
  signed big-int ppm vs HUGEINT floor division;
- batched Spark jobs (ONE job covering all seeded cases, not one per
  example) proving the Spark expressions match the same models, including
  the HITS renorm `(v * quantum) div mx` at the 2^63 ceiling.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# pure-integer models (the contracts the Spark + DuckDB twins both implement)
# ---------------------------------------------------------------------------

P6 = 10**6


def model_dsum(micros: list[int]) -> float:
    """precision.dec_sum contract: exact integer micro sum -> double / 1e6."""
    return float(sum(micros)) / 1e6


def model_davg(micros: list[int], scale: int = 6) -> float:
    """precision.dec_avg contract: all-integer half-up at `scale` decimals."""
    s, n = sum(micros), len(micros)
    s_abs = abs(s)
    r = s_abs % n
    q = (s_abs - r) // n + (1 if 2 * r >= n else 0)
    return float(-q if s < 0 else q) / float(10**scale)


def model_ppm(num: int, den: int) -> int:
    """The q14/m6/e18 ppm contract: big-int floor division of |1e6*num|,
    sign restored (truncation toward zero for negative numerators)."""
    return -((1_000_000 * -num) // den) if num < 0 else (1_000_000 * num) // den


def _davg_sql(scale: int = 6) -> str:
    # mirrors __spark_entry__._davg with the micro sum fed directly
    p = 10**scale
    s = "s"
    q = f"((ABS({s}) - ABS({s}) % n) // n + CASE WHEN 2 * (ABS({s}) % n) >= n THEN 1 ELSE 0 END)"
    return f"SELECT CAST(CASE WHEN {s} < 0 THEN -{q} ELSE {q} END AS DOUBLE) / {p}.0 AS avg FROM t"


# micro values representable through the decimal(18,6) input cast:
# |value| < 1e12 -> |micros| < 1e18 per row keeps the decimal path intact;
# per-row cap 1e17 lets 20-row sums reach 18-19 significant digits.
_micro = st.integers(min_value=-(10**17), max_value=10**17)


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_micro, min_size=1, max_size=20))
def test_dsum_model_matches_duckdb(micros):
    """The int64-micros double materialization agrees between Python's
    int->float (driver-side materializations like q_q8) and DuckDB's
    BIGINT->DOUBLE cast, including 17/18/19-significant-digit sums where
    the old decimal->double cast diverged."""
    con = duckdb.connect()
    got = con.execute(
        f"SELECT CAST({sum(micros)} AS DOUBLE) / 1000000 AS v"
    ).fetchone()[0]
    assert got == model_dsum(micros)


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(min_value=1, max_value=10**6),  # count n
    st.integers(min_value=-(10**12), max_value=10**12),  # integer quotient q
    st.integers(min_value=0, max_value=3),  # remainder style
    st.data(),
)
def test_davg_model_matches_duckdb_at_halves(n, q, style, data):
    """The all-integer half-up average agrees with the DuckDB _davg twin,
    with remainders engineered to land ON and AROUND the exact half
    (2r == n) where the old double ROUND diverged (e1, sf1 replay)."""
    if style == 0:
        r = 0
    elif style == 1:
        r = n // 2  # 2r == n when n even: the exact half
    elif style == 2:
        r = max(0, n // 2 - 1)
    else:
        r = data.draw(st.integers(min_value=0, max_value=n - 1))
    s = q * n + (r if q >= 0 else -r)  # keep |s| % n == r
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT CAST({s} AS BIGINT) AS s, CAST({n} AS BIGINT) AS n")
    got = con.execute(_davg_sql()).fetchone()[0]
    # feed the model n synthetic micro rows summing to s
    base, last = divmod(s, n)
    micros = [base] * (n - 1) + [base + last] if n > 1 else [s]
    assert got == model_davg(micros) == pytest.approx(got, abs=0.0)


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(min_value=-(10**24), max_value=10**24),  # numerator past int64
    st.integers(min_value=1, max_value=10**24),
)
def test_ppm_bigint_matches_duckdb_hugeint(num, den):
    """The driver-side Python big-int ppm (q14/m6/e18 recipe: 1e6 * a
    corpus-sized count can exceed int64) agrees with the HUGEINT oracle
    twin for both signs, including numerators far past 2^63."""
    con = duckdb.connect()
    got = con.execute(
        f"""SELECT CASE WHEN CAST({num} AS HUGEINT) < 0
                 THEN -((1000000 * (-CAST({num} AS HUGEINT))) // CAST({den} AS HUGEINT))
                 ELSE (1000000 * CAST({num} AS HUGEINT)) // CAST({den} AS HUGEINT) END"""
    ).fetchone()[0]
    assert int(got) == model_ppm(num, den)


@settings(max_examples=150, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.floats(min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False))
def test_float_micro_quantization_matches_duckdb(x):
    """The em6 lesson: float -> integer-micros must be
    floor(double(x) * 1e6 + 0.5) (pure IEEE ops) -- fuzz that DuckDB's
    evaluation of the same expression agrees bit-for-bit with Python's."""
    import math

    con = duckdb.connect()
    # bind the double as a parameter: a 17-digit literal would be parsed as
    # DECIMAL first, whose to-double conversion can land 1 ulp off strtod
    # (observed at 180143985.56319046) -- real queries feed both engines
    # identical parquet doubles, which binding reproduces
    got = con.execute(
        "SELECT CAST(FLOOR(CAST(? AS DOUBLE) * 1e6 + 0.5) AS BIGINT)", [x]
    ).fetchone()[0]
    assert int(got) == int(math.floor(x * 1e6 + 0.5))


# ---------------------------------------------------------------------------
# batched Spark twins: one job per kernel covering every seeded case
# ---------------------------------------------------------------------------


def test_spark_dec_kernels_match_model_batched(spark):
    """dec_sum / dec_avg over ~160 fuzzed groups in ONE Spark job, each
    group compared to the integer model: explicit 2r==n halves, negative
    sums, and 17/18/19-significant-digit totals (the tpch_q1 ulp zone)."""
    from youtubeanalyzerproject_big_data__spark.functions.precision import dec_avg, dec_sum

    rng = random.Random(7)
    groups: dict[int, list[int]] = {}
    gid = 0
    # engineered halves: s = q*n + n/2 with n even
    for _ in range(40):
        n = rng.randrange(2, 40, 2)
        q = rng.randint(-(10**9), 10**9)
        s = q * n + n // 2
        base, last = divmod(s, n)
        groups[gid] = [base] * (n - 1) + [base + last]
        gid += 1
    # large-magnitude sums: 17/18/19 significant digits of micros
    for digits in (17, 18, 19):
        for _ in range(20):
            n = rng.randint(2, 12)
            target = rng.randint(10 ** (digits - 1), 10**digits - 1) * rng.choice((1, -1))
            per = target // n
            if abs(per) >= 10**17:  # keep each value within the decimal(18,6) input
                per = (10**17 - 1) * (1 if per >= 0 else -1)
                target = per * n + rng.randint(0, n - 1)
            vals = [per] * (n - 1)
            vals.append(target - per * (n - 1))
            groups[gid] = vals
            gid += 1
    # uniform noise groups
    for _ in range(60):
        n = rng.randint(1, 25)
        groups[gid] = [rng.randint(-(10**13), 10**13) for _ in range(n)]
        gid += 1

    rows = [(g, m / 1e6) for g, ms in groups.items() for m in ms]
    df = spark.createDataFrame(rows, "g long, v double")
    out = {
        r["g"]: (r["s"], r["a"])
        for r in df.groupBy("g").agg(dec_sum("v", "s"), dec_avg("v", "a")).collect()
    }
    for g, ms in groups.items():
        # the double v = m/1e6 recovers m through the decimal(18,6) cast only
        # while distinct micro values stay distinct as doubles (|m| < 2^52);
        # past that, assert against the AS-CAST micros instead
        if all(abs(m) < 2**52 for m in ms):
            cast_ms = ms
            tag = ""
        else:
            cast_ms = [
                int(r["m"])
                for r in spark.createDataFrame([(m / 1e6,) for m in ms], "v double")
                .select((F.col("v").cast("decimal(18,6)") * P6).cast("long").alias("m"))
                .collect()
            ]
            tag = " (quantized)"
        assert out[g][0] == model_dsum(cast_ms), f"dec_sum group {g}{tag}"
        # dec_avg is exact for every |scaled sum| that fits int64.  This fuzz
        # CAUGHT the previous recipe (round() over double division) 1 micro
        # off at |s| ~ 4.2e16 -- past 2^53 the long->double conversion of
        # (|s|-r) quantizes -- which forced the decimal-division rewrite.
        assert out[g][1] == model_davg(cast_ms), f"dec_avg group {g}{tag}"


def test_spark_renorm_div_matches_python_at_int64_ceiling(spark):
    """The HITS renorm kernel `(v * quantum) div mx` exercised against
    Python floor division at the documented overflow frontier
    (v * quantum up to 2^63 - 1): 500 seeded pairs in one Spark job,
    including exact-ceiling products and mx == 1 / mx == v edges."""
    rng = random.Random(11)
    quantum = 1_000_000
    cases = []
    ceiling = (2**63 - 1) // quantum  # max v with no overflow
    for i in range(470):
        v = rng.randint(0, ceiling)
        mx = rng.choice((1, v or 1, rng.randint(1, ceiling)))
        cases.append((i, v, mx))
    # exact frontier: v * quantum == 2^63 - 1 - k for tiny k
    for k in range(30):
        v = ceiling - k
        cases.append((470 + k, v, rng.randint(1, v)))
    df = spark.createDataFrame(cases, "i long, v long, mx long")
    out = {
        r["i"]: r["q"]
        for r in df.select(
            "i", F.expr(f"(v * {quantum}L) div mx").alias("q")
        ).collect()
    }
    for i, v, mx in cases:
        assert out[i] == (v * quantum) // mx, f"case {i}: v={v} mx={mx}"


def test_davg_spark_exact_past_double_mantissa(spark):
    """dec_avg's new frontier: exact for every |scaled sum| inside int64.
    Probe DIRECTLY in the zone that broke the old double-division recovery
    (|s| between 2^53 and ~9e18): scaled sums of 4.2e16..8e18 micros with
    engineered non-zero remainders, one Spark job per case, vs the model."""
    from youtubeanalyzerproject_big_data__spark.functions.precision import dec_avg

    for s_target, n in ((42_000_000_000_000_000, 7), (9_000_000_000_000_000, 2),
                        (8_000_000_000_000_000_000, 100), (2**53 + 3, 3)):
        base, rem = divmod(s_target, n)
        per_cap = 10**17 - 1  # decimal(18,6) input bound per value
        vals: list[int] = []
        left = s_target
        while left > per_cap * 2:
            vals.append(per_cap)
            left -= per_cap
        half = left // 2
        vals += [half, left - half]
        while len(vals) < n:  # pad with zeros to reach the target count
            vals.append(0)
        df = spark.createDataFrame([(m / 1e6,) for m in vals], "v double")
        got = df.agg(dec_avg("v", "a")).collect()[0]["a"]
        cast_ms = [
            int(r["m"])
            for r in df.select((F.col("v").cast("decimal(18,6)") * P6).cast("long").alias("m")).collect()
        ]
        assert got == model_davg(cast_ms), f"s={s_target} n={n}"


def model_dsum_round(micros_sum: int, scale: int) -> float:
    """precision.dec_sum_round contract: half-up at `scale` on exact int64
    micros (add half, strip remainder), then double / 1e6."""
    q = 10 ** (6 - scale)
    a = abs(micros_sum) + q // 2
    r = a - a % q
    return float(-r if micros_sum < 0 else r) / 1e6


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.integers(min_value=-(4 * 10**17), max_value=4 * 10**17),  # micro sum
    st.integers(min_value=0, max_value=5),  # scale
    st.integers(min_value=0, max_value=3),  # tail style
)
def test_dsum_round_model_matches_duckdb(m, scale, style):
    """The integer half-up round agrees with the _dsum_round SQL twin,
    with tails engineered onto exact half / just-below / just-above the
    round boundary -- where ROUND(double, scale) diverged between engines
    at |sum| ~ 3.5e11 (q5, sf30 replay, the round-9 catch)."""
    q = 10 ** (6 - scale)
    m = (m // q) * q + {0: 0, 1: q // 2, 2: q // 2 - 1, 3: q // 2 + 1}[style]
    con = duckdb.connect()
    a = f"(ABS(CAST({m} AS BIGINT)) + {q // 2})"
    got = con.execute(
        f"SELECT CAST(CASE WHEN {m} < 0 THEN -({a} - {a} % {q}) ELSE ({a} - {a} % {q}) END"
        f" AS DOUBLE) / 1000000 AS v"
    ).fetchone()[0]
    assert got == model_dsum_round(m, scale)


def test_dsum_round_spark_matches_model_and_oracle(spark):
    """dec_sum_round's Spark expression reproduces the model at the exact
    q5-failure shape: |sum| ~ 3.5e11 with a .4200-micros tail, where
    F.round(dec_sum_col, 4) and DuckDB ROUND disagreed by one output ulp,
    plus halves, negatives, and every scale 0-5 at mixed magnitudes."""
    import duckdb

    from youtubeanalyzerproject_big_data__spark.functions.precision import dec_sum_round

    cases = [
        (346765105317_420000, 4),  # the sf30 q5 group, verbatim micros
        (346765105317_420050, 4),
        (-346765105317_420050, 4),
        (123_450000, 4), (123_455000, 4), (-123_455000, 4),
        (899999999999_999999, 0), (5 * 10**17 + 500000, 0),  # |value| < 1e12 input-cast cap
        (7, 5), (-7, 5), (50, 5), (49, 5),
    ]
    rows = [(i, m / 1e6) for i, (m, _) in enumerate(cases)]
    df = spark.createDataFrame(rows, "i long, v double")
    con = duckdb.connect()
    for i, (m, scale) in enumerate(cases):
        got = (
            df.where(F.col("i") == i)
            .groupBy()
            .agg(dec_sum_round("v", scale).alias("r"))
            .collect()[0]["r"]
        )
        # the double input quantizes m; recover the decimal(18,6) micros the
        # way both engines' input cast does, then apply the integer model
        eff = con.execute(
            f"SELECT CAST(CAST(CAST({m / 1e6!r} AS DOUBLE) AS DECIMAL(28,6)) * 1000000 AS BIGINT)"
        ).fetchone()[0]
        assert got == model_dsum_round(int(eff), scale), (i, m, scale, got)


# ---------------------------------------------------------------------------
# ratio_round / micro_round (VERDICT r9 item 3: the ROUND(double-quotient)
# triage) -- the generic ratio-round fuzzer
# ---------------------------------------------------------------------------


def model_ratio(num: int, den: int, scale: int = 6) -> float:
    """precision.ratio_round contract: exact rational half-up, away from
    zero, micros -> double/10^s."""
    p = 10**scale
    q = (2 * p * abs(num) + den) // (2 * den)
    return float(-q if num < 0 else q) / float(p)


def test_model_ratio_is_exact_rational_half_up():
    """The integer identity (2p|n|+d)//(2d) == floor(p|n|/d + 1/2), checked
    against Fractions over an adversarial sweep including every probed
    engine-divergent pair."""
    from fractions import Fraction

    rnd = random.Random(42)
    cases = [(41, 640), (82, 1280), (164, 2560), (5248, 81920), (1, 3200), (13913, 320)]
    cases += [(rnd.randint(0, 10**12), rnd.randint(1, 10**9)) for _ in range(500)]
    for num, den in cases:
        truth = (Fraction(10**6 * num, den) + Fraction(1, 2)).__floor__()
        assert model_ratio(num, den) == float(truth) / 1e6, (num, den)


@settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    num=st.integers(min_value=-(10**16), max_value=10**16),
    den=st.integers(min_value=1, max_value=10**9),
)
def test_dratio_duckdb_matches_model(num, den):
    from hypothesis import assume

    from youtubeanalyzerproject_big_data__spark.contract._sql import _dratio

    # contract bound: the QUOTIENT micros must fit int64 (numerators are
    # unbounded via HUGEINT/decimal38 intermediates, quotients are not)
    assume(abs(num) // den <= 9 * 10**12)
    con = duckdb.connect()
    got = con.execute(f"SELECT {_dratio(str(num), str(den))}").fetchone()[0]
    assert got == model_ratio(num, den), (num, den)


def test_ratio_round_spark_matches_model_and_duckdb(spark):
    """One batched Spark job over the adversarial ratio corpus: the 10
    probed pairs where F.round(p/q, 6) DIVERGES between engines (41/640 =
    0.0640625: Spark 0.064063, DuckDB 0.064062 -- the e1/q5 half-landing
    family), the e1 shape itself (139113/3200), dyadic exact halves,
    negatives, the int64-boundary magnitude, and seeded randoms.  Spark's
    ratio_round must equal the integer model AND DuckDB's _dratio on every
    one."""
    from youtubeanalyzerproject_big_data__spark.contract._sql import _dratio
    from youtubeanalyzerproject_big_data__spark.functions.precision import ratio_round

    rnd = random.Random(7)
    cases = [
        (41, 640), (82, 1280), (164, 2560), (328, 5120), (656, 10240),
        (1312, 20480), (2624, 40960), (5248, 81920), (10496, 163840), (20992, 327680),
        (139113, 3200),       # e1's 43.4728125
        (67, 128), (1, 3200), # exact dyadic / non-dyadic 7-digit halves
        (-41, 640), (-139113, 3200), (0, 7),
        (4_600_000_000_000, 999_999_937),
        (1_037_552_817_345_012, 10_000),   # i1's group-sum-micro magnitude:
                                           # overflowed the first long-space
                                           # draft (2e6 * 1e15 > int64)
        (1, 1), (999999, 1000000),
    ]
    cases += [(rnd.randint(-10**12, 10**12), rnd.randint(1, 10**9)) for _ in range(200)]
    df = spark.createDataFrame(
        [(i, n, d) for i, (n, d) in enumerate(cases)], "i long, n long, d long"
    )
    got = {
        r["i"]: r["r"]
        for r in df.select("i", ratio_round("n", "d", "r")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE c (i BIGINT, n BIGINT, d BIGINT)")
    con.executemany("INSERT INTO c VALUES (?,?,?)", [(i, n, d) for i, (n, d) in enumerate(cases)])
    oc = dict(con.execute(f"SELECT i, {_dratio('n', 'd')} FROM c").fetchall())
    for i, (n, d) in enumerate(cases):
        want = model_ratio(n, d)
        assert got[i] == want, ("spark", n, d, got[i], want)
        assert oc[i] == want, ("duckdb", n, d, oc[i], want)


def test_micro_round_spark_matches_duckdb(spark):
    """micro_round (the double-quotient replacement for ROUND(x, 6)) must be
    bit-identical across Spark / DuckDB / the Python IEEE model on
    adversarial doubles: exact 7-digit halves where ROUND itself splits,
    negatives, ties, and seeded randoms."""
    import math

    from youtubeanalyzerproject_big_data__spark.contract._sql import _dmicro
    from youtubeanalyzerproject_big_data__spark.functions.precision import micro_round

    rnd = random.Random(11)
    vals = [
        41 / 640, 139113 / 3200, 67 / 128, -41 / 640, 0.0, -0.0,
        0.9999995, -0.9999995, 1.0, -1.0, 0.1234565, 1e-7, -1e-7,
    ] + [rnd.uniform(-2, 2) for _ in range(200)] + [rnd.uniform(-1e6, 1e6) for _ in range(50)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    got = {r["i"]: r["r"] for r in df.select("i", micro_round("v", "r")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE m (i BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO m VALUES (?,?)", list(enumerate(vals)))
    oc = dict(con.execute(f"SELECT i, {_dmicro('v')} FROM m").fetchall())
    for i, v in enumerate(vals):
        want = float(math.floor(v * 1e6 + 0.5)) / 1e6
        assert got[i] == want, ("spark", v, got[i], want)
        assert oc[i] == want, ("duckdb", v, oc[i], want)
