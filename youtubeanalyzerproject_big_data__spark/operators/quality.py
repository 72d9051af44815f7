"""Data-quality constraint checking (Deequ-style audit gate).

A training/analytics pipeline verifies a partition BEFORE consuming it:
null-free keys, unique ids, value ranges, closed category domains,
referential closure.  This operator evaluates a constraint suite and
returns one row per constraint -- (check_name, n_violations, passed) --
so the suite's result is itself a small, joinable, oracle-checkable table
(the reference has no quality layer; this is the idiomatic-engine upgrade,
same spirit as a18 profile_columns).

Scale design:
- all ROW-LOCAL constraints (not_null / in_range / in_set) compile into ONE
  conditional-sum hash aggregate over a single scan -- adding a constraint
  adds a column to the aggregate buffer, not a pass over the data;
- ``unique`` is one groupBy(key) counting keys seen more than once
  (violations = extra copies, so a clean table reports 0);
- ``subset_of`` (referential closure) is a broadcast left-anti count when
  the referenced key set is dimension-sized -- never a shuffle of the fact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from youtubeanalyzerproject_big_data__spark.functions.precision import ratio_round


def _violation_expr(kind: str, col: str, params: dict) -> Column:
    c = F.col(col)
    if kind == "not_null":
        return c.isNull()
    if kind == "in_range":
        return c.isNull() | (c < F.lit(params["lo"])) | (c > F.lit(params["hi"]))
    if kind == "in_set":
        return c.isNull() | ~c.isin(list(params["values"]))
    raise ValueError(f"unknown row-local constraint kind: {kind!r}")


def check_constraints(df: DataFrame, constraints: list[dict]) -> DataFrame:
    """Evaluate a constraint suite; one output row per constraint.

    Each constraint is a dict: {"name": str, "kind": str, ...}:
      - {"kind": "not_null", "col": c}
      - {"kind": "in_range", "col": c, "lo": x, "hi": y}  (NULL violates)
      - {"kind": "in_set",   "col": c, "values": [...]}   (NULL violates)
      - {"kind": "unique",   "cols": [c, ...]}            (violations = rows
        beyond the first per duplicated key)
      - {"kind": "subset_of", "col": c, "ref": DataFrame, "ref_col": rc}
        (violations = rows whose non-null key misses the reference set)

    Returns (check_name string, n_violations long, passed long), one row
    per constraint, in suite order via the constraint name.
    """
    row_local = [c for c in constraints if c["kind"] in ("not_null", "in_range", "in_set")]
    pieces: list[DataFrame] = []
    if row_local:
        aggs = [
            F.sum(F.when(_violation_expr(c["kind"], c["col"], c), 1).otherwise(0))
            .cast("long")
            .alias(c["name"])
            for c in row_local
        ]
        wide = df.agg(*aggs)
        pieces.append(
            wide.unpivot([], [c["name"] for c in row_local], "check_name", "n_violations")
        )
    for c in constraints:
        if c["kind"] == "unique":
            dup = (
                df.groupBy(*c["cols"])
                .agg(F.count(F.lit(1)).alias("_n"))
                .agg(F.coalesce(F.sum(F.col("_n") - 1), F.lit(0)).cast("long").alias("n_violations"))
            )
            pieces.append(dup.select(F.lit(c["name"]).alias("check_name"), "n_violations"))
        elif c["kind"] == "subset_of":
            missing = (
                df.where(F.col(c["col"]).isNotNull())
                .join(
                    F.broadcast(c["ref"].select(F.col(c["ref_col"]).alias(c["col"])).distinct()),
                    c["col"],
                    "left_anti",
                )
                .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
            )
            pieces.append(missing.select(F.lit(c["name"]).alias("check_name"), "n_violations"))
        elif c["kind"] not in ("not_null", "in_range", "in_set"):
            raise ValueError(f"unknown constraint kind: {c['kind']!r}")
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.select(
        "check_name",
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).cast("long").alias("passed"),
    ).orderBy("check_name")


def psi_drift(ref: DataFrame, cur: DataFrame, value_col: str, n_bins: int = 10) -> DataFrame:
    """Population-stability-index drift audit between a reference and a
    current snapshot of a numeric column -- the standard model/data
    monitoring metric (PSI = sum over bins of (p - q) * ln(p / q)); the
    consumer alerts when the summed index crosses ~0.1/0.25.  Pairs with
    t12's token-KL (vocabulary drift) to cover numeric-feature drift.

    Scale design (a16/c8 recipe, not NTILE): ONE aggregate on the
    reference collects n_bins-1 exact percentile cutpoints (model-sized
    collect); bin assignment is a map-side CASE-sum on BOTH sides; one
    tagged-union hash aggregate counts (bin x side); the PSI arithmetic
    then runs on <= n_bins rows.  Laplace +1 smoothing keeps empty
    current-side bins finite.  Each bin's term is floor(term * 1e9)
    integer-quantized (shares are exact int/int doubles; ln is the t8
    libm-ulp residual).

    Returns per bin: (bin, ref_count, cur_count, psi_term_nano, psi_term).
    """
    cuts = ref.agg(
        F.percentile(value_col, [i / n_bins for i in range(1, n_bins)]).alias("c")
    ).collect()[0]["c"]

    def binned(df: DataFrame, tag: int) -> DataFrame:
        b = sum([F.when(F.col(value_col) > F.lit(float(c)), 1).otherwise(0) for c in cuts], F.lit(0))
        return df.select(b.cast("long").alias("bin"), F.lit(tag).alias("side"))

    counts = (
        binned(ref, 0)
        .unionByName(binned(cur, 1))
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("ref_count"),
            F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("cur_count"),
        )
    )
    totals = counts.agg(
        F.sum("ref_count").cast("long").alias("nr"), F.sum("cur_count").cast("long").alias("nc")
    )
    p = (F.col("ref_count") + 1).cast("double") / (F.col("nr") + n_bins).cast("double")
    q = (F.col("cur_count") + 1).cast("double") / (F.col("nc") + n_bins).cast("double")
    term = F.floor((p - q) * F.log(p / q) * 1e9).cast("long")
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            "ref_count",
            "cur_count",
            term.alias("psi_term_nano"),
            # integer half-up micro-quantization of the nano value: ROUND of
            # the n/1e9 double is the engine-divergent half class (CLAUDE.md)
            ratio_round(term, F.lit(1_000_000_000), "psi_term"),
        )
        .orderBy("bin")
    )


def confusion_matrix(
    labeled: DataFrame, id_col: str, truth_col: str, pred_col: str
) -> DataFrame:
    """Classification confusion matrix with per-truth-class recall -- the
    evaluation primitive behind any labeling/classifier audit (here used
    to score the language-ID heuristic against the corpus's declared
    language, driver query t20).

    Scale: one (truth, pred) hash aggregate (cells = |classes|^2, tiny),
    truth totals are class-cardinality-sized and broadcast back.  Recall
    divides exact int64 counts.

    Returns (truth, pred, n, recall) ordered by (truth, pred).
    """
    per = labeled.groupBy(
        F.col(truth_col).alias("truth"), F.col(pred_col).alias("pred")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    totals = per.groupBy("truth").agg(F.sum("n").cast("long").alias("t"))
    return (
        per.join(F.broadcast(totals), "truth")
        .select("truth", "pred", "n", ratio_round(F.col("n"), F.col("t"), "recall"))
        .orderBy("truth", "pred")
    )


def fact_reconciliation(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Cross-fact reconciliation: does each order header's total equal the
    sum its line items imply (sum of extendedprice*(1-discount)*(1+tax))?
    The accounting audit every warehouse runs between a rollup table and
    its detail -- mismatch counts and total absolute drift, not a boolean,
    so regressions are quantified.

    Cross-engine determinism: each line's contribution is floor-quantized
    to integer micros BEFORE the per-order sum (row-local double product
    is correctly rounded and identical everywhere; the sum is then exact
    int64), headers quantize the same way, and "matched" is an integer
    tolerance comparison (1 cent = 10^4 micros).

    Plan: one per-order hash aggregate on the detail (map-side combined),
    one key join against headers, one conditional-sum aggregate.
    """
    li_micro = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * (F.lit(1.0) + F.col("l_tax")) * F.lit(1e6)
    ).cast("long")
    detail = lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(F.sum(li_micro).alias("detail_micros"))
    head = orders.select(
        F.col("o_orderkey").alias("k"), F.floor(F.col("o_totalprice") * F.lit(1e6)).cast("long").alias("head_micros")
    )
    j = head.join(detail, "k", "left").select(
        "k", "head_micros", F.coalesce(F.col("detail_micros"), F.lit(0)).alias("detail_micros")
    )
    diff = F.abs(F.col("head_micros") - F.col("detail_micros"))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.when(diff <= 10_000, 1).otherwise(0)).cast("long").alias("n_matched"),
        F.sum(F.when(diff > 10_000, 1).otherwise(0)).cast("long").alias("n_mismatched"),
        F.sum(diff).cast("long").alias("total_drift_micros"),
    )


def profile_drift(old: DataFrame, new: DataFrame, cols: list[str]) -> DataFrame:
    """Snapshot-over-snapshot column-profile drift: per column, row count,
    null count + null-rate ppm, and exact distinct count for BOTH
    snapshots, plus the distinct-count delta -- the "did yesterday's load
    change the shape of this table" audit that runs before anything
    consumes a new partition (psi_drift's structural sibling: PSI watches
    one numeric distribution, this watches schema-wide cardinality/null
    health).

    All metrics are exact integers (counts, ppm by integer DIV), so the
    report is engine-exact.  Scale shape: ONE pass per snapshot computing
    every column's metrics in a single aggregate row (count + count(col)
    + countDistinct(col) per column -- Spark plans one Expand for the
    multi-distinct, still a single scan), then a model-sized (|cols|-row)
    reshape driver-free via stack.  Returns one row per column:
    (column, old_rows, new_rows, old_nulls, new_nulls, old_null_ppm,
    new_null_ppm, old_distinct, new_distinct, distinct_delta).
    """

    def snapshot(df: DataFrame, tag: str) -> DataFrame:
        aggs = [F.count(F.lit(1)).cast("long").alias(f"{tag}_rows")]
        for c in cols:
            aggs.append((F.count(F.lit(1)) - F.count(c)).cast("long").alias(f"{tag}_nulls__{c}"))
            aggs.append(F.countDistinct(c).cast("long").alias(f"{tag}_distinct__{c}"))
        return df.agg(*aggs)

    o, n = snapshot(old, "old"), snapshot(new, "new")
    wide = o.crossJoin(n)  # 1 row x 1 row: the only sanctioned crossJoin shape
    stacked = []
    for c in cols:
        stacked.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("old_rows"),
                F.col("new_rows"),
                F.col(f"old_nulls__{c}").alias("old_nulls"),
                F.col(f"new_nulls__{c}").alias("new_nulls"),
                F.expr(f"(1000000 * old_nulls__{c}) DIV old_rows").alias("old_null_ppm"),
                F.expr(f"(1000000 * new_nulls__{c}) DIV new_rows").alias("new_null_ppm"),
                F.col(f"old_distinct__{c}").alias("old_distinct"),
                F.col(f"new_distinct__{c}").alias("new_distinct"),
                (F.col(f"new_distinct__{c}") - F.col(f"old_distinct__{c}")).alias("distinct_delta"),
            )
        )
    return (
        wide.select(F.explode(F.array(*stacked)).alias("m"))
        .select("m.*")
        .orderBy("column")
    )


def quarantine_split(df: DataFrame, rules: list[tuple[str, "F.Column"]]) -> DataFrame:
    """Row-level expectation suite with a DEAD-LETTER label: each row gets
    the name of the FIRST rule (suite order) it violates, or 'ok'.  The
    split-with-reason form of check_constraints: valid rows flow on,
    quarantined rows ship to the dead-letter sink with an actionable
    reason -- the operational pattern (Deequ/Great-Expectations style)
    where counting violations is not enough because the bad rows must be
    routed, not just reported.

    Pure map-side: one conditional chain, no shuffle, no UDF; the caller
    filters ``quarantine_reason != 'ok'`` for the quarantine leg and '== ok' for
    the clean leg (both legs prune from the same scan).
    """
    reason = F.lit("ok")
    for name, cond in reversed(rules):
        reason = F.when(cond, F.lit(name)).otherwise(reason)
    return df.withColumn("quarantine_reason", reason)
