"""Sorts / limits / top-K (SURVEY.md par.2.5) + the per-group window upgrade.

O1-O4: ``orderBy(desc).limit(k)`` -- Spark compiles this to
TakeOrderedAndProject (per-partition heap + driver merge, no full sort, no
full shuffle), exactly the optimization the reference hand-rolled with a
comment at PageRank_Spark_v5.py:105-115.  That property is what makes top-K
safe at 100 TB: each task keeps only k rows.

Ties are broken by explicit key columns so results are deterministic
(golden-test requirement; the reference relied on unstable show() output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def top_k(df: DataFrame, order_col: str, k: int, tiebreak: str | None = None) -> DataFrame:
    order = [F.desc(order_col)]
    if tiebreak:
        order.append(F.asc(tiebreak))
    return df.orderBy(*order).limit(k)


def top_k_per_group(df: DataFrame, group_col: str, order_col: str, k: int, tiebreak: str | None = None) -> DataFrame:
    """Per-group top-K via row_number window -- the idiomatic generalization
    the reference lacked (SURVEY.md par.2.7 note).  Single hash-partition
    shuffle on the group key; with AQE skew handling a hot group splits.
    """
    order = [F.desc(order_col)]
    if tiebreak:
        order.append(F.asc(tiebreak))
    w = Window.partitionBy(group_col).orderBy(*order)
    return df.withColumn("rank_in_group", F.row_number().over(w)).where(F.col("rank_in_group") <= k)
