"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` binds every implemented operator from SURVEY.md par.2 (plus
the training-data-pipeline extensions) to the driver's benchmark tables;
``oracle_sql()`` holds the DuckDB twin of each SQL-expressible query.  Each
query is declared once, with its twin and bench tags, in a family module of
``youtubeanalyzerproject_big_data__spark.contract``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from youtubeanalyzerproject_big_data__spark.contract import oracle_sql, queries  # noqa: F401
from youtubeanalyzerproject_big_data__spark.contract.tpch import q_q5


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: revenue-per-nation over the full dimension chain at sf0.001."""
    return q_q5(spark, "/root/testdata/sf0.001")
