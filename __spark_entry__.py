"""Driver contract for the spark-graft builder (PySpark target).

Delegates to ``loongcollector_spark.queries.QUERIES`` — one entry per
implemented operator from SURVEY.md §2 plus the training-data operations,
each paired with a DuckDB oracle where SQL-expressible.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from loongcollector_spark.queries import QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full collector pipeline
    shape (parse -> enrich -> route -> rollup) over `documents`."""
    return QUERIES["flagship_pipeline_rollup"].spark(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.sql for name, q in QUERIES.items() if q.sql is not None}
