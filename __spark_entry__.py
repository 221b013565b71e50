"""Driver contract for the spark-graft builder (PySpark target).

Serves the engine's query registry (mediawiki_to_notion_spark.operators):
``entry`` runs the flagship aggregate at sf0.001, ``queries`` /
``oracle_sql`` expose every implemented SURVEY.md §2 operator with its
DuckDB oracle for the t2 correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mediawiki_to_notion_spark.operators import ORACLES, QUERIES, load_all

load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["agg_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    registration order."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check)."""
    return dict(ORACLES)
