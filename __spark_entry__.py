"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash; ``scripts/check_oracle.py`` replays it).

All real logic lives in ``smartpool_bigdata_spark.queries.REGISTRY``
— every implemented SURVEY.md §2 operator is a named query there,
paired with its DuckDB oracle string.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from smartpool_bigdata_spark.queries import REGISTRY

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: TPC-H Q1-style pricing summary."""
    return REGISTRY["pricing_summary"].build(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.build for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted entries get rows-only checks."""
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
