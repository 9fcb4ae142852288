"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Everything is wired from ``spark_streaming_kafka_offset_spark`` — importing
it populates the registry (one entry per implemented SURVEY.md §2 operator).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import spark_streaming_kafka_offset_spark as engine


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-shaped pricing summary) on sf0.001."""
    engine.ensure_configs(spark)
    return engine.QUERIES["agg_hash"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered by ``ordered_queries()``: oracle keys stalest-evidence first,
    derived from the ``CORRECTNESS_r*.json`` ledgers.  The correctness
    harness evaluates the first 50 returned queries (registry.py
    documents the policy).
    """
    return engine.ordered_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-dialect oracle SQL for every oracle-able query key."""
    return dict(engine.ORACLE_SQL)
