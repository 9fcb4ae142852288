"""A PySpark-native analytics engine with the capabilities of
``E-SoulDataGroup/spark_streaming_kafka_offset`` (SURVEY.md).

The reference is a Spark-Streaming-plus-Kafka-offset-management job [K]
(mirror empty — SURVEY.md §0; no file:line citations possible).  This
package re-expresses that capability surface Spark-first:

* ``sources``   — batch/stream readers and sinks (§2.1), Kafka source config
* ``operators`` — batch relational algebra (§2.2–2.7)
* ``functions`` — scalar function surface, text/dedup/similarity ops (§2.8, §2.10)
* ``streaming`` — windowed/stateful streaming + the offset ledger (§2.9)
* ``plans``     — query registry, oracle SQL, plan assertions

Importing this package populates the registry with every implemented
operator; ``__spark_entry__.py`` re-exports it for the driver.
"""

from __future__ import annotations

from . import _registry_load  # noqa: F401  (side-effect: registers all queries)
from .api import Engine
from .plans import ORACLE_SQL, QUERIES, ordered_queries
from .session import ensure_configs, get_spark, load_table, load_tables

__all__ = [
    "Engine",
    "ORACLE_SQL",
    "QUERIES",
    "ordered_queries",
    "ensure_configs",
    "get_spark",
    "load_table",
    "load_tables",
]
