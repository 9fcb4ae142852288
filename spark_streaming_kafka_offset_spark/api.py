"""User-facing entry point — what a user of the reference system switches
to (SURVEY.md §1.2): one object that owns the session, the table catalog,
the SQL surface and the named-query registry.

Usage::

    from spark_streaming_kafka_offset_spark import Engine

    eng = Engine(sf_dir="/root/testdata/sf0.1")     # builds local session
    eng.table("lineitem").where(...)                # DataFrame API
    eng.sql("SELECT COUNT(*) FROM orders")          # SQL over the tables
    eng.run("q3_shipping_priority")                 # any registered query
    eng.keys()                                      # what's available

An externally-built session (a notebook's, the driver's) can be passed
in; correctness-critical configs are applied to it at construction
(session.ensure_configs — runtime-settable by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .plans.registry import ORACLE_SQL, QUERIES, ordered_queries
from .session import (
    DEFAULT_SF_DIR,
    TABLES,
    ensure_configs,
    get_spark,
    load_table,
    register_views,
)


class Engine:
    """A bound (session, data directory) pair exposing every capability."""

    def __init__(
        self, spark: SparkSession | None = None, sf_dir: str = DEFAULT_SF_DIR
    ) -> None:
        self.spark = ensure_configs(spark) if spark is not None else get_spark()
        self.sf_dir = sf_dir
        self._views_registered = False

    def table(self, name: str) -> DataFrame:
        """One fixture table as a DataFrame (schema-repaired, plan-cached)."""
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; have {TABLES}")
        return load_table(self.spark, self.sf_dir, name)

    def sql(self, query: str) -> DataFrame:
        """Run SQL with every table registered as a view (lazily, once)."""
        if not self._views_registered:
            register_views(self.spark, self.sf_dir)
            self._views_registered = True
        return self.spark.sql(query)

    def run(self, key: str) -> DataFrame:
        """Run a registered query by key (SURVEY.md §2 inventory)."""
        if key not in QUERIES:
            raise KeyError(f"unknown query {key!r}; see Engine.keys()")
        return QUERIES[key](self.spark, self.sf_dir)

    def keys(self) -> list[str]:
        """Registered query keys, driver-window order (``ordered_queries``)."""
        return list(ordered_queries())

    def oracle(self, key: str) -> str | None:
        """The DuckDB oracle SQL for a key, if the query is oracle-backed."""
        return ORACLE_SQL.get(key)

    def explain(self, key: str, mode: str = "formatted") -> None:
        """Print the physical plan for a registered query (the scale
        audit surface: check pushed filters, broadcasts, exchange
        counts before running at size)."""
        self.run(key).explain(mode)
