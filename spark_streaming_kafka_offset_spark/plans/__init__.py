"""Plan layer: query registry + oracle SQL + plan-inspection helpers."""

from .registry import ORACLE_SQL, QUERIES, ordered_queries, register

__all__ = ["ORACLE_SQL", "QUERIES", "ordered_queries", "register"]
