"""Query registry — the single source of truth for the driver contract.

Every operator from SURVEY.md §2 registers itself here with its key and
(when oracle-able) the DuckDB-dialect ANSI SQL the driver runs side-by-side.
``__spark_entry__.py`` simply re-exports these dicts.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}


def register(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``key`` with optional oracle SQL.

    Oracle-authoring rules (SURVEY.md §5.1 — learned dialect gap):
    alias every computed column identically on both sides; exact DECIMAL
    arithmetic for money sums; ROUND(...,N) floats on BOTH sides; UTC tz.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLE_SQL[key] = oracle
        return fn

    return deco


#: Directory holding the driver's ``CORRECTNESS_rNN.json`` ledgers (the
#: repo root).  One ledger per round: a row per checked key, and a row
#: with ``hash_match`` true is that round's proof of the key.
LEDGER_DIR = Path(__file__).resolve().parents[2]

#: Re-proof register: keys whose semantics changed AFTER their newest
#: hard CORRECTNESS row, so ledger rows up to and including the named
#: round prove SUPERSEDED semantics and the key counts as never-proven
#: until a newer row lands.  Entries become inert once a row newer than
#: the named round lands, and are then pruned (dedup_semantic's r13
#: entry, pruned once CORRECTNESS_r14 hard-proved the exact-collapse
#: semantics, is the precedent).  Empty: no change since
#: CORRECTNESS_r15 supersedes a proven key's semantics, so every ledger
#: row still proves current semantics.
REPROOF_VOID: dict[str, int] = {}


def ordered_queries() -> dict[str, QueryFn]:
    """Registry in driver-window order, derived from the ledgers.

    The driver checks only the first 50 keys (SURVEY.md §5.1), so the
    order is the evidence policy: oracle keys first, stalest evidence
    first.  A key's effective round is the newest round whose ledger row
    has ``hash_match`` true (0 if none, or while that round is at or
    below the key's ``REPROOF_VOID`` round); ties go by key.  Rows-only
    keys follow every oracle key.  A landed ledger moves the window by
    itself: no key is ever hand-ordered.
    """
    newest: dict[str, int] = {}
    for path in LEDGER_DIR.glob("CORRECTNESS_r*.json"):
        name = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if name is None:
            continue
        rnd = int(name.group(1))
        for key, row in json.loads(path.read_text()).items():
            if isinstance(row, dict) and row.get("hash_match"):
                newest[key] = max(newest.get(key, 0), rnd)

    def effective_round(k: str) -> int:
        n = newest.get(k, 0)
        return 0 if n <= REPROOF_VOID.get(k, -1) else n

    order = sorted(QUERIES, key=lambda k: (k not in ORACLE_SQL, effective_round(k), k))
    return {k: QUERIES[k] for k in order}
