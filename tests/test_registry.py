"""Registry invariants — lock the driver-window evidence policy.

The driver verifies only the first 50 queries ``ordered_queries()``
returns, so that order IS the correctness-evidence policy.  It is
derived from the ``CORRECTNESS_r*.json`` ledgers, never hand-typed:
these tests check it is a permutation of the registry whose 50-slot
window holds only oracle keys, stalest evidence first, and that no
hand-ordered key list comes back into ``plans/registry.py``.
"""

from __future__ import annotations

import json

from spark_streaming_kafka_offset_spark.plans import registry
from spark_streaming_kafka_offset_spark.plans.registry import (
    ORACLE_SQL,
    QUERIES,
    ordered_queries,
)

WINDOW = 50


def test_priority_covers_registry_exactly():
    """``ordered_queries()`` is a permutation of ``QUERIES``."""
    order = list(ordered_queries())
    assert len(order) == len(QUERIES) and set(order) == set(QUERIES), (
        f"missing={sorted(set(QUERIES) - set(order))}, "
        f"extra={sorted(set(order) - set(QUERIES))}"
    )


def test_first_window_slots_are_all_oracle_backed():
    not_oracle = [k for k in list(ordered_queries())[:WINDOW] if k not in ORACLE_SQL]
    assert not not_oracle, (
        f"non-oracle keys inside the {WINDOW}-slot driver window would waste "
        f"hard-signal slots: {not_oracle}"
    )


def test_every_oracle_key_is_registered():
    assert set(ORACLE_SQL) <= set(QUERIES)


def test_survey_section2_enumerates_registry():
    """SURVEY §2 is the contract; the registry is the implementation —
    they must enumerate the SAME key set, 1:1 (VERDICT r4 #7).  Every
    first-column backticked key in a §2 table row must be a registered
    query and vice versa."""
    import os
    import re

    survey = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read()
    sec2 = survey.split("## 2. Operator inventory")[1].split("\n## 3.")[0]
    doc_keys = re.findall(r"^\| `([^`]+)`", sec2, re.M)
    assert len(doc_keys) == len(set(doc_keys)), "duplicate §2 rows"
    assert set(doc_keys) == set(QUERIES), (
        f"doc-only={sorted(set(doc_keys) - set(QUERIES))}, "
        f"registry-only={sorted(set(QUERIES) - set(doc_keys))}"
    )


def test_window_targets_stalest_oracle_keys():
    """Freshness rule (VERDICT r4 #2 / r5 #8): the 50-slot window must
    hold exactly the oracle keys with the OLDEST newest-hard-row in the
    CORRECTNESS ledgers (never-proven keys count as round 0, and keys
    named in REPROOF_VOID count as never-proven while their newest row
    is at or below the voided round — ledger rows proving superseded
    semantics are not evidence).  This test reads the ledgers itself,
    as a reference independent of ``ordered_queries()``."""
    import glob
    import os

    from spark_streaming_kafka_offset_spark.plans.registry import REPROOF_VOID

    root = os.path.join(os.path.dirname(__file__), "..")
    newest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        for key, row in json.load(open(path)).items():
            if isinstance(row, dict) and row.get("hash_match"):
                newest[key] = max(newest.get(key, 0), rnd)

    def effective(k: str) -> int:
        n = newest.get(k, 0)
        return 0 if n <= REPROOF_VOID.get(k, -1) else n

    # an inert REPROOF_VOID entry (a row newer than the voided round has
    # landed) must be pruned, not accumulate
    for k, voided in REPROOF_VOID.items():
        assert k in ORACLE_SQL and newest.get(k, 0) <= voided, (
            f"REPROOF_VOID entry for {k} is inert (newest row "
            f"{newest.get(k, 0)} > voided {voided}); prune it"
        )

    window = set(list(ordered_queries())[:WINDOW])
    outside = set(ORACLE_SQL) - window
    max_in = max(effective(k) for k in window)
    min_out = min(effective(k) for k in outside)
    assert max_in <= min_out, (
        "window holds a fresher key than one left outside: "
        f"freshest-in-window={max_in} vs stalest-outside={min_out}; "
        f"over-fresh in-window keys="
        f"{sorted(k for k in window if effective(k) > min_out)}"
    )
    # every never-proven oracle key is in the window, unless there are
    # more of them than slots and the window holds nothing else
    never = {k for k in ORACLE_SQL if effective(k) == 0}
    assert never <= window or window <= never, sorted(never - window)


def test_order_derives_from_synthetic_ledgers(tmp_path, monkeypatch):
    """The order follows whatever ledgers sit in ``LEDGER_DIR``: a
    ``hash_match: false`` row is no evidence, never-proven keys lead,
    proven keys follow by round and then by key, a ``REPROOF_VOID`` key
    counts as never-proven, and rows-only keys trail every oracle key."""
    oracle = sorted(ORACLE_SQL)
    rows_only = sorted(set(QUERIES) - set(ORACLE_SQL))
    late, first, second = oracle[-1], oracle[0], oracle[1]
    unmatched, voided = oracle[2], oracle[3]
    hit, miss = {"hash_match": True}, {"hash_match": False}
    ledgers = {
        # r01: late proved at round 1 sorts before the round-2 keys
        "CORRECTNESS_r01.json": {
            late: hit, unmatched: miss, voided: hit, rows_only[0]: hit,
        },
        # r02: a failed row does not lower late's proof
        "CORRECTNESS_r02.json": {second: hit, first: hit, late: miss},
        "CORRECTNESS_r02_notes.json": {unmatched: hit},  # not a ledger
    }
    for name, rows in ledgers.items():
        (tmp_path / name).write_text(json.dumps(rows))
    monkeypatch.setattr(registry, "LEDGER_DIR", tmp_path)
    monkeypatch.setattr(registry, "REPROOF_VOID", {voided: 1})

    order = list(ordered_queries())
    proven = [late, first, second]
    never = [k for k in oracle if k not in proven]
    assert unmatched in never and voided in never
    assert order[: len(never)] == never, "never-proven keys lead, by key"
    assert order[len(never) : len(oracle)] == proven, "then by round, then by key"
    # even rows_only[0], proven at round 1, trails every oracle key
    assert set(order[len(oracle) :]) == set(rows_only)

    for path in tmp_path.iterdir():
        path.unlink()
    assert list(ordered_queries()) == oracle + rows_only


def test_registry_names_no_key_outside_reproof_void():
    """No hand-ordered key list can come back: outside ``REPROOF_VOID``,
    ``plans/registry.py`` holds no string literal that is a registered
    query key, so the driver window can only come from the ledgers."""
    import ast
    from pathlib import Path

    tree = ast.parse(Path(registry.__file__).read_text())
    void = {
        id(n)
        for stmt in tree.body
        if isinstance(stmt, ast.AnnAssign) and ast.unparse(stmt.target) == "REPROOF_VOID"
        for n in ast.walk(stmt)
    }
    named = sorted(
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and n.value in QUERIES and id(n) not in void
    )
    assert named == [], f"registry.py hand-names query keys: {named}"
