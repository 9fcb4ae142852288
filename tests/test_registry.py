"""Registry invariants — locks the driver-window evidence policy.

The driver verifies only the first 50 registered queries, so the
DRIVER_PRIORITY tuple IS the correctness-evidence policy.  These tests
make policy drift loud: a new @register'd query that is not added to the
tuple, a duplicate slot, or a non-oracle key inside the 50-slot window
each fail immediately (ADVICE r2: nothing previously locked this).
"""

from __future__ import annotations

from spark_streaming_kafka_offset_spark.plans.registry import (
    DRIVER_PRIORITY,
    ORACLE_SQL,
    QUERIES,
    ordered_queries,
)

WINDOW = 50


def test_priority_covers_registry_exactly():
    assert set(DRIVER_PRIORITY) == set(QUERIES), (
        "DRIVER_PRIORITY and registered queries diverge: "
        f"only-in-priority={sorted(set(DRIVER_PRIORITY) - set(QUERIES))}, "
        f"unlisted-queries={sorted(set(QUERIES) - set(DRIVER_PRIORITY))}"
    )


def test_priority_has_no_duplicates():
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY))


def test_first_window_slots_are_all_oracle_backed():
    not_oracle = [k for k in DRIVER_PRIORITY[:WINDOW] if k not in ORACLE_SQL]
    assert not not_oracle, (
        f"non-oracle keys inside the {WINDOW}-slot driver window would waste "
        f"hard-signal slots: {not_oracle}"
    )


def test_every_oracle_key_is_registered():
    assert set(ORACLE_SQL) <= set(QUERIES)


def test_ordered_queries_order_matches_priority():
    assert list(ordered_queries()) == list(DRIVER_PRIORITY)


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
    semantics are not evidence), with any arithmetic overflow (more
    stalest-tier keys than slots) named explicitly in DEFERRED_R17.
    This makes every future round's queue auto-derivable from the
    ledgers: sort oracle keys by effective newest hard row ascending,
    take 50, name the spillover."""
    import glob
    import json
    import os

    from spark_streaming_kafka_offset_spark.plans.registry import (
        DEFERRED_R17,
        REPROOF_VOID,
    )

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
    # landed) must be pruned at the next rotation, not accumulate
    for k, voided in REPROOF_VOID.items():
        assert k in ORACLE_SQL and newest.get(k, 0) <= voided, (
            f"REPROOF_VOID entry for {k} is inert (newest row "
            f"{newest.get(k, 0)} > voided {voided}); prune it"
        )

    window = set(DRIVER_PRIORITY[:WINDOW])
    assert set(DEFERRED_R17) <= set(ORACLE_SQL)
    assert not set(DEFERRED_R17) & window, "deferred keys cannot be in-window"

    outside = set(ORACLE_SQL) - window - set(DEFERRED_R17)
    max_in = max(effective(k) for k in window)
    min_out = min(effective(k) for k in outside)
    assert max_in <= min_out, (
        "window holds a fresher key than one left outside: "
        f"freshest-in-window={max_in} vs stalest-outside={min_out}; "
        f"over-fresh in-window keys="
        f"{sorted(k for k in window if effective(k) > min_out)}"
    )
    # every never-proven oracle key is accounted for: in-window or deferred
    never = {k for k in ORACLE_SQL if effective(k) == 0}
    assert never <= window | set(DEFERRED_R17), sorted(
        never - window - set(DEFERRED_R17)
    )
