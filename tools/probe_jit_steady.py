"""Steady-state guard for JVM flag changes: warm passes must not get slower.

``perfbench`` measures 15 s after a short warm-up, so it rewards any JVM
flag that trades warm-up cost for slower warm code (C1-only compilation
wins there yet runs warm passes 35-60% longer).  This probe builds one
``session.get_spark`` session and then builds and collects the same five
sf0.1 queries ``PASSES`` times in it.  It prints CPU seconds (the Python
driver, the JVM and Spark's Python workers) and wall seconds per pass,
then the medians and interquartile ranges of passes 5-10, where the JIT
has settled.  Compare a change with its parent in one fresh process per
side, run back to back.

Usage:  python tools/probe_jit_steady.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_streaming_kafka_offset_spark import session as S  # noqa: E402

KEYS = (
    "q5_local_supplier",
    "q10_returned_items",
    "agg_hash",
    "q3_shipping_priority",
    "join_inner_hash",
)
PASSES = 10
STEADY_FROM = 5  # first pass (1-based) counted as warm


def tree_cpu_s() -> float:
    """CPU seconds of this process and all its live descendants (reaped
    children included through their parents' ``cutime``/``cstime``)."""
    parent: dict[int, int] = {}
    used: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended meanwhile
        parent[int(entry)] = int(f[1])
        used[int(entry)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(c for c, p in parent.items() if p == pid)
    return total / os.sysconf("SC_CLK_TCK")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else S.DEFAULT_SF_DIR
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    spark = S.get_spark("probe-jit-steady")
    rows: list[tuple[float, float]] = []
    for i in range(1, PASSES + 1):
        c0, w0 = tree_cpu_s(), time.monotonic()
        for key in KEYS:
            qs[key](spark, sf_dir).collect()
        cpu, wall = tree_cpu_s() - c0, time.monotonic() - w0
        rows.append((cpu, wall))
        print(f"pass {i:2d}  cpu_s {cpu:6.2f}  wall_s {wall:6.2f}", flush=True)
    summary: dict[str, object] = {"sf_dir": sf_dir, "passes": PASSES - STEADY_FROM + 1}
    for i, name in enumerate(("cpu_s", "wall_s")):
        steady = [r[i] for r in rows[STEADY_FROM - 1:]]
        q1, _, q3 = statistics.quantiles(steady, n=4, method="inclusive")
        summary[f"{name}_median"] = round(statistics.median(steady), 2)
        summary[f"{name}_iqr"] = round(q3 - q1, 2)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
