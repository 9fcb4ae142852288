"""Measurement helpers: in-memory spans, Spark progress and event-log readers.

Everything here observes the engine from outside: spans wrap calls into
its public functions, micro-batch figures come from Spark's own
``StreamingQueryProgress`` events, and executor figures from Spark's
event log.  Nothing is patched into the engine.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

import numpy as np


def pct(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100); 0.0 for no samples."""
    return float(np.percentile(values, q)) if len(values) else 0.0


class Tracer:
    """Spans kept in memory: name, start, end, parent span and an op id
    (one per chunk, batch or query) shared by the spans of one operation.

    Disabled, ``span`` records nothing, so the untraced run pays only a
    context-manager entry per wrapped call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()  # per-thread stack of open spans
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, op: object = None):
        if not self.enabled:
            yield
            return
        b0 = time.monotonic()
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "op": op, "parent": stack[-1] if stack else None}
        self.spans.append(rec)  # list.append is atomic under the GIL
        rec["id"] = id(rec)
        stack.append(rec["id"])
        rec["start"] = time.monotonic()
        self.bookkeeping_s += rec["start"] - b0
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            stack.pop()
            self.bookkeeping_s += time.monotonic() - rec["end"]


def progress_listener(spark):
    """Register a listener that keeps every ``StreamingQueryProgress`` as a
    dict (Spark's public progress JSON) and return it.  Progress events
    arrive asynchronously on Spark's listener bus."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.items: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.items.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Progress()
    spark.streams.addListener(listener)
    return listener


def data_batches(progress: list[dict], run_ids: set[str]) -> list[dict]:
    """Progress entries of the given runs that carried input rows."""
    return [p for p in progress if p["runId"] in run_ids and p["numInputRows"] > 0]


def core_layer(batches: list[dict]) -> dict[str, float]:
    """``streaming.core`` p50-per-batch figures from progress durations."""

    def dur(key: str) -> list[float]:
        return [p["durationMs"].get(key, 0) for p in batches]

    trig, add = dur("triggerExecution"), dur("addBatch")
    return {
        "streaming.core.latest_offset_ms": pct(dur("latestOffset"), 50),
        "streaming.core.query_planning_ms": pct(dur("queryPlanning"), 50),
        "streaming.core.wal_commit_ms": pct(dur("walCommit"), 50),
        "streaming.core.commit_offsets_ms": pct(dur("commitOffsets"), 50),
        "streaming.core.overhead_ms": pct([t - a for t, a in zip(trig, add)], 50),
        "streaming.core.batch_ms": pct(trig, 50),
        "streaming.core.batches": float(len(batches)),
        "streaming.core.rows_per_batch": pct([p["numInputRows"] for p in batches], 50),
    }


def state_layer(progress: list[dict]) -> dict[str, float]:
    """``streaming.state`` figures summed over a query's state operators."""
    ops = [p.get("stateOperators") or [] for p in progress]
    rows = [sum(o["numRowsTotal"] for o in b) for b in ops if b]
    mem = [sum(o["memoryUsedBytes"] for o in b) for b in ops if b]
    commit = [sum(o.get("commitTimeMs", 0) for o in b) for b in ops if b]
    dropped = sum(o.get("numRowsDroppedByWatermark", 0) for b in ops for o in b)
    return {
        "streaming.state.rows_total": float(max(rows, default=0)),
        "streaming.state.memory_bytes": float(max(mem, default=0)),
        "streaming.state.commit_ms": pct(commit, 50),
        "streaming.state.rows_dropped_by_watermark": float(dropped),
    }


def progress_start_s(p: dict) -> float:
    """Wall-clock start of a micro-batch (``timestamp`` is ISO-8601 UTC)."""
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def spark_layer(event_dir: str, t0_wall: float, t1_wall: float, n_ops: int) -> dict[str, float]:
    """Executor figures from Spark's event log, for jobs submitted inside
    the timed window, divided by the workload's operation count (one per
    query on batch_mix, per micro-batch on the streaming workloads).
    ``streaming.offsets.jobs_per_batch`` counts the jobs that carry a
    streaming query id (the stream thread's local properties)."""
    lo, hi = t0_wall * 1000, t1_wall * 1000
    stage_ids: set[int] = set()
    jobs = stream_jobs = 0
    stages: dict[int, list[float]] = {}
    tot = dict.fromkeys(("run", "cpu", "gc", "sr", "sw", "out"), 0.0)
    tasks = 0
    for name in os.listdir(event_dir):
        with open(os.path.join(event_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo <= ev.get("Submission Time", 0) <= hi:
                        jobs += 1
                        stage_ids.update(ev.get("Stage IDs", []))
                        if (ev.get("Properties") or {}).get("sql.streaming.queryId"):
                            stream_jobs += 1
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ids:
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    tasks += 1
                    stages.setdefault(ev["Stage ID"], []).append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
                    sr = m.get("Shuffle Read Metrics", {})
                    tot["run"] += m.get("Executor Run Time", 0)
                    tot["cpu"] += m.get("Executor CPU Time", 0) / 1e6
                    tot["gc"] += m.get("JVM GC Time", 0)
                    tot["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    tot["sw"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    tot["out"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    skew = [max(d) / max(float(np.median(d)), 1.0) for d in stages.values() if len(d) >= 2]
    n = max(n_ops, 1)
    return {
        "spark.jobs": jobs / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": tasks / n,
        "spark.executor_run_ms": tot["run"] / n,
        "spark.executor_cpu_ms": tot["cpu"] / n,
        "spark.gc_ms": tot["gc"] / n,
        "spark.shuffle_read_bytes": tot["sr"] / n,
        "spark.shuffle_write_bytes": tot["sw"] / n,
        "spark.output_bytes": tot["out"] / n,
        "spark.task_skew": max(skew, default=1.0),
        "streaming.offsets.jobs_per_batch": stream_jobs / n,
    }


def _stat_fields(path: str) -> list[str]:
    """Fields of a ``/proc`` stat file after the command name: index 0 is
    the state, 3 the session id, 11-14 utime, stime, cutime, cstime."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


#: The benchmark's own threads that run while the engine is measured;
#: their CPU time is not the engine's.
BENCH_THREADS: list[threading.Thread] = []


def session_cpu() -> dict:
    """CPU seconds used so far by the processes of this process's session
    (the worker: the Python driver, the JVM it launched and Spark's Python
    workers, reaped children included): ``total``, ``jvm`` and, per
    thread id, the JVM's JIT compiler threads (``jit``; the JVM starts
    and ends them as its compile queue grows and shrinks).  Time the
    hypervisor steals is not charged to a process, and neither is time
    spent waiting for a CPU.  ``BENCH_THREADS`` are left out."""
    tick = os.sysconf("SC_CLK_TCK")
    sid = os.getsid(0)
    total = jvm = 0
    jit: dict[str, float] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            f = _stat_fields(f"/proc/{entry}/stat")
            if int(f[3]) != sid:
                continue
            used = sum(int(x) for x in f[11:15])
            total += used
            with open(f"/proc/{entry}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            jvm += used
            for tid in os.listdir(f"/proc/{entry}/task"):
                with open(f"/proc/{entry}/task/{tid}/comm") as fh:
                    if "CompilerThre" in fh.read():
                        g = _stat_fields(f"/proc/{entry}/task/{tid}/stat")
                        jit[tid] = (int(g[11]) + int(g[12])) / tick
        except (OSError, ValueError):
            continue  # the process or thread ended meanwhile
    bench = sum(
        time.clock_gettime(time.pthread_getcpuclockid(t.ident))
        for t in BENCH_THREADS
        if t.is_alive()
    )
    return {"total": total / tick - bench, "jvm": jvm / tick, "jit": jit}


def cpu_since(before: dict) -> dict[str, float]:
    """CPU seconds used since the ``session_cpu`` reading ``before``
    (``jit`` leaves out compiler threads that ended in between)."""
    now = session_cpu()
    return {
        "total": now["total"] - before["total"],
        "jvm": now["jvm"] - before["jvm"],
        "jit": sum(s - before["jit"].get(t, 0.0) for t, s in now["jit"].items()),
    }


class CoreSpeed:
    """Samples the speed of the host's cores throughout a window.

    A background thread runs a fixed pure-Python work unit every
    ``PERIOD_S`` and times it in its own CPU time; ``unit_s`` is the
    median.  On a shared host the same code's CPU time moves with how
    fast the cores run at the moment (clock boost, what the neighbours
    run on the same physical cores), by 20-35% between runs minutes
    apart.  The thread (about 3% of one core) is one of
    ``BENCH_THREADS``."""

    PERIOD_S = 0.2

    def __init__(self):
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-core-speed")

    @staticmethod
    def _unit() -> int:
        acc: dict[int, int] = {}
        for i in range(20000):
            k = i % 1021
            acc[k] = acc.get(k, 0) ^ (i * 2654435761 & 0xFFFF)
        return len(acc)

    def _run(self) -> None:
        while not self._stop.is_set():
            t = time.thread_time()
            self._unit()
            self.samples.append(time.thread_time() - t)
            self._stop.wait(self.PERIOD_S)

    def __enter__(self):
        self._thread.start()
        BENCH_THREADS.append(self._thread)
        return self

    def __exit__(self, *exc):
        BENCH_THREADS.remove(self._thread)
        self._stop.set()
        self._thread.join()

    @property
    def unit_s(self) -> float:
        return float(np.median(self.samples))


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of ``pid`` plus all its descendants —
    the Python driver and the JVM it launched."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
