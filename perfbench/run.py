"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The workload runs in a fresh child
process (``worker.py``: Python driver plus the JVM it launches) whose
scratch space, Spark local dirs and checkpoints live under
``.perfbench/run-*`` in the checkout and are removed when the run ends,
also after a crash or a timeout.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, the
``per_layer`` ones with ``--trace 1``).  A full record of the run (the
environment, the seed, every figure, sample counts and, when traced,
the spans) is kept under ``.perfbench/results/``.
"""

from __future__ import annotations

import time

T0 = time.monotonic()  # set-up time is counted from here

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 165  # the whole run must end within 180 s
WORKLOADS = ("ingest_ledgered", "windows_replay", "batch_mix")
ENGINE_FILES = ("__spark_entry__.py", "spark_streaming_kafka_offset_spark/__init__.py")


def source_digest() -> str:
    """sha256 over the engine sources, for checkouts that are not git."""
    h = hashlib.sha256()
    files = [os.path.join(REPO, "__spark_entry__.py")] + sorted(
        glob.glob(os.path.join(REPO, "spark_streaming_kafka_offset_spark", "**", "*.py"),
                  recursive=True)
    )
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def cpu_times() -> list[int]:
    """The host's aggregate CPU counters (``/proc/stat``, in ticks)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: a contended host slows every figure."""
    delta = [b - a for a, b in zip(before, after)]
    return 100.0 * delta[7] / max(1, sum(delta[:8]))


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True, timeout=5
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                pids.append(int(entry))
    return pids


def stop_group(pgid: int) -> None:
    """Kill whatever is left of the child's process group (the JVM
    included) and wait until every member has ended."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 10
    while group_pids(pgid) and time.monotonic() < deadline:
        time.sleep(0.05)


def child_env(root: str, event_log: str) -> dict[str, str]:
    env = dict(os.environ)
    env.pop("SPARK_MASTER", None)
    conf = [
        f"spark.sql.warehouse.dir={os.path.join(root, 'warehouse')}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
    ]
    if event_log:
        conf += [
            "spark.eventLog.enabled=true",
            "spark.eventLog.rolling.enabled=false",
            "spark.eventLog.compress=false",
            f"spark.eventLog.dir=file://{event_log}",
        ]
    env.update(
        {
            "PYTHONPATH": os.pathsep.join([HERE, REPO]),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_DRIVER_MEM": "2g",
            "SSKOS_STAGE_DIR": os.path.join(root, "stage"),
            "TMPDIR": os.path.join(root, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
            "PYSPARK_SUBMIT_ARGS": " ".join(f"--conf {c}" for c in conf) + " pyspark-shell",
        }
    )
    return env


def tracing_overhead_pct(results_dir: str, rec: dict, seconds: float) -> float:
    """Traced ``cpu_ms_per_op`` against the median of earlier untraced runs
    of the same workload in this checkout; without any, the in-run cost of
    span bookkeeping as a share of the measured seconds."""
    costs = []
    for f in glob.glob(os.path.join(results_dir, f"{rec['workload']}-*-trace0-*.json")):
        with open(f) as fh:
            e2e = json.load(fh)["e2e"]
        if "cpu_ms_per_op" in e2e:  # a failed run may have none
            costs.append(e2e["cpu_ms_per_op"])
    if costs and "cpu_ms_per_op" in rec["e2e"]:
        base = statistics.median(costs)
        return 100.0 * (rec["e2e"]["cpu_ms_per_op"] - base) / base
    return 100.0 * rec["layers"]["tracing.bookkeeping_s"] / seconds


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(REPO, f))]
    bench_json = os.path.join(REPO, "BENCHMARK.json")
    if missing or not os.path.isfile(bench_json):
        print(f"perfbench: not a checkout of the engine, missing {missing or [bench_json]}",
              file=sys.stderr)
        return 2
    with open(bench_json) as fh:
        spec = json.load(fh)

    work = os.path.join(REPO, ".perfbench")
    results_dir = os.path.join(work, "results")
    root = os.path.join(work, f"run-{os.getpid()}-{time.time_ns()}")
    for d in ("tmp", "stage", "spark-local", "eventlog"):
        os.makedirs(os.path.join(root, d))
    os.makedirs(results_dir, exist_ok=True)
    event_log = os.path.join(root, "eventlog") if args.trace else ""
    out_path = os.path.join(root, "result.json")
    log_path = os.path.join(root, "worker.log")

    def on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    cpu0 = cpu_times()
    child = None
    try:
        with open(log_path, "w") as log:
            child = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"),
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--t0", repr(T0), "--root", root, "--out", out_path,
                 "--event-log", event_log],
                cwd=root, env=child_env(root, event_log), stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                rc = child.wait(timeout=CHILD_TIMEOUT_S - (time.monotonic() - T0))
            except subprocess.TimeoutExpired:
                rc = None
        if rc != 0 or not os.path.isfile(out_path):
            with open(log_path) as fh:
                tail = fh.read()[-4000:]
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"perfbench: worker {why}\n{tail}", file=sys.stderr)
            return 1
        with open(out_path) as fh:
            rec = json.load(fh)
    finally:
        if child is not None:
            stop_group(child.pid)
            child.wait()
        for _ in range(5):  # a process dying in the group may still add files
            shutil.rmtree(root, ignore_errors=True)
            if not os.path.exists(root):
                break
            time.sleep(0.2)

    rec["env"].update(
        {
            "uname": " ".join(platform.uname()[:3] + platform.uname()[4:5]),
            "host_steal_pct": steal_pct(cpu0, cpu_times()),
            "nproc": len(os.sched_getaffinity(0)),
            "python": platform.python_version(),
            "git_commit": git_commit(),
            "source_sha256": source_digest(),
        }
    )
    if args.trace:
        rec["layers"]["tracing.overhead_pct"] = tracing_overhead_pct(
            results_dir, rec, args.seconds
        )
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}.json"
    with open(os.path.join(results_dir, name), "w") as fh:
        json.dump(rec, fh, indent=1, default=str)

    for err in rec["errors"]:
        print(f"perfbench: check failed: {err}", file=sys.stderr)
    missing = [m["name"] for m in spec["end_to_end"] if m["name"] not in rec["e2e"]]
    if missing:
        print(f"perfbench: the run produced no {missing}", file=sys.stderr)
        return 1
    if args.trace:
        # A layer idle on this workload reports 0 (e.g. streaming.offsets
        # on batch_mix, query.* on the streaming workloads).
        metrics = {
            m["name"]: {"value": float(rec["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {
            m["name"]: {"value": float(rec["e2e"][m["name"]]), "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    print("# perfbench " + json.dumps({"workload": args.workload, "seed": args.seed,
                                       "samples": rec["samples"], "info": rec["info"],
                                       "env": rec["env"]}, default=str))
    print(json.dumps({
        "correct": rec["failed"] == 0 and not rec["errors"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
