"""One benchmark run of one workload, in a fresh process.

Started by ``run.py`` with the run's scratch root as its working
directory; writes its result as JSON to ``--out``.  Timing starts after
set-up: package import, session build, input staging and warm-up.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


#: CoreSpeed's work unit on a reference core: a typical median on the
#: 4-vCPU Xeon guest the benchmark was built on.
REF_UNIT_S = 0.0065


class Context:
    """What every workload needs: the session, the run's scratch root,
    the seed and length, the tracer and the progress listener."""

    def __init__(self, args, tracer):
        self.root = args.root
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = tracer
        self.spark = None
        self.entry = None
        self.progress = None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True, help="monotonic start of run.py")
    ap.add_argument("--root", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--event-log", default="")
    args = ap.parse_args()

    from probes import CoreSpeed, Tracer, peak_rss_mb, progress_listener, spark_layer
    from workloads import WORKLOADS

    tracer = Tracer(bool(args.trace))
    ctx = Context(args, tracer)
    layers: dict[str, float] = {}

    a = time.monotonic()
    with tracer.span("session.import"):
        import __spark_entry__ as entry
        from spark_streaming_kafka_offset_spark import session

        entry.queries()  # the registry: every query registered at import
    b = time.monotonic()
    with tracer.span("session.get_spark"):
        ctx.spark = session.get_spark(f"perfbench-{args.workload}")
    c = time.monotonic()
    ctx.entry = entry
    ctx.progress = progress_listener(ctx.spark)
    wl = WORKLOADS[args.workload](ctx)
    with tracer.span("session.stage"):
        wl.stage()
    d = time.monotonic()
    with tracer.span("session.warmup"):
        wl.warmup()
    e = time.monotonic()
    layers.update(
        {
            "session.import_s": b - a,
            "session.get_spark_s": c - b,
            "session.stage_s": d - c,
            "session.warmup_s": e - d,
        }
    )
    setup_s = e - args.t0

    w0 = time.time()
    with CoreSpeed() as speed:
        res = wl.run(args.seconds)
    w1 = time.time()
    rss = peak_rss_mb(os.getpid())
    sc = ctx.spark.sparkContext
    env = {
        "spark_version": ctx.spark.version,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": ctx.spark.conf.get("spark.sql.shuffle.partitions"),
        "core_unit_s": speed.unit_s,
        "core_unit_samples": len(speed.samples),
        "cpu_s": res.cpu,
    }
    ctx.spark.stop()

    res.e2e["setup_s"] = setup_s
    layers["process.peak_rss_mb"] = rss
    if res.cpu_ops:
        # CPU milliseconds per operation, corrected for the host's core
        # speed by half its swing (on a log scale): when the cores run
        # 1.7x faster the work unit takes 1.7x less CPU time, the engine
        # 1.2-1.35x less, as part of its time waits on memory.
        scale = 1000 * (REF_UNIT_S / speed.unit_s) ** 0.5 / res.cpu_ops
        per_op = {k: v * scale for k, v in res.cpu.items()}
        res.e2e["cpu_ms_per_op"] = per_op["total"]
        layers["process.jvm_cpu_ms_per_op"] = per_op["jvm"]
        layers["process.jit_cpu_ms_per_op"] = per_op["jit"]
        layers["process.python_cpu_ms_per_op"] = per_op["total"] - per_op["jvm"]
    layers.update(res.layers)
    if args.event_log:
        layers.update(spark_layer(args.event_log, w0, w1, res.n_ops))
    layers["tracing.bookkeeping_s"] = tracer.bookkeeping_s
    out = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "e2e": res.e2e,
        "layers": layers,
        "samples": res.samples,
        "attempted": res.attempted,
        "failed": res.failed,
        "errors": res.errors,
        "info": res.info,
        "env": env,
        "spans": tracer.spans,
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
