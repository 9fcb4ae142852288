"""The three workloads.

Each workload stages its seeded inputs, warms the code paths it times,
runs for the requested seconds, checks the engine's outputs and returns
its end-to-end metrics, its per-layer figures and its operation counts.
All engine calls go through public functions: ``session.get_spark``,
``streaming.core.read_event_stream`` / ``run_to_completion``,
``streaming.offsets.OffsetLedger`` / ``audit_ledger_contiguity``,
``__spark_entry__.queries`` / ``oracle_sql``.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
from probes import (
    core_layer,
    cpu_since,
    data_batches,
    pct,
    progress_start_s,
    session_cpu,
    state_layer,
)

#: The batch mix: the headline list of the repo's ``bench.py`` without
#: its streaming entry, one query per operator family.
MIX = [
    "agg_hash",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q10_returned_items",
    "events_funnel",
    "scan_pruned",
    "join_inner_hash",
    "join_broadcast",
    "join_asof",
    "win_rank",
    "topk_per_group",
    "agg_grouping_sets",
    "fn_json",
    "text_tfidf",
    "dedup_exact",
    "dedup_minhash",
    "sim_topk_exact",
]

#: Per-module sums reported for the batch mix (the engine module each
#: registered query function lives in).
MODULES = [
    "operators.aggregates",
    "operators.analytics",
    "operators.joins",
    "operators.windows",
    "sources.batch",
    "functions.scalar",
    "functions.text",
    "functions.similarity",
]


class Result:
    """What a workload hands back: metrics plus operation accounting."""

    def __init__(self):
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.n_ops = 0
        self.info: dict[str, object] = {}
        # CPU seconds the worker's processes used for ``cpu_ops``
        # operations (see ``probes.session_cpu``).
        self.cpu: dict[str, float] = {}
        self.cpu_ops = 0

    def fail(self, n: int, why: str) -> None:
        self.failed += n
        self.errors.append(why)


class InjectedCrash(RuntimeError):
    """Raised by the ingest sink wrapper after the sink write and before
    the WAL commit; not counted as a failed operation."""


class IngestLedgered:
    """Open-loop ledgered ingest with an injected crash and restart.

    A generator thread publishes range-chunked ``events`` files by atomic
    rename at a fixed rate; ``read_event_stream`` feeds
    ``OffsetLedger.process`` through ``foreachBatch`` with a checkpoint
    and a processing-time trigger.  Part-way through the run the sink
    wrapper raises after ``process`` returns (sink and ledger written,
    WAL commit not); the query stays down for a fixed outage while the
    generator keeps publishing, then restarts on the same checkpoint."""

    ROWS = 5000  # rows per chunk
    # One chunk every 2 s: 2,500 rows/s offered.  A ledgered batch costs
    # 1.1-1.6 s whatever its size on a 4-core host, so each batch carries
    # one chunk and the consumer keeps up even on a contended host; at a
    # 1 s interval the backlog grows and latency rises for as long as the
    # run lasts.
    INTERVAL_S = 2.0
    MAX_FILES = 16  # maxFilesPerTrigger: above the post-outage backlog
    TRIGGER = "100 milliseconds"
    CRASH_AT = (0.45,)  # crash the first batch starting after these shares of the run
    OUTAGE_S = 1.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = os.path.join(ctx.root, "ingest")
        self.chunks = datagen.IngestChunks(ctx.seed, self.ROWS, self.INTERVAL_S)

    def stage(self) -> None:
        os.makedirs(self.dir, exist_ok=True)

    def _publish(self, in_dir: str, i: int) -> None:
        tmp = os.path.join(in_dir, f".chunk-{i:06d}.tmp")
        pq.write_table(self.chunks.chunk(i), tmp)
        os.rename(tmp, os.path.join(in_dir, f"chunk-{i:06d}.parquet"))

    def _start(self, in_dir, root, sink):
        from spark_streaming_kafka_offset_spark.streaming.core import read_event_stream

        return (
            read_event_stream(self.spark, in_dir, self.MAX_FILES)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", os.path.join(root, "checkpoint"))
            .trigger(processingTime=self.TRIGGER)
            .start()
        )

    def warmup(self) -> None:
        """Three one-chunk batches through a throw-away ledgered query: the
        first micro-batches of a process pay class loading, codegen and
        JIT compilation."""
        from spark_streaming_kafka_offset_spark.streaming.offsets import OffsetLedger

        root = os.path.join(self.dir, "warmup")
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        ledger = OffsetLedger(root)
        q = self._start(in_dir, root, ledger.process)
        deadline = time.monotonic() + 90
        for i in range(3):
            self._publish(in_dir, i)
            while time.monotonic() < deadline and q.isActive:
                if self._committed_until(ledger)[0] >= self.chunks.first_id(i + 1) - 1:
                    break
                time.sleep(0.02)
        q.stop()

    def run(self, seconds: float) -> Result:
        from pyspark.errors import StreamingQueryException
        from pyspark.sql import functions as F

        from spark_streaming_kafka_offset_spark.streaming.offsets import (
            OffsetLedger,
            audit_ledger_contiguity,
        )

        ctx, tr, res = self.ctx, self.ctx.tracer, Result()
        root = os.path.join(self.dir, "run")
        in_dir = os.path.join(root, "in")
        os.makedirs(in_dir)
        ledger = OffsetLedger(root)
        calls: list[tuple[int, float, float]] = []  # (batch_id, start, end)
        crashed: list[int] = []  # batch ids the wrapper crashed
        restarts: list[float] = []
        t0 = time.monotonic()
        crash_at = [t0 + f * seconds for f in self.CRASH_AT]

        def sink(df, batch_id):
            start = time.monotonic()
            with tr.span("streaming.offsets.process", op=batch_id):
                ledger.process(df, batch_id)
            end = time.monotonic()
            calls.append((batch_id, start, end))
            c = len(crashed)
            if (
                c < len(crash_at)
                and start >= crash_at[c]
                and len(restarts) == c
                and (c == 0 or batch_id > crashed[-1] + 2)  # replay, drain, one normal batch
            ):
                crashed.append(batch_id)
                raise InjectedCrash(f"perfbench injected crash in batch {batch_id}")

        due: list[float] = []
        published: list[float] = []
        sent_wall: list[float] = []
        late: list[float] = []
        bench_cpu: list[float] = []  # the benchmark's own threads, not the engine's
        stop = threading.Event()

        def generate():
            c0, i = time.thread_time(), 0
            while not stop.is_set():
                d = t0 + i * self.INTERVAL_S + self.chunks.jitter_s[i]
                if d - t0 >= seconds:
                    break
                while (wait := d - time.monotonic()) > 0:
                    time.sleep(min(wait, 0.01))
                late.append(time.monotonic() - d)
                with tr.span("gen.publish", op=i):
                    self._publish(in_dir, i)
                published.append(time.monotonic())
                due.append(d)
                sent_wall.append(time.time())
                i += 1
            bench_cpu.append(time.thread_time() - c0)

        cpu0 = session_cpu()
        gen = threading.Thread(target=generate, name="perfbench-generator")
        gen.start()
        queries = [self._start(in_dir, root, sink)]
        try:
            for _ in self.CRASH_AT:
                try:
                    if not queries[-1].awaitTermination(seconds + 60):
                        raise RuntimeError("the injected crash did not stop the query")
                except StreamingQueryException as exc:
                    if "perfbench injected crash" not in str(exc):
                        raise
                time.sleep(self.OUTAGE_S)
                restarts.append(time.monotonic())
                with tr.span("streaming.core.restart"):
                    queries.append(self._start(in_dir, root, sink))
            gen.join()
            last_id = self.chunks.first_id(len(due)) - 1
            deadline = time.monotonic() + 60
            c0 = time.thread_time()
            while time.monotonic() < deadline and queries[-1].isActive:
                until, bid = self._committed_until(ledger)
                if until >= last_id and any(c[0] == bid for c in calls):
                    break  # the batch holding the last chunk has returned
                time.sleep(0.1)
            bench_cpu.append(time.thread_time() - c0)
        finally:
            stop.set()
            gen.join()
            for q in queries:
                if q.isActive:
                    q.stop()
        t_end = time.monotonic()
        res.cpu = cpu_since(cpu0)
        res.cpu["total"] -= sum(bench_cpu)

        # ---- outputs: exactly-once sink and a gap-free ledger -------------
        n_chunks = len(due)
        res.attempted = n_chunks
        end_of = {}
        for bid, _, end in calls:
            end_of[bid] = end  # the last call of a batch id is the committed one
        ledger_rows = {r["batch_id"]: r for r in ledger.read_ledger(self.spark).collect()}
        per_chunk = (
            ledger.read_sink(self.spark)
            .groupBy(
                F.floor((F.col("event_id") - self.chunks.id_base) / self.ROWS).alias("chunk")
            )
            .agg(F.count("*").alias("n"), F.countDistinct("event_id").alias("d"))
            .collect()
        )
        good = {
            r["chunk"]
            for r in per_chunk
            if r["n"] == self.ROWS and r["d"] == self.ROWS and 0 <= r["chunk"] < n_chunks
        }
        if len(good) != n_chunks or len(per_chunk) != n_chunks:
            res.fail(n_chunks - len(good), "sink does not hold every event_id exactly once")
        audit = audit_ledger_contiguity(ledger.read_ledger(self.spark), "perfbench")
        bad = audit.where(~F.col("status").isin("start", "contiguous")).count()
        if bad or audit.where(F.col("status") == "start").count() != 1:
            res.fail(0, f"ledger contiguity audit: {bad} gap/overlap rows")

        # ---- recovery and drain, per injected crash -----------------------
        recovery, drain, first_commit, downtime, affected = [], [], [], [], set()
        for c, (crash_bid, restart) in enumerate(zip(crashed, restarts)):
            if crash_bid not in end_of:
                res.fail(0, f"batch {crash_bid} was not replayed after the restart")
                continue
            nxt = crashed[c + 1] if c + 1 < len(crashed) else None
            post = [
                b
                for b in sorted(ledger_rows)
                if b > crash_bid and b in end_of and (nxt is None or b < nxt)
            ]
            replay_end = end_of[crash_bid]
            first_commit.append(replay_end - restart)
            crash_end = next(e for b, _, e in calls if b == crash_bid)
            downtime.append(replay_end - crash_end)
            # Caught up: the first batch after the replay at whose end every
            # published chunk is committed; the last one when none is.
            caught = next(
                (b for b in post if self._lag(ledger_rows[b], end_of[b], published) == 0),
                post[-1] if post else crash_bid,
            )
            recovery.append(end_of[caught] - restart)
            drained = [b for b in post if b <= caught]
            if drained:
                rows = sum(ledger_rows[b]["n_rows"] for b in drained)
                drain.append(rows / (end_of[caught] - replay_end))
            affected.update(range(crash_bid, caught + 1))
        if len(first_commit) != len(self.CRASH_AT):
            res.fail(0, f"{len(first_commit)} of {len(self.CRASH_AT)} crashes replayed")
            return res
        # Downtime: from the crash until the crashed batch is committed
        # again, i.e. the query's termination, the fixed outage, the
        # restart and the replay.  The drain after it takes one or two
        # batches, depending on where the crash fell between two chunks,
        # so caught-up time (a layer figure) is bimodal.
        res.layers["wall.time_s"] = float(np.median(downtime))
        # Goodput of the sink: committed rows per second spent in process
        # calls, the crashed (wasted) calls included.  Summed over every
        # batch of the run, so it is steadier than the drain rate of the
        # one or two batches after each restart.
        proc_s = sum(e - s for _, s, e in calls)
        res.layers["wall.rows_per_s"] = sum(r["n_rows"] for r in ledger_rows.values()) / proc_s

        # ---- latency: event creation -> end of the committing process call --
        # Events of chunk i are created evenly over the interval before its
        # due send time, as a producer batching for one interval would.
        # Chunks committed by a crashed, replayed or draining batch are the
        # crash's cost, measured above; latency is that of normal running.
        linger = self.INTERVAL_S * (1 - (np.arange(self.ROWS) + 0.5) / self.ROWS) * 1000
        bounds = sorted((r["until_event_id"], bid) for bid, r in ledger_rows.items())
        untils = np.array([u for u, _ in bounds])
        chunk_batch = []
        due_ms = []  # per chunk: due send time -> end of its committing call
        lat = []
        for i in range(n_chunks):
            k = int(np.searchsorted(untils, self.chunks.first_id(i + 1) - 1))
            if k < len(bounds) and bounds[k][1] in end_of:
                bid = bounds[k][1]
                chunk_batch.append(bid)
                due_ms.append(round((end_of[bid] - due[i]) * 1000, 1))
                if bid not in affected:
                    lat.append(due_ms[-1] + linger)
            else:
                res.fail(1, f"chunk {i} has no returned process call")
        lat = np.concatenate(lat) if lat else np.array([])
        res.samples["latency"] = len(lat)
        res.samples["restarts"] = len(recovery)
        res.layers["wall.latency_p50_ms"] = pct(lat, 50)
        res.layers["wall.latency_p95_ms"] = pct(lat, 95)
        res.cpu_ops = n_chunks

        # ---- layers --------------------------------------------------------
        proc = [(e - s) * 1000 for _, s, e in calls]
        runs = {q.runId for q in queries}
        progress = ctx.progress.items
        batches = data_batches(progress, runs)
        res.layers.update(core_layer(batches))
        start_of = {p["batchId"]: progress_start_s(p) for p in batches}
        disc = [
            (start_of[b] - sent_wall[i]) * 1000
            for i, b in enumerate(chunk_batch)
            if b in start_of
        ]
        res.layers["streaming.core.discovery_lag_ms"] = pct(disc, 50)
        sink_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(ledger.sink_dir)
            for f in fs
            if f.endswith(".parquet")
        )
        res.layers.update(
            {
                "streaming.offsets.process_ms": pct(proc, 50),
                "streaming.offsets.process_p95_ms": pct(proc, 95),
                "streaming.offsets.files_per_batch": pct(
                    [r["n_rows"] / self.ROWS for r in ledger_rows.values()], 50
                ),
                "streaming.offsets.sink_bytes_per_row": sink_bytes / max(1, n_chunks * self.ROWS),
                "streaming.offsets.restart_to_first_commit_s": float(np.median(first_commit)),
                "streaming.offsets.recovery_s": float(np.median(recovery)),
                "streaming.offsets.useful_ratio": len(ledger_rows) / max(1, len(calls)),
                "gen.late_ms": max(late) * 1000,
            }
        )
        res.n_ops = len(ledger_rows)
        res.info = {
            "offered_rows_per_s": self.ROWS / self.INTERVAL_S,
            "chunks": n_chunks,
            "crash_batches": crashed,
            "recovery_s": recovery,
            "drain_rows_per_s": drain,
            "chunk_due_to_commit_ms": due_ms,
            "chunk_batch": chunk_batch,
            "outage_s": self.OUTAGE_S,
            "max_files_per_trigger": self.MAX_FILES,
            "run_s": t_end - t0,
        }
        return res

    def _lag(self, row, end: float, published: list[float]) -> int:
        """Chunks published before ``end`` but not committed by the
        ledger row ``row``."""
        committed = (row["until_event_id"] - self.chunks.id_base + 1) // self.ROWS
        return sum(1 for p in published[committed:] if p < end)

    @staticmethod
    def _committed_until(ledger) -> tuple[int, int]:
        """Highest ``until_event_id`` in the ledger directory and the batch
        id that wrote it, read from the partition files without Spark."""
        best = (-1, -1)
        if not os.path.isdir(ledger.ledger_dir):
            return best
        for part in os.listdir(ledger.ledger_dir):
            pdir = os.path.join(ledger.ledger_dir, part)
            if not os.path.exists(os.path.join(pdir, "_SUCCESS")):
                continue
            for f in os.listdir(pdir):
                if f.endswith(".parquet"):
                    col = pq.read_table(os.path.join(pdir, f), columns=["until_event_id"])
                    vals = [v for v in col.column(0).to_pylist() if v is not None]
                    if vals:
                        best = max(best, (max(vals), int(part.split("=")[1])))
        return best


class WindowsReplay:
    """Closed-loop ``availableNow`` drain of a staged backlog, one chunk
    file per micro-batch: watermark, ``dropDuplicatesWithinWatermark``
    and a tumbling window count/sum in append mode, through
    ``run_to_completion`` into the memory sink."""

    ROWS = 2500  # rows per chunk
    CHUNKS_PER_S = 0.9  # backlog chunks per requested second (~1 s per batch)
    SPAN_US = 600_000_000  # each chunk spans 10 minutes of event time
    WINDOW = "5 minutes"
    WATERMARK = "30 minutes"  # three chunk spans: late rows and retransmits stay inside
    DUP_FRAC = 0.05
    LATE_FRAC = 0.05

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = os.path.join(ctx.root, "replay")

    def _write(self, tables, out_dir: str) -> None:
        os.makedirs(out_dir)
        base = time.time() - len(tables) - 10
        for c, tbl in enumerate(tables):
            dest = os.path.join(out_dir, f"chunk-{c:05d}.parquet")
            pq.write_table(tbl, dest)
            os.utime(dest, (base + c, base + c))  # discovery order = chunk order

    def stage(self) -> None:
        n = max(4, int(self.CHUNKS_PER_S * self.ctx.seconds))
        chunks, self.distinct = datagen.replay_backlog(
            self.ctx.seed, n, self.ROWS, self.SPAN_US, self.DUP_FRAC, self.LATE_FRAC
        )
        self.n_rows = sum(t.num_rows for t in chunks)
        self.n_chunks = n
        self._write(chunks, os.path.join(self.dir, "backlog"))
        warm, _ = datagen.replay_backlog(
            self.ctx.seed + 1, 3, self.ROWS, self.SPAN_US, self.DUP_FRAC, self.LATE_FRAC
        )
        self._write(warm, os.path.join(self.dir, "warm"))

    def _query(self, src_dir: str, name: str):
        from pyspark.sql import functions as F

        from spark_streaming_kafka_offset_spark.common import dsum2
        from spark_streaming_kafka_offset_spark.streaming.core import (
            read_event_stream,
            run_to_completion,
        )

        src = read_event_stream(self.spark, src_dir, max_files_per_trigger=1)
        agg = (
            src.withWatermark("ts", self.WATERMARK)
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy(F.window("ts", self.WINDOW).alias("window"), "event_type")
            .agg(F.count("*").alias("n"), dsum2("value", "total_value"))
        )
        return run_to_completion(
            agg, name, "append", checkpoint=os.path.join(self.dir, f"ckpt-{name}")
        )

    def warmup(self) -> None:
        self._query(os.path.join(self.dir, "warm"), "perfbench_warm").count()

    def run(self, seconds: float) -> Result:
        ctx, res = self.ctx, Result()
        seen = len(ctx.progress.items)
        cpu0, t0 = session_cpu(), time.monotonic()
        with ctx.tracer.span("streaming.core.run_to_completion"):
            out = self._query(os.path.join(self.dir, "backlog"), "perfbench_replay")
        wall = time.monotonic() - t0
        res.cpu, res.cpu_ops = cpu_since(cpu0), self.n_chunks
        got = out.collect()

        # ---- the batch twin: the same aggregate over the distinct rows ----
        want = self._twin()
        res.attempted = len(want)
        have = {
            (r["window"]["start"].timestamp(), r["event_type"]): (r["n"], round(r["total_value"] * 100))
            for r in got
        }
        missing = sum(1 for k, v in want.items() if have.get(k) != v)
        extra = sum(1 for k in have if k not in want)
        if missing or extra:
            res.fail(missing + extra, f"replay != batch twin: {missing} wrong/missing, {extra} extra")

        # ---- metrics ---------------------------------------------------------
        progress = ctx.progress.items[seen:]
        runs = {p["runId"] for p in progress if p["name"] == "perfbench_replay"}
        batches = data_batches(progress, runs)
        trig = [p["durationMs"]["triggerExecution"] for p in batches]
        res.samples["latency"] = len(trig)
        res.layers["wall.latency_p50_ms"] = pct(trig, 50)
        res.layers["wall.latency_p95_ms"] = pct(trig, 95)
        res.layers["wall.time_s"] = wall
        res.layers["wall.rows_per_s"] = self.n_rows / wall
        res.layers.update(core_layer(batches))
        res.layers.update(state_layer([p for p in progress if p["runId"] in runs]))
        res.n_ops = len(batches)
        res.info = {
            "chunks": self.n_chunks,
            "input_rows": self.n_rows,
            "result_rows": len(got),
            "batch_ms": trig,
        }
        return res

    def _twin(self) -> dict[tuple[float, str], tuple[int, int]]:
        """Expected append-mode output, computed with numpy from the
        distinct rows: windows whose end is at or below the final
        watermark (max event time in ms minus the delay)."""
        t = self.distinct
        ts = t["ts"].cast("int64").to_numpy()
        win_us = 5 * 60 * 1_000_000
        delay_ms = 30 * 60 * 1000
        watermark_us = (ts.max() // 1000 - delay_ms) * 1000
        start = ts - ts % win_us
        keep = start + win_us <= watermark_us
        cents = np.round(t["value"].to_numpy() * 100).astype(np.int64)
        types = t["event_type"].to_numpy(zero_copy_only=False)
        out: dict[tuple[float, str], list[int]] = {}
        for s, ty, c in zip(start[keep], types[keep], cents[keep]):
            acc = out.setdefault((s / 1e6, ty), [0, 0])
            acc[0] += 1
            acc[1] += int(c)
        return {k: (v[0], v[1]) for k, v in out.items()}


class BatchMix:
    """One closed-loop client over the 17-query mix, each query built
    fresh through ``__spark_entry__.queries()`` and collected."""

    SCALE = 0.01  # ~60k lineitem rows

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.dir = os.path.join(ctx.root, "tables")

    def stage(self) -> None:
        """Write the seeded tables and compute the DuckDB oracle answers."""
        import duckdb

        from spark_streaming_kafka_offset_spark import session as S

        self.counts = datagen.write_tables(self.dir, self.ctx.seed, self.SCALE)
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{os.path.join(self.ctx.root, 'duckdb')}'")
        for t in S.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')"
            )
        oracles = self.ctx.entry.oracle_sql()
        self.oracle = {k: con.execute(oracles[k]).df() for k in MIX if k in oracles}
        con.close()

    def warmup(self) -> None:
        """One full untimed pass, also the oracle check: the first builds
        and runs of each query pay planning, codegen and class loading.
        JIT compilation settles over the next few passes; a second warm
        pass would add 7-10 s to every run's set-up."""
        from tools.driver_canon import compare_frames

        qs = self.ctx.entry.queries()
        self.expected_rows: dict[str, int] = {}
        self.warm_failures: list[str] = []
        for k in MIX:
            pdf = qs[k](self.spark, self.dir).toPandas()
            self.expected_rows[k] = len(pdf)
            if k in self.oracle:
                problems = compare_frames(pdf, self.oracle[k])
            elif k == "dedup_minhash":
                n = self.counts["minhash_pairs"]
                problems = [] if len(pdf) == n else [f"{len(pdf)} rows, planted {n}"]
            else:
                problems = ["no check for this key"]
            if problems:
                self.warm_failures.append(f"{k}: {'; '.join(problems)}")

    def run(self, seconds: float) -> Result:
        ctx, tr, res = self.ctx, self.ctx.tracer, Result()
        qs = ctx.entry.queries()
        module = {k: qs[k].__module__.split(".", 1)[1] for k in MIX}
        res.attempted = len(MIX)
        res.failed = len(self.warm_failures)
        res.errors.extend(self.warm_failures)
        passes: list[dict[str, tuple[float, float]]] = []
        pass_s: list[float] = []
        digests: dict[str, set[int]] = {k: set() for k in MIX}
        cpu0, t0 = session_cpu(), time.monotonic()
        # Start a pass only if it should end within the run (two at least).
        while len(passes) < 2 or time.monotonic() - t0 + pass_s[-1] <= seconds:
            p = {}
            with tr.span("batch_mix.pass", op=len(passes)):
                for k in MIX:
                    with tr.span(f"query.{k}", op=(len(passes), k)):
                        a = time.monotonic()
                        with tr.span("plans.registry.build"):
                            df = qs[k](self.spark, self.dir)
                        b = time.monotonic()
                        with tr.span("spark.collect"):
                            rows = df.collect()
                        c = time.monotonic()
                    p[k] = (b - a, c - b)
                    digests[k].add(hash(tuple(sorted(map(repr, rows)))))
                    res.attempted += 1
                    if len(rows) != self.expected_rows[k]:
                        res.fail(1, f"{k}: {len(rows)} rows, warm-up had {self.expected_rows[k]}")
            passes.append(p)
            pass_s.append(sum(b + e for b, e in p.values()))
            if len(passes) == 2:
                # CPU over the first two passes, however many the host's
                # speed fits into the run: the JIT compiler is still busy
                # and each pass costs less CPU than the one before.
                res.cpu, res.cpu_ops = cpu_since(cpu0), 2 * len(MIX)
        for k, d in digests.items():
            if len(d) != 1:
                res.fail(1, f"{k}: results differ between passes")

        # One latency per query: its fastest pass.  A run holds two or
        # three passes, and on a shared host a stolen CPU slows whichever
        # queries run at that moment; the fastest pass filters that out,
        # and the mix's upper percentile is then its slowest queries.
        best = {k: min(sum(p[k]) for p in passes) for k in MIX}
        lat = [v * 1000 for v in best.values()]
        res.samples["latency"] = len(lat)
        res.samples["passes"] = len(passes)
        res.layers["wall.latency_p50_ms"] = pct(lat, 50)
        res.layers["wall.latency_p95_ms"] = pct(lat, 95)
        res.layers["wall.time_s"] = sum(best.values())
        input_rows = sum(v for k, v in self.counts.items() if k != "minhash_pairs")
        res.layers["wall.rows_per_s"] = input_rows / res.layers["wall.time_s"]
        for k in MIX:
            res.layers[f"query.{k}.build_s"] = float(np.median([p[k][0] for p in passes]))
            res.layers[f"query.{k}.exec_s"] = float(np.median([p[k][1] for p in passes]))
        for m in MODULES:
            res.layers[f"{m}_s"] = float(
                np.median([sum(sum(p[k]) for k in MIX if module[k] == m) for p in passes])
            )
        res.n_ops = len(passes) * len(MIX)
        res.info = {"scale": self.SCALE, "table_rows": self.counts, "passes": pass_s}
        return res


WORKLOADS = {
    "ingest_ledgered": IngestLedgered,
    "windows_replay": WindowsReplay,
    "batch_mix": BatchMix,
}
