"""§5.4/§5.5 — streaming batch-equivalence and the exactly-once
offset-ledger contract (the reference's soul [K]).

Each windowed/stateful streaming operator is compared against the batch
answer over the same rows; the ledger test kills a query between batches
and restarts from the same checkpoint, asserting no loss, no duplication,
no ledger gaps.
"""

from __future__ import annotations


from pyspark.sql import functions as F

from spark_streaming_kafka_offset_spark.session import load_table
from spark_streaming_kafka_offset_spark.streaming.core import (
    EVENT_SCHEMA,
    committed_batch_ids,
    fold_batch,
    latest_batch,
    read_event_stream,
    stage_stream_dir,
)
from spark_streaming_kafka_offset_spark.streaming.offsets import (
    LEDGER_SCHEMA,
    OffsetLedger,
    ledger_arrow_schema,
    run_ledgered_stream,
)
from spark_streaming_kafka_offset_spark.streaming.stateful import running_user_stats
import __spark_entry__ as entrymod
from tests.conftest import SF_DIR

QUERIES = entrymod.queries()


def _batch_events(spark):
    return load_table(spark, SF_DIR, "events")


def test_tumbling_equals_batch(spark):
    streamed = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in QUERIES["stream_tumbling"](spark, SF_DIR).collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): (r["n"], r["total_value"])
        for r in _batch_events(spark)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
        .collect()
    }
    assert streamed == batch


def test_sliding_equals_batch(spark):
    streamed = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in QUERIES["stream_sliding"](spark, SF_DIR).collect()
    }
    batch = {
        (r["window_start"], r["event_type"]): r["n"]
        for r in _batch_events(spark)
        .groupBy(F.window("ts", "12 hours", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .collect()
    }
    assert streamed == batch


def test_session_equals_batch(spark):
    streamed = {
        (r["user_id"], r["window_start"]): r["n_events"]
        for r in QUERIES["stream_session"](spark, SF_DIR).collect()
    }
    batch = {
        (r["user_id"], r["window_start"]): r["n_events"]
        for r in _batch_events(spark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_events")
        .collect()
    }
    assert streamed == batch


def test_dedup_restores_exactly_once_counts(spark):
    """Doubled input + dropDuplicatesWithinWatermark == original counts."""
    streamed = {
        r["event_type"]: r["n_unique"]
        for r in QUERIES["stream_dedup"](spark, SF_DIR).collect()
    }
    batch = {
        r["event_type"]: r["n"]
        for r in _batch_events(spark)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert streamed == batch


def test_state_stores_one_per_core_conf_restored_at_start(spark):
    """A two-operator stateful stream (watermark dedup, then a count)
    started through the engine's runner runs one state store per core
    on every operator, and the session's shuffle setting is back to its
    own value as soon as ``start()`` returns, not when the run ends: a
    ``foreachBatch`` function reading the session conf mid-run sees the
    session's value, while its batch runs in the query's per-core clone.
    The fixture session has 8 shuffle partitions, more than its cores,
    so a count taken from the session conf, or a swap held for the
    whole run, both show."""
    from spark_streaming_kafka_offset_spark.common import scratch_path
    from spark_streaming_kafka_offset_spark.streaming.core import run_stream

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    session_parts = spark.conf.get(key)
    assert session_parts != str(cores)
    src = read_event_stream(spark, stage_stream_dir(spark, SF_DIR))
    doubled = src.withColumn(
        "copy", F.explode(F.array(F.lit(1), F.lit(2)))
    ).drop("copy")
    counted = (
        doubled.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    q = run_stream(
        counted,
        name="state_store_sizing",
        output_mode="complete",
        checkpoint=scratch_path("ckpt_"),
    )
    assert spark.conf.get(key) == session_parts

    ops = [o for p in q.recentProgress for o in p["stateOperators"]]
    assert len({o["operatorName"] for o in ops}) == 2
    assert {o["numStateStoreInstances"] for o in ops} == {cores}
    streamed = {
        r["event_type"]: r["n"]
        for r in spark.table("state_store_sizing").collect()
    }
    batch = {
        r["event_type"]: r["n"]
        for r in _batch_events(spark)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert streamed == batch

    seen_session, seen_batch = set(), set()

    def read_conf(batch_df, batch_id):
        seen_session.add(spark.conf.get(key))
        seen_batch.add(batch_df.sparkSession.conf.get(key))

    run_stream(
        read_event_stream(
            spark, stage_stream_dir(spark, SF_DIR), max_files_per_trigger=1
        ),
        read_conf,
        checkpoint=scratch_path("ckpt_"),
    )
    assert seen_session == {session_parts}
    assert seen_batch == {str(cores)}


def test_failed_start_leaves_session_clean(spark):
    """A start that Spark rejects (complete mode with no aggregation)
    raises at ``start()``, restores the session's shuffle setting and
    releases the start lock, so the next stream runs."""
    import pytest
    from pyspark.errors import AnalysisException

    from spark_streaming_kafka_offset_spark.streaming import core

    key = "spark.sql.shuffle.partitions"
    session_parts = spark.conf.get(key)
    src = read_event_stream(spark, stage_stream_dir(spark, SF_DIR))
    with pytest.raises(AnalysisException):
        core.run_stream(src, name="failed_start", output_mode="complete")
    assert spark.conf.get(key) == session_parts
    assert not core._START_LOCK.locked()
    core.run_stream(src.select("event_id"), name="after_failed_start")
    assert spark.table("after_failed_start").count() == _batch_events(spark).count()
    assert spark.conf.get(key) == session_parts


def test_engine_starts_streams_only_through_run_stream():
    """``.writeStream`` is touched in exactly one engine function,
    ``streaming.core.run_stream``: every engine stream gets its trigger,
    checkpoint and state-store sizing from the one runner."""
    import ast
    from pathlib import Path

    import spark_streaming_kafka_offset_spark as pkg

    root = Path(pkg.__file__).parent
    hits = []

    def walk(node, path, func):
        for child in ast.iter_child_nodes(node):
            inner = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if isinstance(child, ast.Attribute) and child.attr == "writeStream":
                hits.append((path, inner))
            walk(child, path, inner)

    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        walk(ast.parse(f.read_text(), rel), rel, None)
    assert hits == [("streaming/core.py", "run_stream")]


def test_batch_keyed_sinks_share_one_commit_rule():
    """One commit rule: outside docstrings the package names ``_SUCCESS``
    only in ``streaming.core.committed_batch_ids`` and in
    ``OffsetLedger.process`` (its stat and its touch), and no string
    under ``streaming/`` names a ``v{…}`` or ``batch=…`` directory, so
    every batch-keyed sink directory is ``batch_id=N``."""
    import ast
    import re
    from pathlib import Path

    import spark_streaming_kafka_offset_spark as pkg

    root = Path(pkg.__file__).parent
    success, dir_names = [], []

    def walk(node, rel, func, docs):
        for child in ast.iter_child_nodes(node):
            if id(child) in docs:
                continue
            inner = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if isinstance(child, ast.JoinedStr):  # f-string: {} per field
                text = "".join(
                    v.value if isinstance(v, ast.Constant) else "{}"
                    for v in child.values
                )
            elif isinstance(child, ast.Constant) and isinstance(child.value, str):
                text = child.value
            else:
                walk(child, rel, inner, docs)
                continue
            if "_SUCCESS" in text:
                success.append((rel, inner))
            if rel.startswith("streaming/") and re.search(r"(^|/)v\{|batch=", text):
                dir_names.append((rel, inner, text))

    for f in sorted(root.rglob("*.py")):
        rel = f.relative_to(root).as_posix()
        tree = ast.parse(f.read_text(), rel)
        docs = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(
                n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
            )
            and ast.get_docstring(n) is not None
        }
        walk(tree, rel, None, docs)
    assert success == [
        ("streaming/core.py", "committed_batch_ids"),
        ("streaming/offsets.py", "process"),
        ("streaming/offsets.py", "process"),
    ]
    assert dir_names == []


def test_rate_limit_batches_equal_staged_chunks(spark):
    """``maxFilesPerTrigger=1`` over the 4 staged chunk files runs one
    micro-batch per file, in discovery order: batch i holds exactly the
    rows of chunk i (the i-th event_id range, ``floor(event_id / step)
    == i``)."""
    streamed = [
        (r["batch_id"], r["n_rows"])
        for r in QUERIES["stream_rate_limit"](spark, SF_DIR).collect()
    ]
    e = _batch_events(spark)
    step = -(-(e.agg(F.max("event_id")).first()[0] + 1) // 4)
    batch = [
        (r["chunk"], r["count"])
        for r in e.groupBy(F.floor(F.col("event_id") / step).alias("chunk"))
        .count()
        .orderBy("chunk")
        .collect()
    ]
    assert len(batch) == 4
    assert streamed == batch


def test_stage_stream_dir_range_layout(spark):
    """The one staging layout: ``n`` files ``0000.parquet …`` whose chunk
    i holds exactly the event ids in ``[i·step, (i+1)·step)`` with
    ``step = ceil((max + 1) / n)``, mtimes strictly increasing (discovery
    order == id order), and one cached dir per (sf_dir, n)."""
    import os

    import pyarrow.parquet as pq

    ids = sorted(r["event_id"] for r in _batch_events(spark).collect())
    for n in (3, 4):
        stream_dir = stage_stream_dir(spark, SF_DIR, n)
        names = sorted(os.listdir(stream_dir))
        assert names == [f"{i:04d}.parquet" for i in range(n)]
        step = -(-(ids[-1] + 1) // n)
        for i, name in enumerate(names):
            got = pq.read_table(os.path.join(stream_dir, name))["event_id"]
            want = [e for e in ids if i * step <= e < (i + 1) * step]
            assert sorted(got.to_pylist()) == want and want, (n, i)
        mtimes = [os.stat(os.path.join(stream_dir, f)).st_mtime for f in names]
        assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
        assert stage_stream_dir(spark, SF_DIR, n) == stream_dir


def test_sink_foreachbatch_equals_batch(spark):
    """With no rate limit the staged stream drains as one batch, and the
    ``foreachBatch`` sink's count and rounded value sum equal the batch
    aggregate over the same rows."""
    streamed = [
        (r["batch_id"], r["n_rows"], r["total_value"])
        for r in QUERIES["sink_foreachbatch"](spark, SF_DIR).collect()
    ]
    want = (
        _batch_events(spark)
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .collect()[0]
    )
    assert streamed == [(0, want["n"], want["v"])]


def test_concurrent_run_to_completion_restores_session_conf(spark):
    """Two ``run_to_completion`` calls racing on one session from two
    threads both return their batch twin, and the session's shuffle
    setting ends where it began.  The session starts at a value that is
    neither the core count nor any forced state-store count, and the
    second query starts while the first one runs, so a swapped value
    saved and later restored by the second call shows."""
    import time
    from concurrent.futures import ThreadPoolExecutor

    from spark_streaming_kafka_offset_spark.streaming.core import (
        run_to_completion,
    )

    key = "spark.sql.shuffle.partitions"
    fixture_parts = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        src = read_event_stream(
            spark, stage_stream_dir(spark, SF_DIR), max_files_per_trigger=1
        )
        cases = {"concurrent_by_type": "event_type", "concurrent_by_user": "user_id"}

        def counts(name: str, col: str) -> dict:
            deadline = time.monotonic() + 60
            while (
                name == "concurrent_by_user"
                and "concurrent_by_type" not in {q.name for q in spark.streams.active}
                and time.monotonic() < deadline
            ):
                time.sleep(0.01)
            agg = src.groupBy(col).agg(F.count("*").alias("n"))
            out = run_to_completion(agg, name, "complete")
            return {r[col]: r["n"] for r in out.collect()}

        with ThreadPoolExecutor(max_workers=2) as pool:
            got = dict(zip(cases, pool.map(counts, cases, cases.values())))
        assert spark.conf.get(key) == "3"
        events = _batch_events(spark)
        for name, col in cases.items():
            want = {r[col]: r["count"] for r in events.groupBy(col).count().collect()}
            assert got[name] == want
    finally:
        spark.conf.set(key, fixture_parts)


def _late_staging_pieces(spark):
    """(on_time_df, late_cut, final_watermark) matching stage_stream_dir's
    late_chunk=True split: late = earliest 25% by ts, final watermark =
    max(on-time ts) - 15min.  Computed through the same µs quantile the
    staging uses so boundaries agree to the microsecond."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_DIR}/events.parquet", columns=["ts"])
    ts_us = pc.cast(tbl["ts"], pa.timestamp("us"), safe=False)
    cut = round(
        pc.quantile(
            pc.cast(ts_us, pa.int64()), q=0.25, interpolation="linear"
        )[0].as_py()
    )
    cut_dt = datetime.datetime(1970, 1, 1) + datetime.timedelta(
        microseconds=cut
    )
    on_time = _batch_events(spark).where(F.col("ts") >= F.lit(cut_dt))
    wm_final = on_time.agg(F.max("ts")).collect()[0][0] - datetime.timedelta(
        minutes=15
    )
    return on_time, cut_dt, wm_final


def test_watermark_drops_late_chunk(spark):
    """The earliest 25% of rows arrive LAST, after an intermediate
    on-time batch armed the late-events watermark (Spark filters late
    input with the previous batch's watermark — with only two files
    nothing is ever dropped; measured before the 3-file staging fix).
    Append output must equal the on-time-only batch twin restricted to
    windows closed below the final watermark — byte-exact, and with no
    window from the late chunk's exclusive time range."""
    out = QUERIES["stream_watermark"](spark, SF_DIR).collect()
    streamed = {(r["window_start"], r["window_end"], r["n"]) for r in out}
    on_time, cut_dt, wm_final = _late_staging_pieces(spark)
    twin = {
        (r["window_start"], r["window_end"], r["n"])
        for r in on_time.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count("*").alias("n"))
        .where(F.col("w.end") <= F.lit(wm_final))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
        .collect()
    }
    assert streamed == twin
    # Adversarial non-vacuity: the full-table twin DISAGREES — late rows
    # would have added windows / inflated counts had they been admitted.
    full_twin = {
        (r["window_start"], r["window_end"], r["n"])
        for r in _batch_events(spark)
        .groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(F.count("*").alias("n"))
        .where(F.col("w.end") <= F.lit(wm_final))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
        .collect()
    }
    assert streamed != full_twin
    # No emitted window may start before the 6h-aligned window containing
    # the late chunk's upper bound — the late range produced zero output.
    cut_window_start = cut_dt.replace(
        hour=(cut_dt.hour // 6) * 6, minute=0, second=0, microsecond=0
    )
    assert all(ws >= cut_window_start for ws, _, _ in streamed)


def test_session_window_drops_late_data_exactly(spark):
    """Adversarial late-data run of the SESSION window (gap merge state,
    not fixed buckets): same 3-file staging, session windows + watermark
    in append mode.  Emitted sessions must equal the sessions of the
    on-time subset alone (late rows neither extended nor created any
    session) restricted to sessions closed below the final watermark —
    and must DIFFER from the full-table sessions over the same range,
    proving the drop changed real output rather than passing vacuously."""
    from spark_streaming_kafka_offset_spark.streaming.core import (
        read_event_stream,
        run_to_completion,
        scratch_path,
        stage_stream_dir,
        _flatten_window,
    )

    stream_dir = stage_stream_dir(spark, SF_DIR, late_chunk=True)
    src = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    agg = (
        src.withWatermark("ts", "15 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("window"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_to_completion(
        agg, "stream_session_late", "append", checkpoint=scratch_path("ckpt_")
    )
    streamed = {
        (r["user_id"], r["window_start"], r["window_end"], r["n_events"])
        for r in _flatten_window(out).collect()
    }
    on_time, _cut, wm_final = _late_staging_pieces(spark)

    def sessions_of(df):
        return {
            (r["user_id"], r["window_start"], r["window_end"], r["n_events"])
            for r in df.groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count("*").alias("n_events"))
            .where(F.col("w.end") <= F.lit(wm_final))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "user_id",
                "n_events",
            )
            .collect()
        }

    on_time_twin = sessions_of(on_time)
    assert streamed == on_time_twin
    full_twin = sessions_of(_batch_events(spark))
    assert streamed != full_twin


def test_stateful_final_state_equals_batch(spark):
    """Multi-batch stateful fold ends at the batch groupBy answer."""
    streamed = {
        r["user_id"]: (r["n_events"], r["n_purchases"])
        for r in QUERIES["stream_stateful"](spark, SF_DIR).collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["np"])
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("np"),
        )
        .collect()
    }
    assert streamed == batch


def test_stateful_values_close_to_batch(spark):
    streamed = {
        r["user_id"]: r["total_value"]
        for r in QUERIES["stream_stateful"](spark, SF_DIR).collect()
    }
    batch = {
        r["user_id"]: r["tv"]
        for r in _batch_events(spark)
        .groupBy("user_id")
        .agg(F.sum("value").alias("tv"))
        .collect()
    }
    for uid, tv in batch.items():
        assert abs(streamed[uid] - tv) < 0.02


def test_stateful_replay_after_sink_crash_leaves_no_temp_files(spark, tmp_path):
    """Stateful crash cell: the sink fails once after collecting batch 1,
    that is after batch 1's state commit and before its WAL commit.  The
    restart on the same checkpoint replays batch 1, which rewrites the
    state deltas it already committed.  The folded updates equal the
    batch aggregate, and every checkpoint write was published: no
    ``*.tmp`` (or its ``.crc``) is left behind, as a rename that refuses
    to overwrite would leave."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from spark_streaming_kafka_offset_spark.streaming.core import run_stream

    src = read_event_stream(
        spark, stage_stream_dir(spark, SF_DIR, n_chunks=3), max_files_per_trigger=1
    )
    agg = src.groupBy("event_type").agg(
        F.count("*").alias("n"), F.sum("value").alias("v")
    )
    ckpt = str(tmp_path / "ckpt")
    batches: dict[int, list] = {}
    crashes = []

    def sink(batch_df, batch_id):
        batches[batch_id] = [
            (r["event_type"], r["n"], r["v"]) for r in batch_df.collect()
        ]
        if batch_id == 1 and not crashes:
            crashes.append(batch_id)
            raise RuntimeError("injected sink crash")

    with pytest.raises(StreamingQueryException, match="injected sink crash"):
        run_stream(agg, sink, output_mode="update", checkpoint=ckpt)
    run_stream(agg, sink, output_mode="update", checkpoint=ckpt)
    assert crashes == [1]
    assert sorted(batches) == [0, 1, 2]

    folded = {}
    for batch_id in sorted(batches):
        folded.update({k: (n, v) for k, n, v in batches[batch_id]})
    want = {
        r["event_type"]: (r["n"], r["v"])
        for r in _batch_events(spark)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert folded.keys() == want.keys()
    for k, (n, v) in want.items():
        assert folded[k][0] == n
        assert abs(folded[k][1] - v) < 0.01
    leftovers = [
        os.path.relpath(os.path.join(d, f), ckpt)
        for d, _, files in os.walk(ckpt)
        for f in files
        if f.endswith((".tmp", ".tmp.crc"))
    ]
    assert leftovers == []


def test_offset_ledger_exactly_once_across_restart(spark, tmp_path):
    """The reference's soul [K]: kill between batches, restart from the
    same checkpoint → sink holds each input row exactly once and the
    ledger is gap-free.  (tmp_path, not bare mkdtemp: pytest reaps its
    own basetemp, so repeated runs leave no /tmp orphans.)"""
    stream_dir = stage_stream_dir(spark, SF_DIR)
    root = str(tmp_path / "sskos_eo")
    ckpt = str(tmp_path / "ckpt_eo")
    ledger = OffsetLedger(root)

    # Phase 1: process exactly ONE file-batch, then stop (the "crash").
    src = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        src.writeStream.foreachBatch(ledger.process)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    import time

    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        if 0 in ledger.committed_batch_ids():
            break
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    assert 0 in ledger.committed_batch_ids()

    # Phase 2: restart from the same checkpoint; AvailableNow drains the rest.
    run_ledgered_stream(spark, stream_dir, root, ckpt, max_files_per_trigger=1)

    led = ledger.read_ledger(spark).collect()
    batch_ids = sorted(r["batch_id"] for r in led)
    assert batch_ids == list(range(len(batch_ids))), "ledger has gaps/dups"

    sink_ids = [r["event_id"] for r in ledger.read_sink(spark).collect()]
    src_ids = [r["event_id"] for r in _batch_events(spark).collect()]
    assert sorted(sink_ids) == sorted(src_ids), "sink lost/duplicated rows"


def test_offset_ledger_on_disk_contract(spark, tmp_path):
    """The ledger layout that readers without Spark rely on: each
    ``ledger/batch_id=N/`` holds ``_SUCCESS`` and exactly one parquet
    file whose ``until_event_id`` pyarrow alone reads as the batch max,
    in ``LEDGER_SCHEMA``'s columns.  A replay of a batch id whose
    ``_SUCCESS`` is gone (a kill between the ledger publish and
    ``_SUCCESS``) rewrites it: the ledger row and the sink rows are
    replaced, not added to, and no temp file is left behind.  (With
    ``_SUCCESS`` present the replay is skipped, which
    test_ledger_crash_replay_commits_once_orphans_invisible covers.)"""
    import os

    import pyarrow.parquet as pq

    ledger = OffsetLedger(str(tmp_path / "contract"))
    batch = _batch_events(spark).where(F.col("event_id") % 7 == 3)
    ids = sorted(r["event_id"] for r in batch.collect())
    part = os.path.join(ledger.ledger_dir, "batch_id=5")

    for attempt in range(2):  # first run, then a replay of the same batch id
        if attempt:  # killed before _SUCCESS: the batch is uncommitted
            os.remove(os.path.join(part, "_SUCCESS"))
        ledger.process(batch, 5)
        files = os.listdir(part)
        parquet = [f for f in files if f.endswith(".parquet")]
        assert "_SUCCESS" in files and len(parquet) == 1
        table = pq.read_table(os.path.join(part, parquet[0]))
        assert table.schema == ledger_arrow_schema()
        assert table["until_event_id"].to_pylist() == [ids[-1]]
        assert table["min_event_id"].to_pylist() == [ids[0]]
        assert table["n_rows"].to_pylist() == [len(ids)]
        sink_ids = sorted(r["event_id"] for r in ledger.read_sink(spark).collect())
        assert sink_ids == ids, "replay duplicated or lost sink rows"
        assert ledger.read_ledger(spark).count() == 1

    expected = spark.createDataFrame([], LEDGER_SCHEMA).schema
    assert ledger.read_ledger(spark).schema == expected
    for d, _, files in os.walk(str(tmp_path / "contract")):
        assert not [f for f in files if f.endswith(".tmp")], f"temp file left in {d}"


def test_ledger_readers_see_committed_batches_only(spark, tmp_path):
    """``read_ledger`` and ``read_sink`` read the same committed set: a
    ledger row published without its ``_SUCCESS`` (a kill between the
    two) is invisible to both, and with nothing committed
    ``read_ledger`` is an empty frame in ``LEDGER_SCHEMA`` and
    ``read_sink`` an empty frame in ``EVENT_SCHEMA``."""
    import os

    ledger = OffsetLedger(str(tmp_path / "committed"))
    expected = spark.createDataFrame([], LEDGER_SCHEMA).schema
    expected_sink = spark.createDataFrame([], EVENT_SCHEMA).schema
    empty = ledger.read_ledger(spark)
    assert empty.schema == expected and empty.count() == 0
    empty_sink = ledger.read_sink(spark)
    assert empty_sink.schema == expected_sink and empty_sink.count() == 0

    e = _batch_events(spark)
    ledger.process(e.where(F.col("event_id") % 2 == 0), 0)
    ledger.process(e.where(F.col("event_id") % 2 == 1), 1)
    os.remove(os.path.join(ledger.ledger_dir, "batch_id=1", "_SUCCESS"))
    assert os.listdir(os.path.join(ledger.ledger_dir, "batch_id=1"))
    assert [r["batch_id"] for r in ledger.read_ledger(spark).collect()] == [0]
    sink_ids = sorted(r["event_id"] for r in ledger.read_sink(spark).collect())
    assert sink_ids and all(i % 2 == 0 for i in sink_ids)
    assert len(sink_ids) == e.where(F.col("event_id") % 2 == 0).count()

    os.remove(os.path.join(ledger.ledger_dir, "batch_id=0", "_SUCCESS"))
    empty = ledger.read_ledger(spark)
    assert empty.schema == expected and empty.count() == 0
    empty_sink = ledger.read_sink(spark)
    assert empty_sink.schema == expected_sink and empty_sink.count() == 0


def test_stream_static_join_equals_batch(spark):
    streamed = {
        (r["c_mktsegment"], r["event_type"]): r["n"]
        for r in QUERIES["stream_static_join"](spark, SF_DIR).collect()
    }
    cust = load_table(spark, SF_DIR, "customer")
    e = _batch_events(spark)
    batch = {
        (r["c_mktsegment"], r["event_type"]): r["n"]
        for r in e.join(cust, e.user_id == cust.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert streamed == batch


def test_stream_rollup_upsert_equals_batch_rollup(spark):
    """The incrementally-maintained daily rollup must equal the one-shot
    batch rollup_time over the same events — incremental view maintenance
    is only correct if the merge step composes exactly."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    streamed = sorted(
        map(tuple, qs["stream_rollup_upsert"](spark, SF_DIR).collect())
    )
    batch = sorted(map(tuple, qs["rollup_time"](spark, SF_DIR).collect()))
    assert streamed == batch


def test_stream_dedup_corpus_equals_batch_anti_join(spark):
    """Corpus dedup must keep exactly the events whose id is NOT in the
    static ledger (ids ≡ 0 mod 3), matching the batch anti-join."""
    streamed = {
        (r["event_type"]): r["n_new"]
        for r in QUERIES["stream_dedup_corpus"](spark, SF_DIR).collect()
    }
    e = _batch_events(spark)
    batch = {
        r["event_type"]: r["n"]
        for r in e.where(F.col("event_id") % 3 != 0)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert streamed == batch


def test_kafka_option_contract(spark):
    """The exact reader options a broker deployment receives — the
    subscribe/startingOffsets/failOnDataLoss/maxOffsetsPerTrigger mapping
    — pinned without a broker.  Also proves kafka_source() wires those
    options into a readStream.format("kafka") builder: with no connector
    jar in the env, load() must fail with the unresolved-data-source
    error (i.e. the options were accepted and the format string is
    "kafka"), not an option error."""
    import pytest

    from spark_streaming_kafka_offset_spark.streaming.core import (
        kafka_options,
        kafka_source,
    )

    assert kafka_options("b1:9092,b2:9092", "events") == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "events",
        "startingOffsets": "earliest",
        "failOnDataLoss": "true",
    }
    per_partition = '{"events":{"0":42,"1":17}}'
    opts = kafka_options(
        "broker:9092", "events,clicks", per_partition, max_offsets_per_trigger=50000
    )
    assert opts["subscribe"] == "events,clicks"
    assert opts["startingOffsets"] == per_partition
    assert opts["maxOffsetsPerTrigger"] == "50000"

    # VERDICT r6 #6: the two non-list topic-selection modes.
    pat = kafka_options("broker:9092", subscribe_pattern="events\\..*")
    assert pat["subscribePattern"] == "events\\..*"
    assert "subscribe" not in pat and "assign" not in pat
    assignment = '{"events":[0,1,2],"clicks":[0]}'
    per_part_offsets = '{"events":{"0":42,"1":17,"2":-1},"clicks":{"0":-2}}'
    fixed = kafka_options(
        "broker:9092", assign=assignment, starting_offsets=per_part_offsets
    )
    assert fixed["assign"] == assignment
    assert fixed["startingOffsets"] == per_part_offsets
    assert "subscribe" not in fixed and "subscribePattern" not in fixed
    with pytest.raises(ValueError, match="exactly one"):
        kafka_options("broker:9092", "events", subscribe_pattern="ev.*")
    with pytest.raises(ValueError, match="exactly one"):
        kafka_options("broker:9092")

    with pytest.raises(Exception, match="(?i)kafka"):
        kafka_source(spark, "broker:9092", "events")


def test_stream_stream_join_equals_batch_join(spark):
    """The bounded stream-stream join must produce exactly the pairs the
    equivalent batch range join produces: with in-order chunks and
    availableNow processing nothing is late, so watermark state eviction
    must never drop a legitimate match."""
    streamed = sorted(
        (r["purchase_id"], r["click_id"])
        for r in QUERIES["stream_stream_join"](spark, SF_DIR).collect()
    )
    e = _batch_events(spark)
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    batch = sorted(
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
            ),
            "inner",
        ).collect()
    )
    assert len(batch) > 0
    assert streamed == batch


def test_stream_left_outer_join_semantics(spark):
    """Left-outer stream-stream join contract, both halves:
    (a) the matched rows are EXACTLY the batch inner join (outer-ness
    may never add or drop a legitimate match), and (b) null-padded rows
    appear only for batch-unmatched purchases, with every unmatched
    purchase comfortably older than the final watermark guaranteed to
    have emitted — and rows can trail: purchases newer than the final
    watermark may legitimately never emit their null form in a bounded
    run (the documented outer-join trailing semantics)."""
    import datetime as _dt

    rows = QUERIES["stream_left_outer_join"](spark, SF_DIR).collect()
    matched = sorted(
        (r["purchase_id"], r["click_id"]) for r in rows if r["click_id"] is not None
    )
    null_ids = {r["purchase_id"] for r in rows if r["click_id"] is None}

    e = _batch_events(spark)
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    batch_inner = sorted(
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(clicks, cond, "inner").collect()
    )
    assert matched == batch_inner

    batch_unmatched = {
        r["purchase_id"]: r["purchase_ts"]
        for r in purchases.join(clicks, cond, "left_outer")
        .where(F.col("click_id").isNull())
        .collect()
    }
    assert null_ids <= set(batch_unmatched)
    # Final global watermark = min(source max ts) - 30 min; a purchase
    # can emit its null form once the watermark passes purchase_ts.
    # Use an extra hour of slack so the assertion never races eviction
    # bookkeeping.
    maxes = e.groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    final_wm = min(
        r["m"] for r in maxes if r["event_type"] in ("click", "purchase")
    ) - _dt.timedelta(minutes=30)
    must_emit = {
        pid
        for pid, ts in batch_unmatched.items()
        if ts < final_wm - _dt.timedelta(hours=1)
    }
    assert must_emit, "fixture should leave old unmatched purchases"
    assert must_emit <= null_ids


def test_stream_multi_topic_union_equals_batch(spark):
    """The two-topic streaming union must aggregate to exactly the
    one-shot batch answer over the same rows — per-source progress in
    one checkpoint may not drop or double-read either topic."""
    streamed = sorted(
        map(tuple, QUERIES["stream_multi_topic_union"](spark, SF_DIR).collect())
    )
    e = _batch_events(spark)
    topic = F.when(
        F.col("event_type").isin("click", "view"), "interactions"
    ).otherwise("transactions")
    batch = sorted(
        map(
            tuple,
            e.groupBy(
                F.window("ts", "1 day").alias("w"),
                topic.alias("topic"),
                F.col("event_type"),
            )
            .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
            .select(
                F.col("w.start").alias("day_start"),
                "topic",
                "event_type",
                "n",
                F.round("sum_value", 2).alias("sum_value"),
            )
            .collect(),
        )
    )
    assert len(streamed) > 0
    assert streamed == batch


def test_stream_scd2_apply_equals_batch_merge(spark):
    """Incremental SCD2 maintenance over a chunked CDC stream must
    converge to exactly the one-shot batch merge_scd2 history — closing
    dates, no-op suppression, and version rows may not drift when the
    same changes arrive across micro-batches (valid because the chunks
    partition the keys)."""
    streamed = sorted(
        map(tuple, QUERIES["stream_scd2_apply"](spark, SF_DIR).collect())
    )
    batch = sorted(map(tuple, QUERIES["merge_scd2"](spark, SF_DIR).collect()))
    assert len(streamed) > 0
    assert streamed == batch


def test_stream_pack_shards_equals_batch_packing(spark):
    """Incremental stateful packing over the ordered document stream
    must converge to exactly the batch pack_sequences answer — shard
    boundaries may not drift when docs arrive across micro-batches."""
    streamed = sorted(
        map(tuple, QUERIES["stream_pack_shards"](spark, SF_DIR).collect())
    )
    batch = sorted(
        map(tuple, QUERIES["pack_sequences"](spark, SF_DIR).collect())
    )
    assert len(batch) > 0
    assert streamed == batch


def test_stream_pack_shards_state_survives_restart(spark, tmp_path):
    """Stateful recovery: process the first half of the corpus, let the
    query terminate, then start a NEW query on the SAME checkpoint with
    the remaining files present.  The restarted query must restore the
    per-source token cursors from the state store (not recount) and
    process only the unseen files (WAL exactly-once) — final snapshot
    equals the batch packing of the full corpus."""
    import os
    import shutil

    from spark_streaming_kafka_offset_spark.streaming.stateful import (
        PACK_OUT_SCHEMA,
        PACK_STATE_SCHEMA,
        _pack_update,
        stage_documents_stream_dir,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window

    staged = stage_documents_stream_dir(spark, SF_DIR)
    chunks = sorted(os.listdir(staged))
    assert len(chunks) == 4
    live = tmp_path / "live"
    live.mkdir()
    ckpt = str(tmp_path / "ckpt")

    emitted: list[list[tuple]] = []

    def run_once():
        # memory sink cannot recover from a checkpoint; foreachBatch can —
        # it is also the production sink shape (idempotent upsert by key).
        rows: list[tuple] = []
        emitted.append(rows)

        def sink(df, batch_id):
            rows.extend(
                (r["source"], r["shard"], r["n_docs"], r["shard_tokens"])
                for r in df.collect()
            )

        src = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(live))
            .select(
                "source", "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
            )
        )
        out = src.groupBy("source").applyInPandasWithState(
            _pack_update,
            outputStructType=PACK_OUT_SCHEMA,
            stateStructType=PACK_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    # copy2 preserves the staged strictly-increasing mtimes — discovery
    # order IS the packing order, so the copies must keep their stamps
    # (plain copy() resets mtime and two files land in the same second).
    for c in chunks[:2]:
        shutil.copy2(os.path.join(staged, c), live / c)
    first = run_once()
    assert len(first) > 0

    for c in chunks[2:]:
        shutil.copy2(os.path.join(staged, c), live / c)
    second = run_once()
    # The restarted run must NOT reprocess chunks 1-2 (exactly-once WAL):
    # it emits only snapshots for work caused by the two NEW files.
    assert 0 < len(second) < len(first) + len(second)

    # Latest snapshot per (source, shard) across both runs == batch pack.
    final_map: dict[tuple, tuple] = {}
    for src_, shard, n_docs, toks in first + second:
        key = (src_, shard)
        if key not in final_map or n_docs > final_map[key][2]:
            final_map[key] = (src_, shard, n_docs, toks)
    final = sorted(final_map.values())
    batch = sorted(
        map(tuple, QUERIES["pack_sequences"](spark, SF_DIR).collect())
    )
    assert final == batch


def test_offset_lag_monitor_matches_batch_twin(spark):
    """Batch-equivalence (VERDICT r4 #4): the lag monitor commits exactly
    the first two event-id RANGES (range-chunked layout, ADVICE r4), so
    every reported number must equal its batch formulation over the
    events table — committed offset = max id below the 2-range cut (a
    true high-watermark), lag = head - committed, rows_behind = count of
    ids above the committed offset, caught_up False."""
    from spark_streaming_kafka_offset_spark.session import load_table

    row = QUERIES["stream_offset_lag_monitor"](spark, SF_DIR).collect()[0]
    e = load_table(spark, SF_DIR, "events")
    hi = e.agg(F.max("event_id")).first()[0]
    step = -(-(hi + 1) // 4)  # same ceil-division as stage_stream_dir
    expect_committed = (
        e.where(F.col("event_id") < 2 * step).agg(F.max("event_id")).first()[0]
    )
    assert row["head_offset"] == hi
    assert row["committed_offset"] == expect_committed
    assert row["caught_up"] is False
    assert row["lag"] == hi - expect_committed > 0
    behind = e.where(F.col("event_id") > expect_committed).count()
    assert row["rows_behind"] == behind > 0
    assert row["rows_committed"] == e.count() - behind


def test_offset_rewind_replays_exact_suffix(spark):
    """Replay-from-committed-offset is exactly-once: the rewound run's
    output must equal the batch-side truth for event_id > resume_offset
    — same count, same id bounds, no loss, no duplication."""
    rows = {
        r["phase"]: r
        for r in QUERIES["stream_offset_rewind"](spark, SF_DIR).collect()
    }
    exp, got = rows["expected_suffix"], rows["replayed"]
    assert got["n_rows"] == exp["n_rows"] > 0
    assert got["min_id"] == exp["min_id"] > rows["replayed"]["resume_offset"]
    assert got["max_id"] == exp["max_id"]


def test_offset_rewind_full_rows_match_batch_suffix(spark):
    """Batch-equivalence (VERDICT r4 #4): the rewound run's SINK CONTENTS
    — every column of every row, not just counts and id bounds — equal
    the batch formulation `events WHERE event_id > resume_offset`.  Runs
    the same two phases as `stream_offset_rewind` through the module's
    own internals so the sink stays reachable for the row-level diff."""
    from spark_streaming_kafka_offset_spark.common import scratch_path
    from spark_streaming_kafka_offset_spark.session import load_table
    from spark_streaming_kafka_offset_spark.streaming.offsets import (
        OffsetLedger,
        run_ledgered_stream,
    )

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    stream_dir = stage_stream_dir(spark, SF_DIR, n_chunks=3)
    full = run_ledgered_stream(
        spark,
        stream_dir,
        scratch_path("rw_eq_full_"),
        checkpoint=scratch_path("ckpt_rweq1_"),
    )
    resume_offset = (
        full.read_ledger(spark)
        .where(F.col("batch_id") == 1)
        .select("until_event_id")
        .first()[0]
    )
    replay = OffsetLedger(scratch_path("rw_eq_replay_"), group="sskos-replay")
    src = read_event_stream(spark, stream_dir, max_files_per_trigger=None).where(
        F.col("event_id") > resume_offset
    )
    q = (
        src.writeStream.foreachBatch(replay.process)
        .option("checkpointLocation", scratch_path("ckpt_rweq2_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    replayed = sorted(map(tuple, replay.read_sink(spark).select(*cols).collect()))
    truth = sorted(
        map(
            tuple,
            load_table(spark, SF_DIR, "events")
            .where(F.col("event_id") > resume_offset)
            .select(*cols)
            .collect(),
        )
    )
    assert len(replayed) == len(truth) > 0
    assert replayed == truth


def test_offset_out_of_range_policies(spark):
    """VERDICT r7 #5: the retention-expiry resume — the one KafkaManager
    behavior [K] that had no test.  Copy the staged range chunks,
    expire the earliest chunks (delete them, as broker retention would),
    then resume from an offset inside the expired range:
    ``clamp_earliest`` must restart at the retention floor and SAY SO
    (flag + ledger min_event_id + a 'gap' row in the contiguity audit);
    ``fail_fast`` must raise OffsetOutOfRangeError; an in-range offset
    passes through unchanged under either policy."""
    import os
    import shutil

    import pytest

    from spark_streaming_kafka_offset_spark.common import scratch_path
    from spark_streaming_kafka_offset_spark.streaming.offsets import (
        OffsetLedger,
        OffsetOutOfRangeError,
        audit_ledger_contiguity,
        resolve_resume_offset,
        run_ledgered_stream,
    )

    # A private copy: the staged dir is cached and shared with other tests.
    stream_dir = scratch_path("oor_stream_")
    shutil.copytree(stage_stream_dir(spark, SF_DIR), stream_dir, dirs_exist_ok=True)
    # Phase 1: a consumer commits offsets while all chunks are retained.
    full = run_ledgered_stream(
        spark,
        stream_dir,
        scratch_path("oor_full_"),
        checkpoint=scratch_path("ckpt_oor1_"),
    )
    committed_b0 = (
        full.read_ledger(spark)
        .where(F.col("batch_id") == 0)
        .select("until_event_id")
        .first()[0]
    )
    # Retention expires the two earliest chunks — the committed batch-0
    # offset now predates everything the source retains (deleting only
    # chunk 0 would leave 249 exactly abutting the floor at 250 — in
    # range by the requested+1 rule, which the pass-through case below
    # already covers).
    os.remove(os.path.join(stream_dir, "0000.parquet"))
    os.remove(os.path.join(stream_dir, "0001.parquet"))
    earliest_retained = (
        spark.read.parquet(stream_dir).agg(F.min("event_id")).first()[0]
    )
    assert committed_b0 < earliest_retained - 1, "fixture must be out of range"

    # fail_fast: surface the data loss instead of skipping it.
    with pytest.raises(OffsetOutOfRangeError):
        resolve_resume_offset(spark, stream_dir, committed_b0, "fail_fast")

    # clamp_earliest: resume at the retention floor, clamp reported.
    eff, clamped = resolve_resume_offset(
        spark, stream_dir, committed_b0, "clamp_earliest"
    )
    assert clamped and eff == earliest_retained - 1
    resumed = OffsetLedger(scratch_path("oor_resume_"), group="sskos-oor")
    src = read_event_stream(spark, stream_dir, max_files_per_trigger=None).where(
        F.col("event_id") > eff
    )
    q = (
        src.writeStream.foreachBatch(resumed.process)
        .option("checkpointLocation", scratch_path("ckpt_oor2_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sink_min = resumed.read_sink(spark).agg(F.min("event_id")).first()[0]
    assert sink_min == earliest_retained
    # The hole between the pre-expiry commit and the clamped resume is
    # VISIBLE: stitch the old batch-0 commit row onto the resumed
    # ledger and the contiguity audit must flag exactly one gap.
    stitched = (
        full.read_ledger(spark)
        .where(F.col("batch_id") == 0)
        .unionByName(
            resumed.read_ledger(spark).withColumn(
                "batch_id", F.col("batch_id") + 1
            ).withColumn("group", F.lit("sskos"))
        )
    )
    audit = audit_ledger_contiguity(stitched, "retention_expiry").collect()
    assert [r["status"] for r in audit] == ["start", "gap"]
    assert audit[1]["missing_rows"] == earliest_retained - committed_b0 - 1

    # In-range offset: pass-through under both policies.
    ok = earliest_retained + 5
    for policy in ("clamp_earliest", "fail_fast"):
        eff2, clamped2 = resolve_resume_offset(spark, stream_dir, ok, policy)
        assert eff2 == ok and not clamped2


def test_stream_topk_windowed_equals_batch_topk(spark):
    """The incrementally-counted per-window top-3 must equal the one-shot
    batch window/type count + rank over the same events — the additive
    state (counts) is what streams; the rank is read-time arithmetic."""
    from pyspark.sql.window import Window as W

    streamed = sorted(
        map(tuple, QUERIES["stream_topk_windowed"](spark, SF_DIR).collect())
    )
    e = _batch_events(spark)
    agg = e.groupBy(F.window("ts", "6 hours").alias("win"), "event_type").agg(
        F.count("*").alias("n")
    )
    w = W.partitionBy("win").orderBy(F.col("n").desc(), "event_type")
    batch = sorted(
        map(
            tuple,
            agg.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 3)
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                F.col("n").cast("long").alias("n"),
                F.col("rank").cast("long").alias("rank"),
            )
            .collect(),
        )
    )
    assert streamed and streamed == batch


def test_stream_cdc_apply_equals_batch_latest_state(spark):
    """CDC folding law: the streamed upsert/delete application must equal
    the batch 'latest op per key, drop if it is a delete' query — and a
    key whose LAST op is a delete must be absent even if earlier batches
    upserted it (tombstone suppression across the merge chain)."""
    from pyspark.sql.window import Window as W

    streamed = sorted(
        map(tuple, QUERIES["stream_cdc_apply"](spark, SF_DIR).collect())
    )
    e = _batch_events(spark)
    w = W.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    batch = sorted(
        map(
            tuple,
            e.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .where(F.col("event_type") != "error")
            .select("user_id", "ts", "event_id", "value")
            .collect(),
        )
    )
    assert streamed and streamed == batch
    # at least one key must actually be tombstoned in the fixture, or the
    # delete path was never exercised
    all_keys = {r[0] for r in e.select("user_id").distinct().collect()}
    live_keys = {r[0] for r in streamed}
    assert all_keys - live_keys, "no key ends on a delete — vacuous test"


def test_stream_cusum_alarm_equals_sequential_fold(spark):
    """The streamed CUSUM snapshot must equal the same shared fold run
    once over each type's fully time-ordered values — multi-batch state
    carry provably matches the sequential recurrence — and at least one
    type must have fired an alarm (non-vacuous)."""
    from spark_streaming_kafka_offset_spark.streaming.stateful import (
        cusum_fold,
    )

    streamed = {
        r["event_type"]: r
        for r in QUERIES["stream_cusum_alarm"](spark, SF_DIR).collect()
    }
    e = (
        _batch_events(spark)
        .select("event_type", "ts", "event_id", "value")
        .orderBy("ts", "event_id")
        .collect()
    )
    by_type: dict = {}
    for r in e:
        by_type.setdefault(r["event_type"], []).append(r["value"])
    assert set(streamed) == set(by_type)
    total_alarms = 0
    for etype, values in by_type.items():
        n, sp, sn, al = cusum_fold(0, 0.0, 0.0, 0, values)
        got = streamed[etype]
        assert got["n_seen"] == n, etype
        assert abs(got["s_pos"] - round(sp, 6)) < 1e-9, etype
        assert abs(got["s_neg"] - round(sn, 6)) < 1e-9, etype
        assert got["n_alarms"] == al, etype
        total_alarms += al
    assert total_alarms > 0, "no alarm fired anywhere — thresholds vacuous"


def test_stream_watermark_metrics_reports_real_drop(spark):
    """The metrics surface must show the late chunk actually being
    dropped: total input rows == staged rows, and
    rows_dropped_by_watermark > 0 in some batch (the three-file staging
    guarantees the intermediate batch arms the late-events filter)."""
    out = QUERIES["stream_watermark_metrics"](spark, SF_DIR).collect()
    assert len(out) >= 3
    total_dropped = sum(r["rows_dropped_by_watermark"] for r in out)
    assert total_dropped > 0, "watermark dropped nothing — metrics vacuous"
    n_staged = _batch_events(spark).count()
    assert sum(r["input_rows"] for r in out) == n_staged


def test_stream_autoscale_signal_shape(spark):
    """One decision row per micro-batch (4 staged files => >= 4 batches
    with rows), rates non-negative, decisions from the closed set, and
    input rows conserved."""
    out = QUERIES["stream_autoscale_signal"](spark, SF_DIR).collect()
    withrows = [r for r in out if r["input_rows"] > 0]
    assert len(withrows) >= 4
    assert sum(r["input_rows"] for r in out) == _batch_events(spark).count()
    assert all(r["decision"] in ("up", "down", "hold") for r in out)
    assert all(r["input_rate"] >= 0 and r["process_rate"] >= 0 for r in out)


def test_stream_dlq_split_batch_equivalence(spark):
    """Route counts from the two-sink foreachBatch router must equal the
    one-shot batch formulation through the SAME mangle/validate helpers
    (the shared functions are the contract), rows must be conserved
    across the split, and both reject reasons must be non-vacuous."""
    from spark_streaming_kafka_offset_spark.streaming.core import (
        dlq_mangle,
        dlq_reason,
    )

    out = {
        (r["route"], r["reason"]): r["n_rows"]
        for r in QUERIES["stream_dlq_split"](spark, SF_DIR).collect()
    }
    checked = dlq_reason(dlq_mangle(_batch_events(spark)))
    want = {
        ("valid" if r["dlq_reason"] is None else "dlq",
         r["dlq_reason"] or "ok"): r["n"]
        for r in checked.groupBy("dlq_reason").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert out == want
    assert sum(out.values()) == _batch_events(spark).count()
    assert out.get(("dlq", "malformed_props"), 0) > 0
    assert out.get(("dlq", "negative_value"), 0) > 0


def test_offset_gap_audit_detects_lost_commit(spark):
    """Clean ledger: batch 0 'start', rest 'contiguous', zero missing.
    Damaged ledger (batch 2's commit dropped): exactly one 'gap' row at
    batch 3 whose missing_rows equals batch 2's committed range."""
    rows = QUERIES["stream_offset_gap_audit"](spark, SF_DIR).collect()
    clean = [r for r in rows if r["scenario"] == "clean"]
    damaged = [r for r in rows if r["scenario"] == "lost_commit"]
    assert [r["status"] for r in sorted(clean, key=lambda r: r["batch_id"])] == [
        "start", "contiguous", "contiguous", "contiguous"
    ]
    assert all(r["missing_rows"] == 0 for r in clean)
    gaps = [r for r in damaged if r["status"] == "gap"]
    assert len(gaps) == 1 and gaps[0]["batch_id"] == 3
    b2 = next(r for r in clean if r["batch_id"] == 2)
    assert gaps[0]["missing_rows"] == b2["until_event_id"] - b2["min_event_id"] + 1
    assert all(r["status"] in ("start", "contiguous") for r in damaged if r["status"] != "gap")


def test_offset_ledger_offsets_are_resume_points(spark):
    """Each committed ``until_event_id`` of the registered ledger query is
    a resume point: batch i+1 starts at batch i's offset + 1, so the
    contiguity audit reports only ``start`` then ``contiguous``, and the
    batches cover the table exactly."""
    from spark_streaming_kafka_offset_spark.streaming.offsets import (
        audit_ledger_contiguity,
    )

    ledger = QUERIES["stream_offset_ledger"](spark, SF_DIR)
    audit = audit_ledger_contiguity(ledger, "registered").collect()
    assert [r["status"] for r in audit] == ["start"] + ["contiguous"] * 3
    e = _batch_events(spark)
    assert audit[0]["min_event_id"] == e.agg(F.min("event_id")).first()[0]
    assert audit[-1]["until_event_id"] == e.agg(F.max("event_id")).first()[0]
    assert ledger.agg(F.sum("n_rows")).first()[0] == e.count()


def test_backfill_stitch_has_no_seam(spark):
    """The stitched backfill+stream rollup must be row-identical to the
    one-shot batch rollup over the full table — hours spanning the
    cutover included."""
    got = {
        (r["hour"], r["event_type"]): r["n_events"]
        for r in QUERIES["stream_backfill_stitch"](spark, SF_DIR).collect()
    }
    want = {
        (r["hour"], r["event_type"]): r["n"]
        for r in _batch_events(spark)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_topic_route_predicates_partition(spark):
    """ADVICE r6: the multi-topic split must route a NULL event_type to
    'transactions' (matching the batch twin's otherwise branch), not
    silently drop it from both topics — the two predicates must
    PARTITION any input, nulls included."""
    from spark_streaming_kafka_offset_spark.streaming.core import (
        topic_route_predicates,
    )

    df = spark.createDataFrame(
        [("click",), ("view",), ("purchase",), (None,)],
        "event_type string",
    )
    inter_pred, trans_pred = topic_route_predicates()
    inter = df.where(inter_pred)
    trans = df.where(trans_pred)
    assert inter.count() == 2
    assert trans.count() == 2  # purchase AND the NULL row
    assert inter.count() + trans.count() == df.count()
    assert [r["event_type"] for r in trans.collect() if r["event_type"] is None] == [
        None
    ]


def test_scd2_merge_preserves_prior_versions(spark):
    """ADVICE r6: a key changed in TWO different micro-batches must keep
    all three versions (origin closed, intermediate closed, final
    current) — the store merge may not collapse earlier closed rows
    when the same key changes again later."""
    from spark_streaming_kafka_offset_spark.streaming.core import scd2_merge_batch

    hist0 = spark.createDataFrame(
        [(1, "BUILDING", 100.0, "1992-01-01", None, True)],
        "c_custkey long, c_mktsegment string, c_acctbal double, "
        "valid_from string, valid_to string, is_current boolean",
    ).select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
        "is_current",
    )
    b1 = spark.createDataFrame(
        [(1, "MACHINERY", 100.0)], "c_custkey long, new_seg string, new_bal double"
    )
    hist1 = scd2_merge_batch(hist0, b1, F.lit("1995-01-01").cast("date"))
    b2 = spark.createDataFrame(
        [(1, "MACHINERY", 250.0)], "c_custkey long, new_seg string, new_bal double"
    )
    hist2 = scd2_merge_batch(hist1, b2, F.lit("1998-01-01").cast("date"))
    rows = sorted(
        hist2.collect(), key=lambda r: (str(r["valid_from"]), str(r["valid_to"]))
    )
    assert len(rows) == 3, [tuple(r) for r in rows]
    # origin version closed at 1995, intermediate closed at 1998, final open
    assert str(rows[0]["valid_from"]) == "1992-01-01"
    assert str(rows[0]["valid_to"]) == "1995-01-01"
    assert rows[0]["c_mktsegment"] == "BUILDING"
    assert str(rows[1]["valid_from"]) == "1995-01-01"
    assert str(rows[1]["valid_to"]) == "1998-01-01"
    assert rows[1]["c_mktsegment"] == "MACHINERY" and rows[1]["c_acctbal"] == 100.0
    assert rows[2]["is_current"] and rows[2]["c_acctbal"] == 250.0
    assert rows[2]["valid_to"] is None
    # idempotent no-op: re-applying b2 creates no fourth version
    hist3 = scd2_merge_batch(hist2, b2, F.lit("1999-01-01").cast("date"))
    assert hist3.count() == 3


def test_scd2_merge_inserts_new_key(spark):
    """VERDICT r8 #6: a brand-new CDC key appearing mid-stream must be
    INSERTED as one open version (valid_from = eff, nothing to close) —
    the r7 contract silently dropped it.  Existing keys in the same
    batch still follow the close+insert path, and a later change to the
    new key versions it normally."""
    from spark_streaming_kafka_offset_spark.streaming.core import scd2_merge_batch

    hist0 = spark.createDataFrame(
        [(1, "BUILDING", 100.0, "1992-01-01", None, True)],
        "c_custkey long, c_mktsegment string, c_acctbal double, "
        "valid_from string, valid_to string, is_current boolean",
    ).select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
        "is_current",
    )
    # batch 1: key 1 really changes AND key 2 appears for the first time
    b1 = spark.createDataFrame(
        [(1, "MACHINERY", 100.0), (2, "FURNITURE", 50.0)],
        "c_custkey long, new_seg string, new_bal double",
    )
    hist1 = scd2_merge_batch(hist0, b1, F.lit("1995-01-01").cast("date"))
    rows = {
        (r["c_custkey"], str(r["valid_from"])): r for r in hist1.collect()
    }
    assert len(rows) == 3, sorted(rows)
    newk = rows[(2, "1995-01-01")]
    assert newk["is_current"] and newk["valid_to"] is None
    assert newk["c_mktsegment"] == "FURNITURE" and newk["c_acctbal"] == 50.0
    assert not rows[(1, "1992-01-01")]["is_current"]  # old version closed
    assert rows[(1, "1995-01-01")]["is_current"]
    # batch 2: the new key changes — ends with exactly one open version
    b2 = spark.createDataFrame(
        [(2, "FURNITURE", 75.0)], "c_custkey long, new_seg string, new_bal double"
    )
    hist2 = scd2_merge_batch(hist1, b2, F.lit("1998-01-01").cast("date"))
    k2 = [r for r in hist2.collect() if r["c_custkey"] == 2]
    assert len(k2) == 2
    open_rows = [r for r in k2 if r["is_current"]]
    assert len(open_rows) == 1 and open_rows[0]["c_acctbal"] == 75.0
    closed = [r for r in k2 if not r["is_current"]][0]
    assert str(closed["valid_to"]) == "1998-01-01"
    # idempotent no-op: re-applying b2 creates no new version
    assert scd2_merge_batch(hist2, b2, F.lit("1999-01-01").cast("date")).count() == hist2.count()


def test_scd2_merge_null_safe_change_detection(spark):
    """ADVICE r7: NULL attribute values are real values to SCD2 — a
    x→NULL transition must CLOSE the current version (a null-unsafe
    ``!=`` yields NULL, silently dropping the change), and a NULL→NULL
    batch must be a no-op, not a new version."""
    from spark_streaming_kafka_offset_spark.streaming.core import scd2_merge_batch

    hist0 = spark.createDataFrame(
        [(1, "BUILDING", 100.0, "1992-01-01", None, True)],
        "c_custkey long, c_mktsegment string, c_acctbal double, "
        "valid_from string, valid_to string, is_current boolean",
    ).select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_acctbal"),
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
        "is_current",
    )
    # x -> NULL: a real change; the BUILDING version must close.
    b1 = spark.createDataFrame(
        [(1, None, 100.0)], "c_custkey long, new_seg string, new_bal double"
    )
    hist1 = scd2_merge_batch(hist0, b1, F.lit("1995-01-01").cast("date"))
    rows = sorted(hist1.collect(), key=lambda r: str(r["valid_from"]))
    assert len(rows) == 2, [tuple(r) for r in rows]
    assert rows[0]["c_mktsegment"] == "BUILDING" and not rows[0]["is_current"]
    assert rows[1]["c_mktsegment"] is None and rows[1]["is_current"]
    # NULL -> NULL: no change; re-applying the same NULL batch is a no-op.
    hist2 = scd2_merge_batch(hist1, b1, F.lit("1998-01-01").cast("date"))
    assert hist2.count() == 2
    # NULL -> x: a real change back; the NULL version must close.
    b2 = spark.createDataFrame(
        [(1, "MACHINERY", 100.0)], "c_custkey long, new_seg string, new_bal double"
    )
    hist3 = scd2_merge_batch(hist2, b2, F.lit("1998-06-01").cast("date"))
    assert hist3.count() == 3
    cur = [r for r in hist3.collect() if r["is_current"]]
    assert len(cur) == 1 and cur[0]["c_mktsegment"] == "MACHINERY"


def test_two_topic_replay_honors_per_source_offsets(spark):
    """VERDICT r6 #6: the per-partition startingOffsets JSON seeks each
    topic independently.  File-source analogue: two staged topic dirs,
    each stream gated at its OWN starting offset (event_id >= seek, the
    exact filter a Kafka assign+startingOffsets pair produces), unioned
    into one query — row counts must equal the batch twin under the
    same per-source gates, i.e. neither source's seek leaks onto the
    other."""
    from spark_streaming_kafka_offset_spark.common import scratch_path
    from spark_streaming_kafka_offset_spark.streaming.core import (
        EVENT_SCHEMA,
        run_to_completion,
        stage_stream_dir,
        topic_route_predicates,
    )

    base_dir = stage_stream_dir(spark, SF_DIR)
    topics = scratch_path("replay_topics_")
    batch = spark.read.parquet(base_dir)
    inter_pred, trans_pred = topic_route_predicates()
    batch.where(inter_pred).write.mode("overwrite").parquet(
        f"{topics}/interactions"
    )
    batch.where(trans_pred).write.mode("overwrite").parquet(
        f"{topics}/transactions"
    )
    # Per-source seeks: interactions resumes mid-stream, transactions
    # replays from the beginning (offset 0).
    mid = batch.where(inter_pred).agg(F.expr("percentile(event_id, 0.5)")).first()[0]
    seeks = {"interactions": int(mid), "transactions": 0}

    def seek_stream(name: str):
        return (
            spark.readStream.schema(EVENT_SCHEMA)
            .parquet(f"{topics}/{name}")
            .where(F.col("event_id") >= seeks[name])
            .withColumn("topic", F.lit(name))
        )

    unioned = seek_stream("interactions").unionByName(seek_stream("transactions"))
    agg = unioned.groupBy("topic").agg(F.count("*").alias("n"))
    out = {
        r["topic"]: r["n"]
        for r in run_to_completion(
            agg,
            "replay_per_source_offsets",
            "complete",
            checkpoint=scratch_path("ckpt_"),
        ).collect()
    }
    want = {
        "interactions": batch.where(inter_pred)
        .where(F.col("event_id") >= seeks["interactions"])
        .count(),
        "transactions": batch.where(trans_pred).count(),
    }
    assert out == want
    # the seek really dropped rows on the seeked topic only
    assert want["interactions"] < batch.where(inter_pred).count()


def test_stream_cms_equals_batch_cms(spark):
    """The streamed, batch-by-batch-merged CMS cell store must be
    byte-identical to a one-shot batch CMS over the same events — the
    cell-wise-addition semigroup law observed end-to-end through
    micro-batch replay."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    streamed = (
        entrymod.queries()["stream_cms_merge"](spark, SF_DIR)
        .collect()
    )
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    batch = (
        e.select(
            "user_id", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i")
        )
        .groupBy(
            "i",
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("user_id").cast("string"),
                                F.col("i").cast("string"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(64),
            ).alias("cell"),
        )
        .agg(F.count(F.lit(1)).alias("total"))
        .orderBy("i", "cell")
        .collect()
    )
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]
    assert sum(r.total for r in streamed) == 4 * e.count()


def _inodes(root):
    """path -> inode of every file under ``root``.  A Spark rewrite of a
    directory changes both: part files are named per write job."""
    import os

    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_ino
        for d, _, names in os.walk(root)
        for f in names
    }


def test_ledger_crash_replay_commits_once_orphans_invisible(spark, tmp_path):
    """The ledger row is the sink's commit record, across the worst-case
    crash (part of a batch on disk, its ledger row not yet published):
    readers never see the torn write, the restart commits the batch
    exactly once, and a fresh checkpoint over the same root rewrites no
    committed batch."""
    import os

    import pytest

    from spark_streaming_kafka_offset_spark.streaming.core import run_stream

    stream_dir = stage_stream_dir(spark, SF_DIR)
    root = str(tmp_path / "eo")
    ckpt = str(tmp_path / "ckpt")
    ledger = OffsetLedger(root)
    want = sorted(r["event_id"] for r in _batch_events(spark).collect())

    # 1. Batch 2 writes part of its rows into its sink directory and dies
    # before process publishes the ledger row.
    def torn_sink(df, batch_id):
        if batch_id == 2:
            df.limit(10).write.mode("overwrite").parquet(
                os.path.join(ledger.sink_dir, "batch_id=2")
            )
            raise RuntimeError("injected crash before the ledger publish")
        ledger.process(df, batch_id)

    src = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    with pytest.raises(Exception, match="injected crash"):
        run_stream(src, torn_sink, checkpoint=ckpt)
    assert ledger.committed_batch_ids() == [0, 1]
    torn = spark.read.parquet(os.path.join(ledger.sink_dir, "batch_id=2"))
    assert torn.count() == 10  # the orphan is on disk ...
    visible = [r["event_id"] for r in ledger.read_sink(spark).collect()]
    assert len(visible) == 2 * len(want) // 4  # ... and invisible
    assert set(visible) <= set(want)

    # 2. Restart on the same checkpoint: batch 2 replays and commits once.
    run_ledgered_stream(spark, stream_dir, root, ckpt)
    assert ledger.committed_batch_ids() == [0, 1, 2, 3]
    sink_ids = sorted(r["event_id"] for r in ledger.read_sink(spark).collect())
    assert sink_ids == want, "replay lost or duplicated rows"

    # 3. A fresh checkpoint over the same root replays every batch id;
    # each is already committed, so nothing is rewritten.
    before = _inodes(root)
    run_ledgered_stream(spark, stream_dir, root, str(tmp_path / "ckpt2"))
    assert ledger.read_ledger(spark).count() == 4
    assert _inodes(root) == before, "a committed batch was rewritten"


def test_fold_batch_reads_and_skips_by_commit_record(spark, tmp_path):
    """``fold_batch``'s rule: ``prev`` is the latest version whose
    ``_SUCCESS`` exists, so a torn ``batch_id=1`` (part files, no
    ``_SUCCESS``) is never folded into batch 2 and is overwritten when
    batch 1 runs; a committed batch id returns without calling ``step``,
    rewrites no file and runs no Spark job."""
    import os
    import time

    store = str(tmp_path / "store")
    seen = {}

    def step_for(batch_id):
        def step(prev):
            seen[batch_id] = None if prev is None else sorted(
                r["b"] for r in prev.collect()
            )
            delta = spark.createDataFrame([(batch_id,)], "b long")
            return delta if prev is None else prev.unionByName(delta)

        return step

    fold_batch(spark, store, 0, step_for(0))
    torn = os.path.join(store, "batch_id=1")
    spark.createDataFrame([(99,)], "b long").write.parquet(torn)
    os.remove(os.path.join(torn, "_SUCCESS"))
    assert committed_batch_ids(store) == [0]
    fold_batch(spark, store, 2, step_for(2))
    assert seen == {0: None, 2: [0]}, "a torn version was read as prev"
    fold_batch(spark, store, 1, step_for(1))
    assert seen[1] == [0]
    assert committed_batch_ids(store) == [0, 1, 2]
    assert sorted(r["b"] for r in spark.read.parquet(torn).collect()) == [0, 1]
    assert sorted(r["b"] for r in latest_batch(spark, store).collect()) == [0, 2]

    def boom(prev):
        raise AssertionError("step called for a committed batch")

    before = _inodes(store)
    sc = spark.sparkContext
    sc.setJobGroup("fold_batch_replay", "replays of committed batch ids")
    try:
        for b in (0, 1, 2):
            fold_batch(spark, store, b, boom)
        sc.setJobGroup("fold_batch_control", "one job after the replays")
        spark.range(3).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _inodes(store) == before, "a committed version was rewritten"
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30  # the status store follows the event bus
    while not tracker.getJobIdsForGroup("fold_batch_control"):
        assert time.monotonic() < deadline
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup("fold_batch_replay") == []


def test_versioned_store_crash_replay_skips_committed_batch(spark, tmp_path):
    """Crash cell for the versioned stores (ROADMAP item 5): a
    rollup-shaped ``fold_batch`` stream dies after batch 1's version is
    committed and before its WAL commit.  The restart on the same
    checkpoint replays batch 1, which ``fold_batch`` skips (no file of
    versions 0 and 1 is rewritten), and the final version equals the
    batch aggregate."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from spark_streaming_kafka_offset_spark.streaming.core import run_stream

    src = read_event_stream(
        spark, stage_stream_dir(spark, SF_DIR), max_files_per_trigger=1
    )
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    crashes = []

    def sink(batch_df, batch_id):
        delta = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("event_id").alias("s")
        )
        fold_batch(
            spark, store, batch_id,
            lambda prev: delta if prev is None else (
                prev.unionByName(delta)
                .groupBy("event_type")
                .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
            ),
        )
        if batch_id == 1 and not crashes:
            crashes.append(batch_id)
            raise RuntimeError("injected crash after the store commit")

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_stream(src, sink, checkpoint=ckpt)
    assert committed_batch_ids(store) == [0, 1]
    before = _inodes(store)
    run_stream(src, sink, checkpoint=ckpt)
    after = _inodes(store)
    assert crashes == [1] and committed_batch_ids(store) == [0, 1, 2, 3]
    assert {p: after.get(p) for p in before} == before, "batch 1 was rewritten"
    want = sorted(
        map(
            tuple,
            _batch_events(spark)
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("event_id").alias("s"))
            .collect(),
        )
    )
    assert sorted(map(tuple, latest_batch(spark, store).collect())) == want


def test_dlq_torn_batch_invisible_then_rewritten_once(spark, tmp_path):
    """DLQ router commit rule: batch 1's valid write commits, its DLQ
    write dies before its job commit (part files, no ``_SUCCESS``) and
    the stream fails.  Both readers hide batch 1, valid rows included.
    The restart rewrites batch 1 once, leaves committed batch 0 alone,
    and the routes equal the batch formulation; a fresh checkpoint over
    the same sinks rewrites nothing."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from spark_streaming_kafka_offset_spark.streaming.core import (
        dlq_mangle,
        dlq_reason,
        dlq_route_batch,
        read_dlq_routes,
        run_stream,
    )

    stream_dir = stage_stream_dir(spark, SF_DIR)
    checked = dlq_reason(
        dlq_mangle(read_event_stream(spark, stream_dir, max_files_per_trigger=1))
    )
    valid_dir, dlq_dir = str(tmp_path / "valid"), str(tmp_path / "dlq")
    crashes = []

    def sink(batch_df, batch_id):
        dlq_route_batch(batch_df, batch_id, valid_dir, dlq_dir)
        if batch_id == 1 and not crashes:
            crashes.append(batch_id)
            os.remove(os.path.join(dlq_dir, "batch_id=1", "_SUCCESS"))
            raise RuntimeError("injected crash in the DLQ write")

    def routes():
        return sorted(
            map(tuple, read_dlq_routes(spark, valid_dir, dlq_dir)
                .groupBy("route", "reason").count().collect())
        )

    def twin(events):
        return sorted(
            map(tuple, dlq_reason(dlq_mangle(events))
                .select(
                    F.when(F.col("dlq_reason").isNull(), "valid")
                    .otherwise("dlq").alias("route"),
                    F.coalesce("dlq_reason", F.lit("ok")).alias("reason"),
                )
                .groupBy("route", "reason").count().collect())
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_stream(checked, sink, checkpoint=str(tmp_path / "ckpt"))
    assert committed_batch_ids(valid_dir) == [0, 1]
    assert committed_batch_ids(dlq_dir) == [0]
    chunk0 = os.path.join(stream_dir, sorted(os.listdir(stream_dir))[0])
    assert routes() == twin(spark.read.parquet(chunk0)), "a torn batch is visible"

    def sinks():
        return _inodes(valid_dir) | _inodes(dlq_dir)

    def parts(batch_id):  # Spark names part files per write job
        tag = f"batch_id={batch_id}"
        return {p for p in sinks() if tag in p and p.endswith(".parquet")}

    batch0, torn = _inodes(os.path.join(valid_dir, "batch_id=0")), parts(1)
    run_stream(checked, sink, checkpoint=str(tmp_path / "ckpt"))
    assert committed_batch_ids(dlq_dir) == [0, 1, 2, 3]
    assert _inodes(os.path.join(valid_dir, "batch_id=0")) == batch0
    assert parts(1) and not parts(1) & torn, "batch 1 was not rewritten"
    assert routes() == twin(_batch_events(spark)), "lost or duplicated rows"

    before = sinks()
    run_stream(checked, sink, checkpoint=str(tmp_path / "ckpt2"))
    assert sinks() == before, "a committed batch was rewritten"


def test_stream_txn_exactly_once_audit(spark):
    """The audit pins one committed batch per staged quarter of events:
    (version, batch_id, n_rows, n_files, cum_rows) = (i, i, n/4, 1,
    n/4 * (i + 1))."""
    n = _batch_events(spark).count()
    rows = [tuple(r) for r in QUERIES["stream_txn_exactly_once"](spark, SF_DIR).collect()]
    assert rows == [(i, i, n // 4, 1, n // 4 * (i + 1)) for i in range(4)]


def test_stream_full_outer_join_semantics(spark):
    """Full-outer stream-stream join contract, three-way partition:
    (a) matched rows are EXACTLY the batch inner join, (b) null-padded
    rows on EITHER side appear only for batch-unmatched rows of that
    side, and (c) every unmatched row of either kind comfortably older
    than the final watermark is guaranteed to have emitted its null
    form — the trailing contract now applies to both sides."""
    import datetime as _dt

    rows = QUERIES["stream_full_outer_join"](spark, SF_DIR).collect()
    matched = sorted(
        (r["purchase_id"], r["click_id"])
        for r in rows
        if r["click_id"] is not None and r["purchase_id"] is not None
    )
    null_click_pids = {
        r["purchase_id"] for r in rows if r["click_id"] is None
    }
    null_purchase_cids = {
        r["click_id"] for r in rows if r["purchase_id"] is None
    }
    assert all(
        r["click_id"] is not None or r["purchase_id"] is not None
        for r in rows
    ), "a row null on both sides is impossible"

    e = _batch_events(spark)
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
    )
    batch_inner = sorted(
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(clicks, cond, "inner").collect()
    )
    assert matched == batch_inner

    batch_unmatched_p = {
        r["purchase_id"]: r["purchase_ts"]
        for r in purchases.join(clicks, cond, "left_outer")
        .where(F.col("click_id").isNull())
        .collect()
    }
    batch_unmatched_c = {
        r["click_id"]: r["click_ts"]
        for r in clicks.join(purchases, cond, "left_outer")
        .where(F.col("purchase_id").isNull())
        .collect()
    }
    assert null_click_pids <= set(batch_unmatched_p)
    assert null_purchase_cids <= set(batch_unmatched_c)
    # Final global watermark = min(source max ts) - 30 min; slack 1 h +
    # the 1 h join range so neither side's assertion races eviction.
    maxes = e.groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    final_wm = min(
        r["m"] for r in maxes if r["event_type"] in ("click", "purchase")
    ) - _dt.timedelta(minutes=30)
    slack = _dt.timedelta(hours=2)
    must_emit_p = {
        pid for pid, ts in batch_unmatched_p.items() if ts < final_wm - slack
    }
    must_emit_c = {
        cid for cid, ts in batch_unmatched_c.items() if ts < final_wm - slack
    }
    assert must_emit_p and must_emit_c, (
        "fixture should leave old unmatched rows on both sides"
    )
    assert must_emit_p <= null_click_pids
    assert must_emit_c <= null_purchase_cids


def test_stream_temporal_dim_join_equals_batch(spark):
    """The event-time SCD2 enrichment must aggregate to exactly the
    batch answer over the same rows, and the history must be
    non-vacuous: both tiers receive events (changed users straddle the
    mid-span effective date)."""
    streamed = sorted(
        map(
            tuple,
            QUERIES["stream_temporal_dim_join"](spark, SF_DIR).collect(),
        )
    )
    e = _batch_events(spark)
    eff = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    tier = F.when(
        (F.col("user_id") % 3 == 0) & (F.col("ts") >= eff), "plus"
    ).otherwise("base")
    batch = sorted(
        map(
            tuple,
            e.groupBy(tier.alias("tier"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "value_cents"
                ),
            )
            .collect(),
        )
    )
    assert streamed == batch
    tiers = {t[0] for t in streamed}
    assert tiers == {"base", "plus"}, tiers


def test_stream_dedup_embed_equals_batch_anti_join(spark):
    """The streaming semantic admission must equal the identical
    neighborhood-registered τ-cosine anti-join computed in batch over
    the same rows — the batch-equivalence contract every streaming
    operator carries (§5.4).  The twin re-derives the registration
    expansion independently (explicit dx/dy explode at the shipped
    default posture)."""
    from spark_streaming_kafka_offset_spark.functions.similarity import (
        _SD_TAU_E5,
        dot,
    )
    from spark_streaming_kafka_offset_spark.streaming.core import (
        _SDE_CELL_SCALE,
        _SDE_REGISTER_RADIUS,
    )

    streamed = {
        r["label"]: r["n_admitted"]
        for r in QUERIES["stream_dedup_embed"](spark, SF_DIR).collect()
    }

    e = load_table(spark, SF_DIR, "embeddings")

    def cell(col, i):
        return F.floor(
            F.element_at(col, i).cast("double") * _SDE_CELL_SCALE
        ).cast("long")

    offs = F.array(
        *[
            F.lit(d)
            for d in range(-_SDE_REGISTER_RADIUS, _SDE_REGISTER_RADIUS + 1)
        ]
    )
    ref = (
        e.where(F.col("vec_id") % 3 == 0)
        .select(
            F.col("embedding").alias("ref_emb"),
            cell("embedding", 1).alias("bc1"),
            cell("embedding", 2).alias("bc2"),
        )
        .withColumn("dx", F.explode(offs))
        .withColumn("dy", F.explode(offs))
        .select(
            "ref_emb",
            (F.col("bc1") + F.col("dx")).alias("rc1"),
            (F.col("bc2") + F.col("dy")).alias("rc2"),
        )
    )
    probe = e.select("vec_id", "label", "embedding").withColumn(
        "c1", cell("embedding", 1)
    ).withColumn("c2", cell("embedding", 2))
    cos_e5 = F.floor(dot(F.col("embedding"), F.col("ref_emb")) * 100000).cast(
        "long"
    )
    batch = {
        r["label"]: r["n"]
        for r in probe.join(
            ref,
            (F.col("c1") == F.col("rc1"))
            & (F.col("c2") == F.col("rc2"))
            & (cos_e5 >= _SD_TAU_E5),
            "left_anti",
        )
        .groupBy("label")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert streamed == batch
    # the admission rule is exercised, not vacuous: every replayed
    # reference vector self-matches, so admitted < total
    total = e.count()
    assert 0 < sum(streamed.values()) < total


def test_stream_dedup_embed_planted_recall_laws(spark, tmp_path):
    """Planted-recall LAWS for the streaming semantic admission
    (mirrors the batch family's identical-f1f2 trick): twins built
    with IDENTICAL leading coordinates share the reference vector's
    blocking cell BY CONSTRUCTION, and a twin nudged JUST ACROSS the
    cell boundary is covered by the radius-1 neighborhood registration
    BY CONSTRUCTION (the posture the 20k measured sweep shipped —
    under radius 0 it provably leaks), so across micro-batches (one
    chunk per trigger)

    - every ≥τ same-cell twin of a reference vector MUST be rejected,
    - the boundary-crossing twin MUST be rejected (registration law),
    - every replayed reference record MUST be rejected (self-match),
    - orthogonal newcomers MUST be admitted exactly once."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = 64

    def unit(lead, j):
        # leading coords (lead, 0.1); the tail axis j carries the
        # rotation that sets the cosine level
        v = [0.0] * dim
        v[0], v[1] = lead, 0.1
        v[j] = math.sqrt(max(0.0, 1.0 - lead * lead - 0.01))
        return v

    # shipped grid: scale 25 → 0.04-wide cells with boundaries at k/25.
    # lead 0.879 floors to cell 21, lead 0.881 to cell 22 — adjacent
    # cells; cosine(ref, crosser) = 0.879·0.881 + 0.01 + t·t' ≈ 1 ≥ τ.
    rows = [
        (0, unit(0.879, 10), 0),  # reference (0 % 3 == 0) — also replayed
        (7, unit(0.879, 10), 0),  # exact twin, fresh id → cos 1.0 ≥ τ: drop
        (13, unit(0.879, 11), 0),  # same-cell twin, orthogonal tail:
                                   # cos ≈ 0.879²+0.1² = 0.78 ≥ τ: drop
        (16, unit(0.881, 10), 0),  # boundary-crossing twin, next cell
                                   # over → dropped ONLY via radius-1
                                   # neighborhood registration
        (5, [1.0 if k == 30 else 0.0 for k in range(dim)], 1),  # newcomer
        (11, [1.0 if k == 40 else 0.0 for k in range(dim)], 1),  # newcomer
    ]
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    # construction guards: the crosser really is in the NEXT raw cell
    # (so only neighborhood registration can reach it), one cell apart
    from spark_streaming_kafka_offset_spark.streaming.core import (
        _SDE_CELL_SCALE,
        _SDE_REGISTER_RADIUS,
    )

    ref_cell = math.floor(0.879 * _SDE_CELL_SCALE)
    crosser_cell = math.floor(0.881 * _SDE_CELL_SCALE)
    assert crosser_cell == ref_cell + 1
    assert _SDE_REGISTER_RADIUS >= 1

    admitted = [
        r["vec_id"]
        for r in QUERIES["stream_dedup_embed"](
            spark, str(tmp_path), emit="records", max_files_per_trigger=1
        ).collect()
    ]
    assert sorted(admitted) == [5, 11], admitted  # laws all at once
    assert len(admitted) == len(set(admitted))

    # the registration law is FALSIFIABLE: under radius 0 (the
    # first-cut posture the 20k sweep measured at 0.62 recall) the
    # boundary-crossing twin provably leaks through
    leaked = [
        r["vec_id"]
        for r in QUERIES["stream_dedup_embed"](
            spark,
            str(tmp_path),
            emit="records",
            max_files_per_trigger=1,
            register_radius=0,
        ).collect()
    ]
    assert 16 in leaked, leaked
