"""§2.9 ``stream_offset_ledger`` — offset management, the reference's
core purpose [K] (SURVEY.md; mirror empty §0).

The reference's deliverable is a KafkaManager that (1) restores consumer
offsets from ZooKeeper at startup, (2) runs the batch, (3) writes each
partition's until-offset back *after* the output action — at-least-once,
upgraded to exactly-once only if the sink is atomic/idempotent [K].

Spark-first restatement, with the engine doing the hard half:

* **Resume point**: the checkpoint WAL (``offsets/<batchId>`` written
  before a batch runs, ``commits/<batchId>`` after) IS the offset store.
  Restart with the same checkpointLocation and the stream replays the
  exact uncommitted batch — the reference's ZK restore, minus the
  hand-rolled clamping.
* **Exactly-once sink**: ``foreachBatch`` + batchId-keyed idempotent
  writes.  A replayed batch overwrites its own partition directory
  instead of appending duplicates.  The sink write is the batch's ONLY
  Spark job: the ledger's count/min/max ride on it as a
  ``pyspark.sql.Observation``.
* **Audit**: a parquet ledger row per (group, source, batch) mirroring
  the reference's ZK node content — queryable lineage of what was
  committed when, which ZooKeeper never gave you.  The driver writes
  the row with pyarrow AFTER the sink write returns (store offsets
  after output) and publishes it with one atomic ``os.replace``, so a
  replay swaps the row and never deletes it first.

The kill/restart exactly-once property is asserted by
tests/test_streaming.py::test_offset_ledger_exactly_once_across_restart.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.registry import register
from ..session import load_table
from .core import EVENT_SCHEMA, read_event_stream, run_stream, stage_stream_dir

from ..common import scratch_path

LEDGER_SCHEMA = (
    "group string, source string, batch_id long, n_rows long, "
    "min_event_id long, until_event_id long"
)


def ledger_arrow_schema():
    """``LEDGER_SCHEMA`` as an Arrow schema, so the driver-side ledger
    writer and the Spark readers share one column definition."""
    import pyarrow as pa

    types = {"string": pa.string(), "long": pa.int64()}
    return pa.schema(
        [(name, types[t]) for name, t in map(str.split, LEDGER_SCHEMA.split(","))]
    )


class OffsetLedger:
    """batchId-keyed idempotent sink + offset-audit ledger.

    ``process(df, batch_id)`` is one Spark job: it writes the batch's rows
    to ``sink_dir/batch_id=N`` (mode=overwrite) while an ``Observation``
    on the same job collects the row count and event_id range.  Only
    after that write returns does the driver write the audit row with
    pyarrow to a hidden temp file in ``ledger_dir/batch_id=N/``, publish
    it with ``os.replace`` onto ``part-00000.parquet`` and touch
    ``_SUCCESS`` last.  Re-running a batch (crash between sink write and
    WAL commit) replaces rather than duplicates both — the idempotence
    that turns at-least-once replay into exactly-once output.

    ``root`` must be a local POSIX path, as for ``sources/txnlog.py``:
    the ledger publish is an ``os.replace``, atomic only there.
    """

    def __init__(self, root: str, group: str = "sskos", source: str = "events-file"):
        self.sink_dir = os.path.join(root, "sink")
        self.ledger_dir = os.path.join(root, "ledger")
        self.group = group
        self.source = source

    def process(self, df: DataFrame, batch_id: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        obs = Observation()
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("until_event_id"),
        ).write.mode("overwrite").parquet(
            os.path.join(self.sink_dir, f"batch_id={batch_id}")
        )
        row = dict(obs.get, group=self.group, source=self.source, batch_id=batch_id)
        part = os.path.join(self.ledger_dir, f"batch_id={batch_id}")
        os.makedirs(part, exist_ok=True)
        tmp = os.path.join(part, ".part-00000.parquet.tmp")
        pq.write_table(pa.Table.from_pylist([row], ledger_arrow_schema()), tmp)
        os.replace(tmp, os.path.join(part, "part-00000.parquet"))
        open(os.path.join(part, "_SUCCESS"), "w").close()

    def read_ledger(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(LEDGER_SCHEMA).parquet(
            self.ledger_dir + "/batch_id=*"
        )

    def read_sink(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.sink_dir + "/batch_id=*")


def run_ledgered_stream(
    spark: SparkSession,
    stream_dir: str,
    root: str,
    checkpoint: str,
    max_files_per_trigger: int | None = 1,
) -> OffsetLedger:
    """One AvailableNow pass of the events file-stream through the
    ledgered sink; resumable via ``checkpoint``."""
    ledger = OffsetLedger(root)
    src = read_event_stream(spark, stream_dir, max_files_per_trigger)
    run_stream(src, ledger.process, checkpoint=checkpoint)
    return ledger


@register("stream_offset_ledger")
def stream_offset_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the 4-chunk events stream one file per batch through the
    idempotent ledgered sink; return the audit ledger (4 rows, gap-free,
    n_rows summing to the table row count)."""
    stream_dir = stage_stream_dir(spark, sf_dir)
    root = scratch_path("sskos_ledger_")
    ledger = run_ledgered_stream(
        spark, stream_dir, root, checkpoint=scratch_path("ckpt_")
    )
    return ledger.read_ledger(spark).orderBy("batch_id")


@register("stream_offset_lag_monitor")
def stream_offset_lag_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-lag monitoring — the ops query every offset-managed
    pipeline runs against its ledger (Kafka's ``kafka-consumer-groups
    --describe`` re-expressed over our audit table): committed position
    vs source head, lag, and a caught-up flag.

    Built by running the ledgered stream over a copied 2-chunk prefix
    of the RANGE-chunked events layout (chunk i = the i-th event_id
    range — ``_range_chunked_stream_dir``), then comparing the ledger's
    max committed ``until_event_id`` against the full table's head.
    Range chunks matter (ADVICE r4): under the mod-N split the prefix
    contains every id class and ``until_event_id`` lands at ~head even
    though half the rows are missing; with range chunks the committed
    offset is a TRUE high-watermark, so lag/rows_behind/caught_up are
    meaningful consumer-lag numbers, not fixture accidents.  Rows-only:
    the ledger is runtime state DuckDB can't see.

    Scale notes: the ledger is one row per (group, source, batch) —
    monitoring reads aggregate a tiny table and the source head probe
    is a MAX over the partition column of the live table (at 100 TB a
    metadata-only op for append-ordered ids); nothing here touches the
    fact table's width."""
    import shutil

    stream_dir = _range_chunked_stream_dir(spark, sf_dir, n_chunks=4)
    # 2-chunk prefix = a consumer that has not caught up to the head.
    prefix_dir = scratch_path("sskos_lagprefix_")
    for name in sorted(os.listdir(stream_dir))[:2]:
        shutil.copytree(
            os.path.join(stream_dir, name), os.path.join(prefix_dir, name)
        )
    ledger = run_ledgered_stream(
        spark, prefix_dir, scratch_path("sskos_lagledger_"),
        checkpoint=scratch_path("ckpt_lag_"),
    )
    committed = ledger.read_ledger(spark).agg(
        F.max("batch_id").alias("last_batch_id"),
        F.max("until_event_id").alias("committed_offset"),
        F.sum("n_rows").alias("rows_committed"),
    )
    head = load_table(spark, sf_dir, "events").agg(
        F.max("event_id").alias("head_offset"),
        F.count("*").alias("rows_total"),
    )
    return (
        committed.join(F.broadcast(head))
        .select(
            F.lit("sskos").alias("group"),
            F.lit("events-file").alias("source"),
            "last_batch_id",
            "committed_offset",
            "head_offset",
            (F.col("head_offset") - F.col("committed_offset")).alias("lag"),
            "rows_committed",
            (F.col("rows_total") - F.col("rows_committed")).alias("rows_behind"),
            (F.col("committed_offset") >= F.col("head_offset")).alias("caught_up"),
        )
    )


def _range_chunked_stream_dir(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> str:
    """Stage events as RANGE-partitioned chunk files (chunk i = the i-th
    event_id range), unlike ``stage_stream_dir``'s mod-split: with range
    chunks each batch's ``until_event_id`` is a true high-watermark, so
    ledger offsets are meaningful resume points."""
    import time

    out = scratch_path("sskos_rangechunks_")
    e = load_table(spark, sf_dir, "events")
    hi = e.agg(F.max("event_id")).first()[0] + 1
    step = -(-hi // n_chunks)
    for i in range(n_chunks):
        (
            e.where(
                (F.col("event_id") >= i * step) & (F.col("event_id") < (i + 1) * step)
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"chunk={i}"))
        )
        time.sleep(0.05)  # distinct mtimes → in-order discovery
    return out


class OffsetOutOfRangeError(RuntimeError):
    """Requested resume offset predates the earliest retained record —
    the Kafka ``OffsetOutOfRangeException`` condition, surfaced when the
    configured policy is ``fail_fast`` instead of clamping."""


def resolve_resume_offset(
    spark: SparkSession,
    stream_dir: str,
    requested_offset: int,
    policy: str = "clamp_earliest",
) -> tuple[int, bool]:
    """KafkaManager out-of-range handling [K]: validate a stored resume
    offset against what the source still RETAINS, before starting the
    stream.  The reference's bootstrap fetches earliest/latest from the
    brokers and clamps stored ZK offsets into the valid range — the
    behavior that makes restart survive retention expiry (stored offset
    older than the log's earliest segment ⇒ Kafka raises
    OffsetOutOfRange unless the consumer reseeks).  File-source
    analogue: earliest retained = MIN(event_id) over the staged chunk
    dirs (expired chunks are deleted by retention), requested resume
    gate is ``event_id > requested_offset``.

    Two policies, both real deployments (``auto.offset.reset`` ∈
    {earliest, none} in consumer terms):

    * ``clamp_earliest`` — resume from the earliest retained record and
      report the clamp: the data between the requested offset and the
      retention floor is GONE and the pipeline owner finds out from the
      return flag + the ledger's min_event_id (at-least-once pipelines
      accept the hole and alarm on it — `stream_offset_gap_audit` is
      the detector).
    * ``fail_fast`` — raise :class:`OffsetOutOfRangeError`: pipelines
      that must never silently skip data stop and page instead
      (``failOnDataLoss=true``'s spirit, applied at bootstrap).

    Returns ``(effective_offset, clamped)`` where the stream gate is
    ``event_id > effective_offset``.  A requested offset at or beyond
    the retention floor passes through unchanged under either policy.

    Scale notes: the earliest-retained probe is a MIN over the id
    column of the retained chunks — on a real broker this is a metadata
    RPC (beginningOffsets); here a parquet min-stats read, never a data
    scan."""
    if policy not in ("clamp_earliest", "fail_fast"):
        raise ValueError(f"unknown out-of-range policy: {policy!r}")
    earliest = (
        spark.read.schema(EVENT_SCHEMA)
        .parquet(stream_dir)
        .agg(F.min("event_id"))
        .first()[0]
    )
    # In range: the first unread record (requested+1) is still retained.
    if requested_offset + 1 >= earliest:
        return requested_offset, False
    if policy == "fail_fast":
        raise OffsetOutOfRangeError(
            f"resume offset {requested_offset} predates earliest retained "
            f"record {earliest} (retention expired); policy=fail_fast"
        )
    return earliest - 1, True


@register("stream_offset_rewind")
def stream_offset_rewind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay-from-offset — the reference KafkaManager's
    ``startingOffsets`` bootstrap [K]: resume consumption from a chosen
    COMMITTED offset rather than earliest/latest.

    Phase 1 runs the range-chunked event stream through the ledgered
    sink (one chunk per batch); phase 2 picks the offset committed at
    batch 1 from the AUDIT LEDGER (not the checkpoint — the point of
    external offset management is that the application owns the resume
    decision) and reprocesses everything after it in a FRESH run: new
    checkpoint, source gated to ``event_id > resume_offset`` — the
    file-source analogue of a per-partition startingOffsets JSON.
    Output compares the replayed stream against the batch-side truth:
    one row per phase with row counts and id bounds; exactly-once
    equality is asserted in tests/test_streaming.py.

    Scale notes: the rewind run re-reads only post-offset source data
    (the gate is a pushed-down scan filter here, exactly as Kafka's
    seek-to-offset skips log segments); ledger reads are batch-count
    sized."""
    stream_dir = _range_chunked_stream_dir(spark, sf_dir, n_chunks=3)
    full = run_ledgered_stream(
        spark,
        stream_dir,
        scratch_path("sskos_rewind_full_"),
        checkpoint=scratch_path("ckpt_rw1_"),
    )
    resume_offset = (
        full.read_ledger(spark)
        .where(F.col("batch_id") == 1)
        .select("until_event_id")
        .first()[0]
    )

    replay_root = scratch_path("sskos_rewind_replay_")
    replay = OffsetLedger(replay_root, group="sskos-replay")
    # The replay needs no per-file batching — one AvailableNow batch over
    # the gated source is the cheapest correct resume.
    src = read_event_stream(spark, stream_dir, max_files_per_trigger=None).where(
        F.col("event_id") > resume_offset
    )
    run_stream(src, replay.process, checkpoint=scratch_path("ckpt_rw2_"))

    def phase(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
        ).select(F.lit(name).alias("phase"), "n_rows", "min_id", "max_id")

    truth = load_table(spark, sf_dir, "events").where(
        F.col("event_id") > resume_offset
    )
    return (
        phase("expected_suffix", truth)
        .unionByName(phase("replayed", replay.read_sink(spark)))
        .withColumn("resume_offset", F.lit(resume_offset))
    )


def audit_ledger_contiguity(ledger: DataFrame, scenario: str) -> DataFrame:
    """Offset-range contiguity audit over an audit ledger — shared by
    `stream_offset_gap_audit`'s clean and damaged scenarios (the shared
    function is the contract, cf. streaming/core.dlq_reason)."""
    w = Window.partitionBy("group", "source").orderBy("batch_id")
    prev = F.lag("until_event_id").over(w)
    withprev = ledger.select(
        "batch_id", "min_event_id", "until_event_id", prev.alias("prev_until")
    )
    return withprev.select(
        F.lit(scenario).alias("scenario"),
        "batch_id",
        "min_event_id",
        "until_event_id",
        F.when(F.col("prev_until").isNull(), F.lit("start"))
        .when(F.col("min_event_id") == F.col("prev_until") + 1, F.lit("contiguous"))
        .when(F.col("min_event_id") > F.col("prev_until") + 1, F.lit("gap"))
        .otherwise(F.lit("overlap"))
        .alias("status"),
        F.when(
            F.col("min_event_id") > F.col("prev_until") + 1,
            F.col("min_event_id") - F.col("prev_until") - 1,
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("missing_rows"),
    )


@register("stream_offset_gap_audit")
def stream_offset_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-range INTEGRITY audit — the consistency check a
    manually-offset-managed pipeline [K] must run on its commit store:
    consecutive committed ranges per (group, source) must abut exactly
    (min == prev_until + 1); a hole means a batch's output was lost
    after its offsets were committed (the at-most-once failure), an
    overlap means offsets regressed (the duplicate-delivery failure).
    Kafka's own tooling cannot see this — it knows positions, not the
    ranges your sink actually received; the audit ledger can.

    Runs the range-chunked stream through the ledgered sink once, then
    audits the ledger TWICE through the shared contiguity function:
    the clean ledger (expected all-contiguous) and a damaged copy with
    batch 2's commit record dropped — a simulated lost commit — which
    must surface as exactly one 'gap' row carrying the missing-row
    count.  Detection is proven, not assumed (pytest pins both
    scenarios).

    Scale notes: the ledger is one row per (group, source, batch);
    the audit is a lag window over that tiny frame — zero fact-table
    cost, run-anytime monitoring."""
    stream_dir = _range_chunked_stream_dir(spark, sf_dir, n_chunks=4)
    ledger = run_ledgered_stream(
        spark,
        stream_dir,
        scratch_path("sskos_gapaudit_"),
        checkpoint=scratch_path("ckpt_gap_"),
    ).read_ledger(spark)
    clean = audit_ledger_contiguity(ledger, "clean")
    damaged = audit_ledger_contiguity(
        ledger.where(F.col("batch_id") != 2), "lost_commit"
    )
    return clean.unionAll(damaged).orderBy("scenario", "batch_id")


@register(
    "stream_rebalance_plan",
    # Kafka RangeAssignor as a query: 16 partitions (user_id % 16) to 3
    # consumers — the first (16 % 3) consumers take ceil(16/3), the rest
    # floor(16/3); pure integer assignment arithmetic over the
    # partition rollup, with per-consumer load totals via windows.
    oracle="""
    WITH parts AS (
        SELECT user_id % 16 AS part_id,
               COUNT(*) AS end_offset,
               MIN(event_id) AS earliest_id,
               MAX(event_id) AS latest_id
        FROM events GROUP BY 1
    ), assigned AS (
        SELECT *,
               CASE WHEN part_id < ((16 // 3) + 1) * (16 % 3)
                    THEN part_id // ((16 // 3) + 1)
                    ELSE (16 % 3)
                         + (part_id - ((16 // 3) + 1) * (16 % 3)) // (16 // 3)
               END AS consumer
        FROM parts
    )
    SELECT CAST(part_id AS BIGINT) AS part_id,
           CAST(end_offset AS BIGINT) AS end_offset,
           CAST(earliest_id AS BIGINT) AS earliest_id,
           CAST(latest_id AS BIGINT) AS latest_id,
           CAST(consumer AS BIGINT) AS consumer,
           CAST(COUNT(*) OVER (PARTITION BY consumer) AS BIGINT)
               AS consumer_parts,
           CAST(SUM(end_offset) OVER (PARTITION BY consumer) AS BIGINT)
               AS consumer_load
    FROM assigned
    """,
)
def stream_rebalance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer-group rebalance plan: assign 16 topic partitions
    (``user_id % 16`` stands in for the Kafka partitioner) to 3
    consumers with the RangeAssignor rule — the first ``P % C``
    consumers take ``ceil(P/C)`` partitions, the rest ``floor(P/C)``
    — and report each consumer's partition count and record load.
    This is the assignment the reference's KafkaManager observes after
    a group rebalance [K: reconstructed from the public RangeAssignor
    contract; mirror empty, SURVEY §0].

    Scale notes: ONE hash aggregate from the event stream to the
    |partitions|-row frame; the assignment is branch-free integer
    arithmetic on that rollup and the load totals are
    consumer-partitioned windows over it.  The skewed-load reading the
    plan surfaces (consumer_load spread) is exactly why range
    assignment degrades on hot partitions — `detect_hot_keys` is the
    companion diagnosis."""
    e = load_table(spark, sf_dir, "events")
    parts = e.groupBy((F.col("user_id") % 16).alias("part_id")).agg(
        F.count(F.lit(1)).alias("end_offset"),
        F.min("event_id").alias("earliest_id"),
        F.max("event_id").alias("latest_id"),
    )
    q, r = 16 // 3, 16 % 3
    assigned = parts.withColumn(
        "consumer",
        F.when(
            F.col("part_id") < (q + 1) * r, F.expr(f"part_id div {q + 1}")
        ).otherwise(r + F.expr(f"(part_id - {(q + 1) * r}) div {q}")),
    )
    w_c = Window.partitionBy("consumer")
    return assigned.select(
        F.col("part_id").cast("long").alias("part_id"),
        F.col("end_offset").cast("long").alias("end_offset"),
        F.col("earliest_id").cast("long").alias("earliest_id"),
        F.col("latest_id").cast("long").alias("latest_id"),
        F.col("consumer").cast("long").alias("consumer"),
        F.count(F.lit(1)).over(w_c).cast("long").alias("consumer_parts"),
        F.sum("end_offset").over(w_c).cast("long").alias("consumer_load"),
    )


@register(
    "stream_offset_commit_lag",
    # Commit-lag table: committed offset = records before the freeze
    # horizon (global max ts - 7 days, a window scalar on the 16-row
    # partition frame); lag = end - committed, banded ok/warn/crit with
    # ppm lag share per partition — the monitoring read every offset
    # store owner runs.
    oracle="""
    WITH parts AS (
        SELECT user_id % 16 AS part_id,
               COUNT(*) AS end_offset,
               SUM(CASE WHEN ts < (SELECT MAX(ts) FROM events)
                             - to_days(CAST(6 + (user_id % 16) % 5
                                            AS INTEGER))
                        THEN 1 ELSE 0 END) AS committed_offset
        FROM events GROUP BY 1
    )
    SELECT CAST(part_id AS BIGINT) AS part_id,
           CAST(6 + part_id % 5 AS BIGINT) AS commit_age_days,
           CAST(end_offset AS BIGINT) AS end_offset,
           CAST(committed_offset AS BIGINT) AS committed_offset,
           CAST(end_offset - committed_offset AS BIGINT) AS lag,
           CASE WHEN (end_offset - committed_offset) * 1000000
                     // end_offset >= 290000 THEN 'crit'
                WHEN (end_offset - committed_offset) * 1000000
                     // end_offset >= 230000 THEN 'warn'
                ELSE 'ok' END AS lag_band,
           CAST((end_offset - committed_offset) * 1000000 // end_offset
                AS BIGINT) AS lag_ppm
    FROM parts
    """,
)
def stream_offset_commit_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset commit-lag table: per partition, the latest (end) offset
    vs the committed offset — the committed point is the record count
    before a PER-PARTITION freeze horizon (``6 + part_id % 5`` days off
    the global max timestamp), the deterministic stand-in for consumer
    groups that progress unevenly, which is exactly what a lag monitor
    exists to catch — with the lag banded ok/warn/crit on its ppm
    share of the partition (relative thresholds, so the bands mean the
    same thing at every corpus size; absolute-count thresholds went
    monotone-dead across SFs in the first draft, caught by the
    non-degeneracy audit).  Batch twin of `stream_offset_lag_monitor`
    (rows-only executor): the ARITHMETIC gets a hard oracle here, the
    ledger plumbing is proven there.

    Scale notes: ONE conditional hash aggregate to the
    |partitions|-row frame; the horizon scalar is a 1-row broadcast
    join evaluated once, never a per-row pass.  At production scale
    this reads the offset ledger, not the event log — identical
    arithmetic on a frame that is partitions-sized either way."""
    e = load_table(spark, sf_dir, "events")
    horizon = e.agg(F.max("ts").alias("mx"))
    parts = (
        e.join(F.broadcast(horizon))
        .groupBy((F.col("user_id") % 16).alias("part_id"))
        .agg(
            F.count(F.lit(1)).alias("end_offset"),
            F.sum(
                F.when(
                    F.expr(
                        "ts < mx - make_dt_interval(6 + (user_id % 16) % 5)"
                    ),
                    1,
                ).otherwise(0)
            ).alias("committed_offset"),
        )
    )
    lag_ppm = F.expr(
        "(end_offset - committed_offset) * 1000000 div end_offset"
    )
    return parts.select(
        F.col("part_id").cast("long").alias("part_id"),
        (F.lit(6) + F.col("part_id") % 5).cast("long").alias(
            "commit_age_days"
        ),
        F.col("end_offset").cast("long").alias("end_offset"),
        F.col("committed_offset").cast("long").alias("committed_offset"),
        (F.col("end_offset") - F.col("committed_offset"))
        .cast("long")
        .alias("lag"),
        F.when(lag_ppm >= 290000, "crit")
        .when(lag_ppm >= 230000, "warn")
        .otherwise("ok")
        .alias("lag_band"),
        lag_ppm.cast("long").alias("lag_ppm"),
    )


def run_txn_exactly_once(
    spark: SparkSession,
    sf_dir: str,
    table_dir: str,
    checkpoint: str,
    crash_after_write_in_batch: int | None = None,
) -> None:
    """Drive the events file-stream into a transactional-log table with
    source offsets CO-COMMITTED inside each version's commit record —
    the store-offsets-with-results recipe [K] that upgrades foreachBatch
    replay (at-least-once) to exactly-once without an idempotent-path
    convention: the gate is the durable offset in the log itself, not a
    directory-overwrite trick.

    Per batch: (1) read the max committed batch offset from the commit
    records (one pass over the JSON log — version-count-sized, never
    data-sized); (2) if this batch_id is already committed, SKIP — the
    replay gate; (3) write the batch's data files INVISIBLY (visibility
    comes only from the commit record); (4) txn_commit(files, n_rows,
    extra={"batch_id": N}) — ONE atomic rename publishes data and
    offset together, so "data written but offset lost" (the classic
    duplicate source) is unrepresentable.

    ``crash_after_write_in_batch`` injects the worst-case failure: die
    AFTER the data files are on disk but BEFORE the commit — the window
    where a separate offset store would double-count on replay.  The
    orphaned files stay in data/ (invisible; compaction's janitor
    problem) and the replay re-writes and commits exactly once."""
    from ..sources.txnlog import _write_data_files, txn_commit

    def committed_batches() -> set[int]:
        log_dir = os.path.join(table_dir, "_log")
        if not os.path.isdir(log_dir):
            return set()
        out = set()
        for f in os.listdir(log_dir):
            if f.endswith(".json"):
                with open(os.path.join(log_dir, f)) as fh:
                    rec = json.load(fh)
                if "batch_id" in rec:
                    out.add(int(rec["batch_id"]))
        return out

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in committed_batches():
            return  # replay of an already-committed batch: exactly-once gate
        files, n = _write_data_files(batch_df, table_dir, n_files=1)
        if crash_after_write_in_batch == batch_id:
            raise RuntimeError(
                f"injected crash after data write, before commit "
                f"(batch {batch_id})"
            )
        txn_commit(table_dir, files, n, extra={"batch_id": batch_id})

    src = read_event_stream(
        spark, stage_stream_dir(spark, sf_dir), max_files_per_trigger=1
    )
    run_stream(src, commit_batch, checkpoint=checkpoint)


@register("stream_txn_exactly_once")
def stream_txn_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest via offset/data co-commit: run the
    events stream through `run_txn_exactly_once` (each micro-batch's
    source offset rides INSIDE the transaction-log commit record that
    publishes its data files — one atomic rename, so at-least-once
    replay can never double-ingest) and return the commit audit: one
    row per version with its co-committed batch offset, row count, and
    the running total.  The crash-replay property (die between data
    write and commit → replay commits exactly once, orphans stay
    invisible) is pinned by
    tests/test_streaming.py::test_txn_exactly_once_crash_replay.

    Scale notes: the replay gate reads the JSON commit log
    (version-count-sized); data files are written once per batch and
    the audit readout is a version-count-sized frame.  This is the
    offsets-in-the-sink half of the reference's contract [K]; the
    ledger family (`stream_offset_ledger`) is the offsets-beside-the-
    sink half — both ends of the Kafka offset-storage design space."""
    table_dir = scratch_path("sskos_txn_eo_")
    run_txn_exactly_once(
        spark, sf_dir, table_dir, checkpoint=scratch_path("ckpt_")
    )
    log_dir = os.path.join(table_dir, "_log")
    recs = []
    for f in sorted(os.listdir(log_dir)):
        if f.endswith(".json"):
            with open(os.path.join(log_dir, f)) as fh:
                recs.append(json.load(fh))
    rows = [
        (
            int(r["version"]),
            int(r["batch_id"]),
            int(r["n_rows"]),
            len(r["files"]),
        )
        for r in recs
    ]
    df = spark.createDataFrame(
        rows, "version long, batch_id long, n_rows long, n_files long"
    )
    w = Window.orderBy("version").rowsBetween(Window.unboundedPreceding, 0)
    return df.select(
        "version",
        "batch_id",
        "n_rows",
        "n_files",
        F.sum("n_rows").over(w).cast("long").alias("cum_rows"),
    ).orderBy("version")
