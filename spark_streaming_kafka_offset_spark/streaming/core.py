"""§2.9 Structured Streaming core — the reference's home turf [K]
(SURVEY.md; mirror empty §0, semantics cited to public Spark docs).

The reference consumes Kafka with a manually-managed offset map and runs
per-batch RDD ETL [K].  Re-expressed Spark-first:

* source  → ``readStream`` (Kafka in production — :func:`kafka_source` —
  and a schema'd file stream in this broker-less environment; the query
  DAG is source-agnostic, which is the point of the abstraction);
* batches → ``MicroBatchExecution`` with the checkpoint WAL as the
  offset store (the reference's ZooKeeper map, done by the engine);
* windows/watermarks replace hand-rolled per-batch time bucketing.

Every registered query here is **rows-only** for the driver (DuckDB has
no stream runtime); each also has a batch-equivalence pytest
(tests/test_streaming.py) asserting the streamed answer equals the batch
answer over the same rows — that is the real correctness check.

All queries run ``Trigger.AvailableNow`` over a deterministic chunked
copy of ``events`` and return the materialized result, so they are
driver-collectable like any batch query.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.window import Window

from ..plans.registry import register
from ..session import load_table

from ..common import scratch_path

EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]


def kafka_options(
    brokers: str,
    topics: str | None = None,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    subscribe_pattern: str | None = None,
    assign: str | None = None,
) -> dict[str, str]:
    """The exact option map a broker deployment receives — split out as a
    pure function so the contract is unit-testable without a broker
    (tests/test_streaming.py::test_kafka_option_contract).

    Topic selection is EXACTLY ONE of the Kafka source's three modes
    (VERDICT r6 #6 — the two non-list modes a KafkaManager user also
    exercises): ``topics`` (comma list → ``subscribe``),
    ``subscribe_pattern`` (java regex → ``subscribePattern``, topics
    matched at (re)subscribe time so new matching topics join the query
    on restart), or ``assign`` (JSON {topic: [partition,...]} → fixed
    partition assignment, the mode manual-offset code pairs with
    per-partition ``startingOffsets`` JSON)."""
    modes = [m for m in (topics, subscribe_pattern, assign) if m is not None]
    if len(modes) != 1:
        raise ValueError(
            "exactly one of topics / subscribe_pattern / assign required"
        )
    opts = {
        "kafka.bootstrap.servers": brokers,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": "true",  # surface retention-expired offsets
    }
    if topics is not None:
        opts["subscribe"] = topics
    elif subscribe_pattern is not None:
        opts["subscribePattern"] = subscribe_pattern
    else:
        opts["assign"] = assign
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_source(
    spark: SparkSession,
    brokers: str,
    topics: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Production Kafka source (fixed 7-col schema: key/value binary,
    topic, partition, offset, timestamp, timestampType).

    ``startingOffsets`` accepts earliest/latest or per-partition JSON —
    the reference's bootstrap-from-stored-offsets [K]; after the first
    run the checkpoint WAL owns resume positions and this option is
    ignored, which is exactly the restart-safety the reference built by
    hand.  Unrunnable here (no broker/jar — SURVEY.md §0); the option
    mapping is contract-tested, and the file source below substitutes in
    tests, sharing every downstream operator.
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_options(
        brokers, topics, starting_offsets, max_offsets_per_trigger
    ).items():
        reader = reader.option(k, v)
    return reader.load()


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Schema-on-read for Kafka payloads: value bytes → typed columns
    (the reference's per-record parse step [K] as one expression)."""
    parsed = F.from_json(
        F.col("value").cast("string"),
        EVENT_SCHEMA,
    )
    return raw.select(
        F.col("timestamp").alias("kafka_ts"), parsed.alias("e")
    ).select("kafka_ts", "e.*")


#: staged-dir cache: (sf_dir, n_chunks, late_chunk) → stream dir.  Every
#: streaming query re-uses the same immutable staged copy within a process,
#: so an N-query run pays the chunking write once.
_STAGE_CACHE: dict[tuple[str, int, bool], str] = {}


def stage_stream_dir(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4, late_chunk: bool = False
) -> str:
    """Deterministically chunk ``events`` into ``n_chunks`` parquet files
    (chunk i = rows with event_id % n == i) under a temp dir, with
    increasing mtimes so FileStreamSource discovers them in order.

    ``late_chunk=True`` puts the chronologically *earliest* quarter of
    rows into the last-discovered file — the out-of-order arrival used by
    watermark tests — with the on-time remainder split into TWO
    time-ordered files before it.  Three files matter: Spark filters
    late input with the PREVIOUS batch's watermark (the plan's
    ``StateStoreSave`` carries a late-events watermark one batch behind
    its eviction watermark), so in a two-file run the late file is
    processed under late-events watermark 0 and nothing is ever dropped
    (measured: 994/1000 rows admitted).  With an intermediate on-time
    batch advancing the late-events watermark first, the late file
    really is dropped on arrival."""
    cache_key = (sf_dir, n_chunks, late_chunk)
    cached = _STAGE_CACHE.get(cache_key)
    if cached is not None and os.path.isdir(cached):
        return cached
    # Staging is harness plumbing, not the operator under test — do it with
    # pyarrow in-process (no Spark jobs: measured 6.3 s → <0.5 s at sf0.1).
    # ts ns→µs truncation here matches the engine's load_table repair
    # (integer division toward zero on post-epoch values == floor).
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"), columns=_EVENT_COLS)
    ts_us = pc.cast(tbl["ts"], pa.timestamp("us"), safe=False)
    tbl = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts_us)
    stream_dir = scratch_path("sskos_stream_")
    if late_chunk:
        # Chronologically earliest quarter into the last-discovered file;
        # the on-time remainder split at its median ts into two ordered
        # files so the late file arrives with the late-events watermark
        # already advanced (see docstring).
        ts_i64 = pc.cast(ts_us, pa.int64())
        cut = round(
            pc.quantile(ts_i64, q=0.25, interpolation="linear")[0].as_py()
        )
        mid = round(
            pc.quantile(ts_i64, q=0.625, interpolation="linear")[0].as_py()
        )
        early_on_time = pc.and_(
            pc.greater_equal(ts_i64, cut), pc.less(ts_i64, mid)
        )
        chunks = [
            tbl.filter(early_on_time),
            tbl.filter(pc.greater_equal(ts_i64, mid)),
            tbl.filter(pc.less(ts_i64, cut)),
        ]
    else:
        mod = pc.subtract(
            tbl["event_id"],
            pc.multiply(
                pc.divide(tbl["event_id"], n_chunks), n_chunks
            ),  # arrow int divide truncates → this is event_id % n_chunks
        )
        chunks = [tbl.filter(pc.equal(mod, i)) for i in range(n_chunks)]
    for i, chunk in enumerate(chunks):
        dest = os.path.join(stream_dir, f"{i:04d}.parquet")
        pq.write_table(chunk, dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
    _STAGE_CACHE[cache_key] = stream_dir
    return stream_dir


def read_event_stream(
    spark: SparkSession, stream_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over a staged events dir (Kafka stand-in [K]).
    Explicit schema — a streaming source must never infer."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(stream_dir)


#: Serialises the shuffle-partition swap in :func:`start_memory_query`, so
#: concurrent starts on one session never save each other's swapped value.
_START_LOCK = threading.Lock()


def start_memory_query(
    df: DataFrame, name: str, output_mode: str, checkpoint: str | None = None
) -> StreamingQuery:
    """Start ``df`` with Trigger.AvailableNow into the memory table
    ``name``, with one state store per core.

    Each stateful operator keeps one state store per shuffle partition,
    and every store pays an open, a commit and checkpoint files on every
    batch, so the count is ``defaultParallelism``: one store per core.
    A query clones the session conf when ``start()`` constructs it, so
    the session-wide ``spark.sql.shuffle.partitions`` is swapped only
    around ``start()``, under a lock, and restored as soon as it
    returns.  A checkpoint keeps the count it was created with, so a
    restart on an existing checkpoint is unaffected."""
    spark = df.sparkSession
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    key = "spark.sql.shuffle.partitions"
    with _START_LOCK:
        prev = spark.conf.get(key)
        spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
        try:
            return writer.start()
        finally:
            spark.conf.set(key, prev)


def run_to_completion(
    df: DataFrame, name: str, output_mode: str, checkpoint: str | None = None
) -> DataFrame:
    """Execute a streaming DataFrame with Trigger.AvailableNow into a
    memory sink and return the materialized table.

    Each stateful operator runs one state store per core.  The shuffle
    setting that sizes them is captured when ``start()`` constructs the
    query (:func:`start_memory_query`), and the count then stays fixed
    for the life of the query's checkpoint.  Going from 8 stores to 4 on
    a 4-vCPU host (Spark 4.1.2, ``local[4]``) cut the ``windows_replay``
    benchmark's median ``cpu_ms_per_op`` from 3724 to 2707 ms (-27%,
    10 interleaved pairs), with state commit time per batch and tasks
    per batch both roughly halved."""
    start_memory_query(df, name, output_mode, checkpoint).awaitTermination()
    return df.sparkSession.table(name)


def _flatten_window(df: DataFrame, win_col: str = "window") -> DataFrame:
    """window struct → (window_start, window_end) for a stable flat schema."""
    return df.select(
        F.col(f"{win_col}.start").alias("window_start"),
        F.col(f"{win_col}.end").alias("window_end"),
        *[c for c in df.columns if c != win_col],
    ).drop(win_col)


@register("stream_tumbling")
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6-hour count/sum per event_type — non-overlapping
    event-time windows (the reference's per-batch time bucketing [K],
    but keyed on event time, not arrival batch)."""
    src = read_event_stream(spark, stage_stream_dir(spark, sf_dir))
    agg = src.groupBy(
        F.window("ts", "6 hours").alias("window"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    out = run_to_completion(agg, "stream_tumbling", "complete")
    return _flatten_window(out).orderBy("window_start", "event_type")


@register("stream_sliding")
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (12h length, 6h slide) — each event lands in 2
    overlapping windows."""
    src = read_event_stream(spark, stage_stream_dir(spark, sf_dir))
    agg = src.groupBy(
        F.window("ts", "12 hours", "6 hours").alias("window"), "event_type"
    ).agg(F.count("*").alias("n"))
    out = run_to_completion(agg, "stream_sliding", "complete")
    return _flatten_window(out).orderBy("window_start", "event_type")


@register("stream_session")
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap —
    merge-able state, the canonical gap-session semantics."""
    src = read_event_stream(spark, stage_stream_dir(spark, sf_dir))
    agg = src.groupBy(
        F.session_window("ts", "30 minutes").alias("window"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    out = run_to_completion(agg, "stream_session", "complete")
    return _flatten_window(out).orderBy("user_id", "window_start")


@register("stream_watermark")
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + late-data drop, observable end-to-end: two on-time
    chunks carry the chronologically later 75% of events in time order;
    the last-arriving chunk (maxFilesPerTrigger=1 forces one file per
    micro-batch) holds the earliest 25%.  Spark applies the late-input
    filter with the PREVIOUS batch's watermark, so the intermediate
    on-time batch is what arms it — by the time the late file arrives
    the late-events watermark sits mid-January and every late row is
    dropped before aggregation; append mode then emits exactly the
    on-time windows closed below the final watermark
    (tests/test_streaming.py asserts byte-exact equality with that
    batch twin, and that a naive full-table twin disagrees)."""
    stream_dir = stage_stream_dir(spark, sf_dir, late_chunk=True)
    src = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    agg = (
        src.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "6 hours").alias("window"))
        .agg(F.count("*").alias("n"))
    )
    out = run_to_completion(
        agg, "stream_watermark", "append", checkpoint=scratch_path("ckpt_")
    )
    return _flatten_window(out).orderBy("window_start")


@register("stream_dedup")
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup by event_id within the watermark: the input is
    doubled (every event retransmitted — the at-least-once delivery the
    reference tolerates [K]); dropDuplicatesWithinWatermark restores
    exactly-once row counts with bounded state (keys expire with the
    watermark — the 100 TB requirement)."""
    src = read_event_stream(spark, stage_stream_dir(spark, sf_dir))
    doubled = src.withColumn("copy", F.explode(F.array(F.lit(1), F.lit(2)))).drop(
        "copy"
    )
    deduped = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    counted = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    out = run_to_completion(counted, "stream_dedup", "complete")
    return out.orderBy("event_type")


@register("stream_static_join")
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static enrichment: events against the customer dimension.
    The static side is broadcast per micro-batch — no stream state at
    all, the cheapest join shape on an unbounded source."""
    src = read_event_stream(spark, stage_stream_dir(spark, sf_dir))
    cust = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey"), F.col("c_mktsegment")
        )
    )
    joined = src.join(cust, src.user_id == cust.c_custkey, "inner")
    agg = joined.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n")
    )
    out = run_to_completion(agg, "stream_static_join", "complete")
    return out.orderBy("c_mktsegment", "event_type")


@register("stream_stream_join")
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ stream with event-time bounds: purchases joined to the
    same user's clicks within the preceding hour.  Both sides are
    watermarked so the join state is bounded (rows outside the time
    range are evicted) — unbounded-state stream joins are rejected by
    design."""
    stream_dir = stage_stream_dir(spark, sf_dir)
    clicks = (
        read_event_stream(spark, stream_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        read_event_stream(spark, stream_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("p_user", "purchase_id", "purchase_ts", "click_id", "click_ts", "value")
    out = run_to_completion(
        joined,
        "stream_stream_join",
        "append",
        checkpoint=scratch_path("ckpt_"),
    )
    return out.orderBy("purchase_id", "click_id")


@register("stream_left_outer_join")
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ stream LEFT OUTER with event-time bounds: every purchase
    emits — joined to same-user clicks from the preceding hour when they
    exist, null-padded otherwise.  The semantics trap this operator
    exists to demonstrate: the null-padded row for an unmatched purchase
    is emitted only once the watermark passes the point where a matching
    click could still arrive — until then the row sits in state, so a
    live stream's outer results TRAIL the inner results by the watermark
    delay, and rows newer than the final watermark when a bounded run
    ends never emit their null form at all
    (tests/test_streaming.py::test_stream_left_outer_join_semantics
    pins both halves of that contract).

    Scale notes: identical state posture to ``stream_stream_join`` —
    both sides watermarked, the time-range condition bounds state
    eviction; LEFT OUTER adds only the per-row matched bit to state.
    State is hash-partitioned on the join key (user)."""
    stream_dir = stage_stream_dir(spark, sf_dir)
    clicks = (
        read_event_stream(spark, stream_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        read_event_stream(spark, stream_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("p_user", "purchase_id", "purchase_ts", "click_id", "click_ts")
    out = run_to_completion(
        joined,
        "stream_left_outer_join",
        "append",
        checkpoint=scratch_path("ckpt_"),
    )
    return out.orderBy("purchase_id", "click_id")


@register("stream_full_outer_join")
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ stream FULL OUTER with event-time bounds — completes the
    stream-join family (inner / left outer / full outer): matched
    purchase-click pairs emit as in the inner join, unmatched purchases
    emit null-click rows, AND unmatched clicks emit null-purchase rows.
    The trailing contract now applies to BOTH sides: each side's
    null-padded row is held in state until the watermark passes the
    point where a match could still arrive, so either side's outer rows
    trail the inner results, and rows newer than the final watermark
    when a bounded run ends never emit their null form
    (tests/test_streaming.py::test_stream_full_outer_join_semantics
    pins the three-way partition against the batch twin).

    Scale notes: identical state posture to ``stream_stream_join`` —
    both sides watermarked, the time-range condition bounds eviction
    for BOTH state stores (a full outer with an unbounded side is
    rejected by Spark by design); FULL OUTER adds one matched bit per
    buffered row on each side.  State is hash-partitioned on the join
    key (user)."""
    stream_dir = stage_stream_dir(spark, sf_dir)
    clicks = (
        read_event_stream(spark, stream_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "30 minutes")
    )
    purchases = (
        read_event_stream(spark, stream_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "30 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "full_outer",
    ).select(
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "click_id",
        "click_ts",
    )
    out = run_to_completion(
        joined,
        "stream_full_outer_join",
        "append",
        checkpoint=scratch_path("ckpt_"),
    )
    return out.orderBy("purchase_id", "click_id")


def topic_route_predicates() -> tuple:
    """Exhaustive, null-safe topic routing for the multi-topic split
    (ADVICE r6): a bare ``~isin(...)`` evaluates NULL for a NULL
    event_type and the row would vanish from BOTH topics, silently
    diverging from the batch twin's when(...).otherwise('transactions')
    which maps NULL to 'transactions'.  coalesce(¬interaction, True)
    sends the NULL/unknown tail to 'transactions', so the two
    predicates PARTITION every input row (pinned by
    tests/test_streaming.py::test_topic_route_predicates_partition)."""
    is_interaction = F.col("event_type").isin("click", "view")
    return is_interaction, F.coalesce(~is_interaction, F.lit(True))


@register("stream_multi_topic_union")
def stream_multi_topic_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-topic consumption [K]: two independently-staged streams
    (the file stand-ins for a Kafka multi-topic ``subscribe`` —
    'interactions' = click/view, 'transactions' = purchase/signup/
    error) are read as SEPARATE sources, tagged with their topic (the
    analogue of Kafka's ``topic`` metadata column), unioned, and
    aggregated in one windowed query — the consume-many-topics-into-
    one-pipeline shape the reference's subscribe list enables.

    Scale notes: a streaming union is plan-level — each source keeps
    its own offsets/files progress in the ONE checkpoint, micro-batches
    draw from both sources, and the post-union aggregate state is
    keyed on (window, topic, type) exactly as a single-source agg
    would be.  Batch-equivalence is pinned in tests/test_streaming.py:
    the unioned streaming result must equal the one-shot batch
    aggregate over the same rows."""
    base_dir = stage_stream_dir(spark, sf_dir)
    topics = scratch_path("topics_")
    batch = spark.read.parquet(base_dir)
    route_interactions, route_transactions = topic_route_predicates()
    batch.where(route_interactions).write.mode("overwrite").parquet(
        f"{topics}/interactions"
    )
    batch.where(route_transactions).write.mode("overwrite").parquet(
        f"{topics}/transactions"
    )

    def topic_stream(name: str) -> DataFrame:
        return (
            spark.readStream.schema(EVENT_SCHEMA)
            .parquet(f"{topics}/{name}")
            .withColumn("topic", F.lit(name))
        )

    unioned = topic_stream("interactions").unionByName(
        topic_stream("transactions")
    )
    # Complete mode, no watermark: a bounded backfill run must emit the
    # FINAL day too, and in append mode a window only closes once the
    # watermark passes its end — the last day would trail forever (the
    # same semantics stream_left_outer_join pins for outer joins).  A
    # production always-on variant flips to append + watermark and
    # accepts the trailing window; complete keeps all window state
    # (fine for the day-grain rollup, wrong for unbounded keys).
    agg = (
        unioned.groupBy(
            F.window("ts", "1 day").alias("w"), F.col("topic"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("day_start"),
            "topic",
            "event_type",
            "n",
            F.round("sum_value", 2).alias("sum_value"),
        )
    )
    out = run_to_completion(
        agg,
        "stream_multi_topic_union",
        "complete",
        checkpoint=scratch_path("ckpt_"),
    )
    return out.orderBy("day_start", "topic", "event_type")


def scd2_merge_batch(hist: DataFrame, batch_df: DataFrame, eff) -> DataFrame:
    """One micro-batch of incremental SCD2 maintenance: merge a CDC
    chunk (c_custkey, new_seg, new_bal) into the history frame,
    closing the current version and inserting the new one for every
    REAL change (no-op changes create no version — the merge_scd2
    contract).  Change detection is against the STORE's current row.

    Prior CLOSED versions always survive verbatim — only the current
    row of a re-changed key is replaced (ADVICE r6: an anti-join over
    the whole history would drop a key's earlier closed versions
    whenever the same key changes again in a later micro-batch,
    re-adding only the store's current row as closed — silent history
    corruption under general CDC).  Pinned by
    tests/test_streaming.py::test_scd2_merge_preserves_prior_versions,
    which changes ONE key across two batches and counts 3 versions.

    New-key insert branch (VERDICT r8 #6 — closes the r7 closed-key-set
    seam): a CDC key with NO current row in the store is a first
    appearance, not a change — it inserts one OPEN version
    (valid_from = eff, valid_to NULL, is_current) with nothing to
    close.  The branch is a left_anti of the batch against the store's
    current keys, so it is empty (and free) when the key set really is
    closed; general CDC consumers whose dimension grows mid-stream now
    get the row instead of a silent drop.  Pinned by
    tests/test_streaming.py::test_scd2_merge_inserts_new_key.
    NULL attribute values are REAL values here: change
    detection is null-safe (NOT eqNullSafe), so NULL→x, x→NULL and
    NULL→NULL compare correctly instead of silently dropping the row
    the way `!=`'s three-valued logic would."""
    cur = hist.where(F.col("is_current"))
    real = (
        batch_df.alias("b")
        .join(cur.alias("h"), "c_custkey")
        .where(
            ~F.col("b.new_seg").eqNullSafe(F.col("h.c_mktsegment"))
            | ~F.col("b.new_bal").eqNullSafe(F.col("h.c_acctbal"))
        )
        .select(
            "c_custkey",
            F.col("h.c_mktsegment").alias("old_seg"),
            F.col("h.c_acctbal").alias("old_bal"),
            F.col("h.valid_from").alias("old_from"),
            "b.new_seg",
            "b.new_bal",
        )
    )
    untouched = hist.where(~F.col("is_current")).unionByName(
        cur.join(real.select("c_custkey"), "c_custkey", "left_anti")
    )
    closed = real.select(
        "c_custkey",
        F.col("old_seg").alias("c_mktsegment"),
        F.col("old_bal").alias("c_acctbal"),
        F.col("old_from").alias("valid_from"),
        eff.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    fresh = real.select(
        "c_custkey",
        F.col("new_seg").alias("c_mktsegment"),
        F.col("new_bal").alias("c_acctbal"),
        eff.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    inserted = (
        batch_df.join(cur.select("c_custkey"), "c_custkey", "left_anti")
        .select(
            "c_custkey",
            F.col("new_seg").alias("c_mktsegment"),
            F.col("new_bal").alias("c_acctbal"),
            eff.alias("valid_from"),
            F.lit(None).cast("date").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    out = untouched.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        "valid_from", "valid_to", "is_current",
    )
    return out.unionByName(closed).unionByName(fresh).unionByName(inserted)


@register("stream_scd2_apply")
def stream_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 maintenance — the incremental twin of the batch
    ``merge_scd2`` (operators/pipeline.py): a CDC stream of dimension
    changes arrives in micro-batches and each batch closes the current
    version / inserts the new one against a persistent history store,
    with change detection against the STORE's current row (not the
    batch's own before-image — the store is the source of truth once
    the stream is live).

    Exactly-once: the store is versioned by batch_id (v{id+1} derives
    from v{id}), so a replayed batch rebuilds its own version instead
    of double-closing rows — the offset-ledger idempotence recipe.  At
    scale the store is a MERGE INTO target behind ``sink_txn_log``'s
    REPLACE commit; history rows are only ever produced by projection.

    The equivalence test (tests/test_streaming.py) asserts the final
    history is row-identical to the one-shot batch ``merge_scd2`` —
    valid because the change chunks partition the keys, so incremental
    application cannot interleave versions of one key."""
    eff = F.lit("1998-01-01").cast("date")
    origin = F.lit("1992-01-01").cast("date")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    changes = c.where(
        (F.col("c_custkey") % 5 == 0) | (F.col("c_custkey") % 7 == 0)
    ).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("MACHINERY"))
        .otherwise(F.col("c_mktsegment"))
        .alias("new_seg"),
        F.when(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0)
        .otherwise(F.col("c_acctbal"))
        .alias("new_bal"),
    )
    # Stage the CDC batch as 3 key-partitioned chunk files -> 3
    # micro-batches under maxFilesPerTrigger=1.
    cdc_dir = scratch_path("scd2_cdc_")
    for m in range(3):
        changes.where(F.col("c_custkey") % 3 == m).coalesce(1).write.mode(
            "append"
        ).parquet(cdc_dir)
    store = scratch_path("scd2_store_")
    c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        origin.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    ).write.parquet(f"{store}/v0")

    def _latest(before: int | None = None) -> str:
        vs = sorted(
            int(d[1:]) for d in os.listdir(store) if d.startswith("v")
        )
        if before is not None:
            vs = [v for v in vs if v < before]
        return f"{store}/v{vs[-1]}"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        hist = spark.read.parquet(_latest(before=batch_id + 1))
        scd2_merge_batch(hist, batch_df, eff).write.mode(
            "overwrite"
        ).parquet(f"{store}/v{batch_id + 1}")

    src = (
        spark.readStream.schema("c_custkey long, new_seg string, new_bal double")
        .option("maxFilesPerTrigger", "1")
        .parquet(cdc_dir)
    )
    q = (
        src.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch_path("ckpt_"))
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(_latest()).orderBy("c_custkey", "valid_from")


@register("stream_rate_limit")
def stream_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backpressure: maxFilesPerTrigger=1 (the file-source analogue of
    Kafka maxOffsetsPerTrigger [K]) bounds every micro-batch; the result
    proves the 4-chunk input ran as 4 single-file batches."""
    src = read_event_stream(
        spark, stage_stream_dir(spark, sf_dir), max_files_per_trigger=1
    )
    tagged = src.select(
        F.col("event_id"), F.spark_partition_id().alias("part")
    )
    batches: list[tuple[int, int]] = []

    def count_batch(df: DataFrame, batch_id: int) -> None:
        batches.append((batch_id, df.count()))

    q = (
        tagged.writeStream.foreachBatch(count_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch_path("ckpt_"))
        .start()
    )
    q.awaitTermination()
    return spark.createDataFrame(
        sorted(batches), "batch_id long, n_rows long"
    )


@register("stream_rollup_upsert")
def stream_rollup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized rollup — the streaming twin of batch
    ``rollup_time`` (operators/scale.py): each micro-batch partially
    aggregates its events into (hour, type) deltas and ``foreachBatch``
    MERGEs them into a versioned hourly store; the daily level reads the
    maintained hourly table, never raw events.

    Exactly-once without transactions: store version == batch_id, so a
    replayed batch overwrites its own version instead of double-counting
    (same idempotence recipe as the offset ledger, offsets.py).  At scale
    the store is a Delta/Iceberg MERGE INTO target; the versioned-dir
    parquet store keeps identical semantics with plain files.

    The equivalence test (tests/test_streaming.py) asserts the final
    daily frame is byte-identical to the one-shot batch rollup.
    """
    src = read_event_stream(
        spark, stage_stream_dir(spark, sf_dir), max_files_per_trigger=1
    )
    store = scratch_path("sskos_rollup_store_")

    def _versions() -> list[str]:
        return sorted(
            d for d in os.listdir(store) if d.startswith("v")
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # Aggregate INSIDE foreachBatch: a streaming-side aggregation in
        # update mode would emit *cumulative* state rows, and merging
        # those into the store double-counts.  Here batch_df is raw batch
        # events, so this aggregate is a true per-batch delta.
        k = F.get_json_object("props", "$.k").cast("int")
        batch_df = batch_df.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        ).agg(
            F.count("*").alias("n"),
            F.sum(k.cast("long")).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
        )
        prior = [v for v in _versions() if int(v[1:]) < batch_id]
        merged = batch_df
        if prior:
            existing = spark.read.parquet(os.path.join(store, prior[-1]))
            merged = (
                existing.unionByName(batch_df)
                .groupBy("hour", "event_type")
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("sum_k").alias("sum_k"),
                    F.min("min_k").alias("min_k"),
                    F.max("max_k").alias("max_k"),
                )
            )
        merged.write.mode("overwrite").parquet(
            os.path.join(store, f"v{batch_id:06d}")
        )

    q = (
        src.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch_path("ckpt_"))
        .start()
    )
    q.awaitTermination()
    hourly = spark.read.parquet(os.path.join(store, _versions()[-1]))
    return (
        hourly.groupBy(
            F.date_trunc("day", "hour").cast("date").alias("day"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("sum_k").alias("sum_k"),
            F.min("min_k").alias("min_k"),
            F.max("max_k").alias("max_k"),
        )
        .orderBy("day", "event_type")
    )


@register("stream_dedup_corpus")
def stream_dedup_corpus(
    spark: SparkSession,
    sf_dir: str,
    *,
    use_bloom: bool = False,
    emit: str = "agg",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Dedup an incoming stream against a STATIC historical corpus — the
    LLM-ingestion shape: drop records whose fingerprint already exists in
    the ingested-corpus ledger, keep only genuinely new ones.

    Here the ledger is the subset of event ids ≡ 0 (mod 3) ("already
    ingested"); the stream left-anti-joins it per micro-batch.  Contrast
    with ``stream_dedup`` (within-stream retransmission dedup, watermark
    state): corpus dedup needs NO stream state at all — the static side
    is broadcast per micro-batch, so nothing accumulates.

    At 100 TB the ledger does not broadcast; the production forms, in
    preference order: (1) a bloom filter built offline from the ledger,
    broadcast (bits, not rows) with exact anti-join only on bloom hits —
    IMPLEMENTED here behind ``use_bloom=True`` via operators/bloom.py
    (definite misses are admitted without touching the ledger join;
    only maybe-ingested rows reach the exact anti-join; output proven
    identical to the plain path in tests/test_bloom.py); (2) a bucketed
    storage-backed anti-join co-partitioned with the stream's shuffle.
    The micro-batch plan shape is otherwise identical.

    Measured recall (r14 — VERDICT r13 #4, mirroring the lexical dedup
    family): ``emit="records"`` returns the admitted records themselves
    (append mode) instead of the per-type rollup, and
    ``max_files_per_trigger=1`` forces one staged chunk per micro-batch,
    so planted already-ingested ids spread across micro-batches get
    per-record end-to-end hit/miss accounting — drop recall (every
    ledger id rejected) and admit recall (every fresh id admitted
    exactly once) are LAWS, gated bloom-on and bloom-off by
    tests/test_bloom.py::test_stream_dedup_corpus_planted_recall_laws
    and measured at sf0.1 with bloom FP attribution by
    tools/probe_streamdedup.py (BENCH_streamdedup.json).  The bloom
    path cannot lose a duplicate by construction (no false negatives:
    a real ledger id always probes maybe_present and dies in the exact
    anti-join), so recall below 1.0 would mean a wiring bug, not a
    sketch trade-off — exactly why it is a law test, not a curve."""
    src = read_event_stream(
        spark, stage_stream_dir(spark, sf_dir), max_files_per_trigger
    )
    ledger_df = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") % 3 == 0)
        .select(F.col("event_id").alias("ingested_id"))
    )
    if use_bloom:
        from ..operators.bloom import bloom_anti_join

        fresh = bloom_anti_join(src, "event_id", ledger_df, "ingested_id")
    else:
        fresh = src.join(
            F.broadcast(ledger_df), src.event_id == F.col("ingested_id"),
            "left_anti",
        )
    if emit == "records":
        out = run_to_completion(
            fresh.select("event_id", "event_type"),
            "stream_dedup_corpus_records",
            "append",
        )
        return out.orderBy("event_id")
    agg = fresh.groupBy("event_type").agg(F.count("*").alias("n_new"))
    out = run_to_completion(agg, "stream_dedup_corpus", "complete")
    return out.orderBy("event_type")


#: staged embedding-stream cache (mirrors _STAGE_CACHE for events): every
#: streaming query re-uses the same immutable staged copy per sf_dir.
_EMBED_STAGE_CACHE: dict[tuple[str, int], str] = {}

EMBED_STREAM_SCHEMA = "vec_id long, embedding array<float>, label int"


def stage_embed_stream_dir(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> str:
    """Chunk ``embeddings`` into ``n_chunks`` parquet files (chunk i =
    rows with vec_id % n == i) under a temp dir with increasing mtimes —
    the embedding-ingestion stand-in for a Kafka vector topic, exactly
    the `stage_stream_dir` recipe on the vector table."""
    cache_key = (sf_dir, n_chunks)
    cached = _EMBED_STAGE_CACHE.get(cache_key)
    if cached is not None and os.path.isdir(cached):
        return cached
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding", "label"],
    )
    mod = pc.subtract(
        tbl["vec_id"],
        pc.multiply(pc.divide(tbl["vec_id"], n_chunks), n_chunks),
    )
    stream_dir = scratch_path("sskos_embstream_")
    for i in range(n_chunks):
        dest = os.path.join(stream_dir, f"{i:04d}.parquet")
        pq.write_table(tbl.filter(pc.equal(mod, i)), dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
    _EMBED_STAGE_CACHE[cache_key] = stream_dir
    return stream_dir


#: Cell scale for the streaming semantic-admission blocking grid:
#: floor(coord · scale) buckets the first two embedding coordinates
#: into 1/scale-wide cells.  Exact duplicates and identical-leading-
#: coordinate twins share their cell BY CONSTRUCTION (integer floor of
#: the same double), which is what makes the planted-recall pytest a
#: LAW; the production analogue is an IVF cell id.  τ reuses the
#: SemDeDup threshold (functions/similarity._SD_TAU_E5) so the
#: admission rule is exercised on the fixture corpus (max pairwise
#: cosine ≈0.49), not vacuous.
#:
#: The (scale, radius) posture is MEASURED, not guessed
#: (tools/probe_streamsemdedup_20k.py → BENCH_streamsemdedup20k.json):
#: a near-duplicate at cosine c perturbs each blocking coordinate by
#: ~sqrt(1-c²)/sqrt(dim), so the first-cut scale-50/radius-0 posture
#: (exact single-cell match) measured drop recall 0.62 at c=0.999 and
#: ~0.1 at c=0.95 on isotropic twins — boundary crossing the
#: identical-coordinate law test is structurally blind to.  Each
#: reference therefore REGISTERS in its (2r+1)² cell neighborhood
#: (IVF multi-assignment on the build side — the r13 dedup_semantic
#: multi-probe precedent, mirrored to registration so the streaming
#: probe stays a single equi-join); the shipped default below is the
#: measured knee of the recall-vs-candidate-volume curve.
_SDE_CELL_SCALE = 25
_SDE_REGISTER_RADIUS = 1


@register("stream_dedup_embed")  # rows-only: streaming (batch-equivalence + planted-recall pytests)
def stream_dedup_embed(
    spark: SparkSession,
    sf_dir: str,
    *,
    emit: str = "agg",
    max_files_per_trigger: int | None = None,
    cell_scale: int = _SDE_CELL_SCALE,
    register_radius: int = _SDE_REGISTER_RADIUS,
) -> DataFrame:
    """Streaming SEMANTIC admission — the embedding twin of
    `stream_dedup_corpus` (r14, the VERDICT r13 thin-seam item): an
    incoming vector stream is deduped against a STATIC already-ingested
    reference corpus by τ-cosine, so a paraphrase whose text fingerprint
    is new but whose embedding the corpus already covers is rejected at
    ingestion time.  Zero stream state: the reference is static per
    micro-batch, nothing accumulates (contrast `stream_dedup`'s
    watermark state).

    Semantics: incoming vector v is DROPPED iff some reference vector r
    (vec_id ≡ 0 mod 3 — the ingested-ledger rule shared with
    `stream_dedup_corpus`) is REGISTERED in v's blocking cell (floor of
    the first two coordinates at ``cell_scale``; each reference
    registers in its (2·``register_radius``+1)² cell neighborhood — the
    IVF multi-assignment trick) and has floor-1e-5 cosine ≥ τ = 0.40.
    A replayed reference record drops on its own self-match (identical
    vector ⇒ same cell, cosine ≈ 1), so exact replays and τ-paraphrases
    die by the SAME rule — no separate id path.

    ``emit="agg"`` (default) returns per-label admitted counts;
    ``emit="records"`` returns the admitted records themselves (append
    mode) for per-record hit/miss accounting, and
    ``max_files_per_trigger=1`` forces one staged chunk per micro-batch
    — the measured-recall hooks, mirroring `stream_dedup_corpus`.

    Exactness/recall evidence (rows-only — streaming):
    tests/test_streaming.py gates batch-twin equality (the identical
    neighborhood-registered anti-join over the static table) and the
    planted laws: identical-leading-coordinate twins share the cell BY
    CONSTRUCTION and a just-across-the-boundary twin is covered by the
    radius-1 registration BY CONSTRUCTION, so both MUST drop across
    micro-batches, while orthogonal newcomers are admitted.  MEASURED
    recall on isotropic twins (the honest geometry the laws cannot
    pin): tools/probe_streamsemdedup_20k.py sweeps (scale, radius)
    postures end-to-end against float64 brute-force truth →
    BENCH_streamsemdedup20k.json; the default posture is the measured
    knee (the first-cut exact-single-cell posture measured 0.62 drop
    recall at cosine 0.999 — see _SDE_CELL_SCALE).  Recall decays
    toward τ-adjacent bands by the same grid geometry dedup_semantic
    documents for its cluster scoping: 2-coordinate blocking cannot
    meet a cosine-0.45 paraphrase, by design.

    Scale notes: the join stays cell-equi-keyed — per micro-batch each
    incoming vector meets only its cell's REGISTERED reference
    occupancy ((2r+1)²× the raw occupancy; IVF-cell economics, never
    all-pairs; the 2-coordinate grid is the scaled stand-in for a
    k-means cell id, where multi-assignment costs (r+1)× not (2r+1)²×).
    The reference side here rides the stream-static broadcast like
    `stream_dedup_corpus`; at 100 TB the reference does not broadcast —
    the production forms, in preference order: (1) per-cell
    centroid/bloom prefilter broadcast (bits, not vectors — registered
    cells only inflate the bit count) with the exact cosine join only
    on cell hits, (2) a bucketed reference table co-partitioned on
    registered cell id with the stream's shuffle.  The micro-batch
    plan shape is identical."""
    from ..functions.similarity import _SD_TAU_E5, dot

    reader = spark.readStream.schema(EMBED_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    src = reader.parquet(stage_embed_stream_dir(spark, sf_dir))

    def cell(col: str, i: int):
        return (
            F.floor(
                F.element_at(col, i).cast("double") * cell_scale
            ).cast("long")
        )

    offsets = F.array(
        *[F.lit(d) for d in range(-register_radius, register_radius + 1)]
    )
    ref = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") % 3 == 0)
        .select(
            F.col("embedding").alias("ref_emb"),
            cell("embedding", 1).alias("rc1"),
            cell("embedding", 2).alias("rc2"),
        )
        .withColumn("dx", F.explode(offsets))
        .withColumn("dy", F.explode(offsets))
        .select(
            "ref_emb",
            (F.col("rc1") + F.col("dx")).alias("rc1"),
            (F.col("rc2") + F.col("dy")).alias("rc2"),
        )
    )
    probe = src.withColumn("c1", cell("embedding", 1)).withColumn(
        "c2", cell("embedding", 2)
    )
    cos_e5 = F.floor(dot(F.col("embedding"), F.col("ref_emb")) * 100000).cast(
        "long"
    )
    fresh = probe.join(
        F.broadcast(ref),
        (F.col("c1") == F.col("rc1"))
        & (F.col("c2") == F.col("rc2"))
        & (cos_e5 >= _SD_TAU_E5),
        "left_anti",
    )
    if emit == "records":
        out = run_to_completion(
            fresh.select("vec_id", "label"),
            "stream_dedup_embed_records",
            "append",
        )
        return out.orderBy("vec_id")
    agg = fresh.groupBy("label").agg(F.count("*").alias("n_admitted"))
    out = run_to_completion(agg, "stream_dedup_embed", "complete")
    return out.select(
        F.col("label").cast("long").alias("label"),
        F.col("n_admitted").cast("long").alias("n_admitted"),
    ).orderBy("label")



@register("stream_topk_windowed")  # rows-only: streaming (batch-equivalence pytest)
def stream_topk_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed top-k: the 3 most frequent event types per
    6-hour tumbling window, maintained incrementally — the live
    "trending items" rollup (per-window heavy hitters served while the
    stream runs).

    Split exactly like production leaderboards: the STREAM maintains the
    additive part (per-(window, type) counts — mergeable state, safe in
    a streaming agg), and the RANK runs on the aggregate at read time
    (a per-window top-k over |windows|×|types| rows, never over raw
    events; rank is not incrementally maintainable without re-emitting a
    whole window on every overtake, so pushing it stream-side buys
    nothing).  Ties break on event_type for determinism.

    Scale notes: state is one counter per (window, type) — bounded by
    the domain, not the stream; with a production watermark the window
    count also stays bounded (omitted here so the batch-equivalence
    test is exact over unordered file arrival, cf. stream_watermark for
    the drop semantics).  The serving rank partitions by window — no
    global sort."""
    src = read_event_stream(spark, stage_stream_dir(spark, sf_dir))
    agg = src.groupBy(
        F.window("ts", "6 hours").alias("win"), "event_type"
    ).agg(F.count("*").alias("n"))
    out = run_to_completion(agg, "stream_topk_windowed", "complete")
    w = Window.partitionBy("win").orderBy(F.col("n").desc(), "event_type")
    return (
        out.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("window_start", "rank")
    )


@register("stream_cdc_apply")  # rows-only: streaming (batch-equivalence pytest)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: a stream of keyed upserts and deletes
    folded into a materialized current-state table — the Debezium/Delta
    `MERGE` consumption pattern (op = delete for 'error' events, else
    upsert of the user's latest value; ordering key = (ts, event_id)).

    Exactly-once via the versioned-store recipe (cf.
    `stream_rollup_upsert`): each batch merges prior state with its own
    ops by `max_by` over the ordering key, writes store version ==
    batch_id, so a replayed batch overwrites itself.  Deletes are kept
    as TOMBSTONES inside the store (filtered only at read time): a
    delete must keep suppressing earlier upserts on replay/compaction,
    and a later upsert must beat the tombstone by ordering key — the
    same reason log-compacted topics and LSM trees keep deletion
    markers.

    Scale notes: per-batch work is one partial+final `max_by` agg on
    the batch's keys plus a key-partitioned merge with the store; state
    is one row per live key (+ tombstones until compaction), never
    event-sized.  At 100 TB the store is a Delta/Iceberg MERGE target;
    semantics here are identical over plain parquet versions."""
    src = read_event_stream(
        spark, stage_stream_dir(spark, sf_dir), max_files_per_trigger=1
    )
    store = scratch_path("sskos_cdc_store_")

    def _versions() -> list[str]:
        return sorted(d for d in os.listdir(store) if d.startswith("v"))

    def apply_cdc(batch_df: DataFrame, batch_id: int) -> None:
        ops = batch_df.select(
            "user_id",
            "ts",
            "event_id",
            F.col("value").alias("value"),
            (F.col("event_type") == "error").alias("is_delete"),
        )
        latest = ops.groupBy("user_id").agg(
            F.max_by(
                F.struct("ts", "event_id", "value", "is_delete"),
                F.struct("ts", "event_id"),
            ).alias("st")
        )
        prior = [v for v in _versions() if int(v[1:]) < batch_id]
        merged = latest
        if prior:
            existing = spark.read.parquet(os.path.join(store, prior[-1]))
            merged = (
                existing.unionByName(latest)
                .groupBy("user_id")
                .agg(
                    F.max_by(
                        "st", F.struct(F.col("st.ts"), F.col("st.event_id"))
                    ).alias("st")
                )
            )
        merged.write.mode("overwrite").parquet(
            os.path.join(store, f"v{batch_id:06d}")
        )

    q = (
        src.writeStream.foreachBatch(apply_cdc)
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch_path("ckpt_"))
        .start()
    )
    q.awaitTermination()
    state = spark.read.parquet(os.path.join(store, _versions()[-1]))
    return (
        state.where(~F.col("st.is_delete"))
        .select(
            "user_id",
            F.col("st.ts").alias("ts"),
            F.col("st.event_id").alias("event_id"),
            F.col("st.value").alias("value"),
        )
        .orderBy("user_id")
    )


@register("stream_watermark_metrics")  # rows-only: runtime observability
def stream_watermark_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark observability: run the late-data staged stream through a
    watermarked windowed count and surface the engine's own progress
    metrics — rows dropped by the watermark, state rows, batches — as a
    queryable DataFrame.  This is the `kafka-consumer-groups`-style
    monitoring surface for event-time correctness: a production job
    alerts on `rows_dropped_by_watermark` (data loss by lateness) long
    before anyone inspects results (the metric twin of
    `stream_watermark`'s semantic drop test).

    Scale notes: metrics come from StreamingQueryProgress (driver-side
    JSON the engine already maintains per batch) — zero extra work on
    the data path; the summary is batches-sized."""
    src = read_event_stream(
        spark,
        stage_stream_dir(spark, sf_dir, late_chunk=True),
        max_files_per_trigger=1,
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("win"))
        .agg(F.count("*").alias("n"))
    )
    q = start_memory_query(
        agg, "stream_watermark_metrics_sink", "update", scratch_path("ckpt_")
    )
    q.awaitTermination()
    rows = []
    for p in q.recentProgress:
        ops = p.get("stateOperators") or []
        rows.append(
            (
                int(p["batchId"]),
                int(p.get("numInputRows", 0)),
                sum(int(o.get("numRowsDroppedByWatermark", 0)) for o in ops),
                sum(int(o.get("numRowsTotal", 0)) for o in ops),
            )
        )
    return spark.createDataFrame(
        rows,
        "batch_id long, input_rows long, rows_dropped_by_watermark long, "
        "state_rows long",
    ).orderBy("batch_id")


@register("stream_autoscale_signal")  # rows-only: runtime observability
def stream_autoscale_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backpressure-driven autoscale signal: per micro-batch, input rate
    vs processing rate from StreamingQueryProgress, folded into the
    scale decision an autoscaler would take (UP when the consumer
    processes slower than data arrives, DOWN when capacity is > 2×
    demand, HOLD otherwise) — the feedback loop behind every streaming
    autoscaler, derived from metrics the engine already keeps
    (`maxFilesPerTrigger` here plays Kafka's `maxOffsetsPerTrigger`
    backpressure bound [K]).

    Scale notes: pure driver-side progress JSON, zero data-path cost;
    the decision table is batches-sized."""
    src = read_event_stream(
        spark, stage_stream_dir(spark, sf_dir), max_files_per_trigger=1
    )
    agg = src.groupBy("event_type").agg(F.count("*").alias("n"))
    q = start_memory_query(
        agg, "stream_autoscale_sink", "complete", scratch_path("ckpt_")
    )
    q.awaitTermination()
    rows = []
    for p in q.recentProgress:
        in_rate = float(p.get("inputRowsPerSecond") or 0.0)
        proc_rate = float(p.get("processedRowsPerSecond") or 0.0)
        decision = (
            "up"
            if proc_rate < in_rate
            else ("down" if proc_rate > 2 * in_rate and in_rate > 0 else "hold")
        )
        rows.append(
            (
                int(p["batchId"]),
                int(p.get("numInputRows", 0)),
                round(in_rate, 2),
                round(proc_rate, 2),
                decision,
            )
        )
    return spark.createDataFrame(
        rows,
        "batch_id long, input_rows long, input_rate double, "
        "process_rate double, decision string",
    ).orderBy("batch_id")


def dlq_mangle(df: DataFrame) -> DataFrame:
    """Deterministic damage injection shared by `stream_dlq_split` and its
    batch-equivalence test (the fixture stream is clean; per repo
    discipline the reject path must be exercised, not assumed): every
    event_id ≡ 0 (mod 7) gets its props truncated mid-JSON, and every
    event_id ≡ 0 (mod 11) not already mangled gets a negated value."""
    return df.withColumn(
        "props",
        F.when(
            F.col("event_id") % 7 == 0, F.substring("props", 1, 5)
        ).otherwise(F.col("props")),
    ).withColumn(
        "value",
        F.when(
            (F.col("event_id") % 11 == 0) & (F.col("event_id") % 7 != 0),
            -F.abs("value") - 1.0,
        ).otherwise(F.col("value")),
    )


def dlq_reason(df: DataFrame) -> DataFrame:
    """Validation rules as a reason column (null = valid) — the shared
    contract between the streaming router and the batch twin.  Rule
    order is the triage order: parse errors first, then domain checks."""
    k = F.get_json_object("props", "$.k")
    return df.withColumn(
        "dlq_reason",
        F.when(k.isNull() | k.cast("int").isNull(), F.lit("malformed_props"))
        .when(F.col("value") < 0, F.lit("negative_value"))
        .otherwise(F.lit(None).cast("string")),
    )


@register("stream_dlq_split")
def stream_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue routing — the ingestion pattern every production
    Kafka consumer ships [K]: per micro-batch, validate each record and
    route it to the MAIN sink or the DLQ sink (with a reason column)
    inside ONE foreachBatch, so a poison record never stalls the
    pipeline and never silently disappears.  This two-sink split is the
    canonical reason foreachBatch exists (a writeStream has exactly one
    sink; the batch hook can have N).

    Exactly-once: each sink writes ``batch=<id>`` directories with
    mode=overwrite, so a replayed batch overwrites its own output
    instead of appending duplicates — the same store-version==batch_id
    idempotence recipe as `stream_rollup_upsert` and the offset ledger.
    At 100 TB both sinks are transactional tables (`sink_txn_log`'s
    protocol); the routing plan itself is scan-side codegen — one
    `get_json_object` + comparisons, no shuffle before the writes.

    Returns the reconciliation report: rows per (route, reason) read
    back from the two sinks.  The pytest twin asserts route counts
    equal the one-shot batch formulation via the SHARED mangle/validate
    helpers, total row conservation, and that both reject reasons are
    non-vacuous."""
    src = read_event_stream(
        spark, stage_stream_dir(spark, sf_dir), max_files_per_trigger=2
    )
    checked = dlq_reason(dlq_mangle(src))
    valid_dir = scratch_path("sskos_dlq_valid_")
    dlq_dir = scratch_path("sskos_dlq_dead_")

    def route(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            batch_df.where(F.col("dlq_reason").isNull()).drop(
                "dlq_reason"
            ).write.mode("overwrite").parquet(f"{valid_dir}/batch={batch_id}")
            batch_df.where(F.col("dlq_reason").isNotNull()).write.mode(
                "overwrite"
            ).parquet(f"{dlq_dir}/batch={batch_id}")
        finally:
            batch_df.unpersist()

    q = (
        checked.writeStream.foreachBatch(route)
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch_path("ckpt_dlq_"))
        .start()
    )
    q.awaitTermination()
    valid = spark.read.parquet(valid_dir).select(
        F.lit("valid").alias("route"), F.lit("ok").alias("reason")
    )
    dead = spark.read.parquet(dlq_dir).select(
        F.lit("dlq").alias("route"), F.col("dlq_reason").alias("reason")
    )
    return (
        valid.unionAll(dead)
        .groupBy("route", "reason")
        .agg(F.count("*").cast("long").alias("n_rows"))
        .orderBy("route", "reason")
    )


@register("stream_backfill_stitch")
def stream_backfill_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch backfill + streaming forward-fill stitched at an offset
    cutover — the Kappa-architecture bootstrap every offset-managed
    pipeline [K] performs when it starts consuming a topic that also
    has historical data in the lake: one BATCH pass over history up to
    cutover offset C, a STREAM from C forward, and a stitch that must
    be exactly the full-history answer (hours spanning the cutover are
    completed by re-aggregating partial states, which is why the rollup
    carries decomposable counts, not finished ratios).

    The cutover here is the event_id range boundary after the first two
    of four range-staged chunks (a true high-watermark, cf.
    `_range_chunked_stream_dir`); the stream side reads ONLY the
    post-cutover files and still goes through a real micro-batch
    pipeline.  The pytest twin asserts the stitched hourly rollup is
    row-identical to the one-shot batch rollup over the whole table —
    the no-seam guarantee that makes backfill+stream swaps safe.

    Scale notes: history is one batch scan with the cutover as a
    pushed-down id filter; the stream carries only post-cutover data;
    the stitch re-aggregates two (hour × type)-sized partials — never
    facts.  At 100 TB the batch side reads the lake, the stream side
    Kafka-from-offset-C, and the stitch is this exact merge."""
    import os
    import shutil

    from .offsets import _range_chunked_stream_dir

    chunks = _range_chunked_stream_dir(spark, sf_dir, n_chunks=4)
    names = sorted(os.listdir(chunks))
    cutover = (
        spark.read.parquet(*[os.path.join(chunks, n) for n in names[:2]])
        .agg(F.max("event_id"))
        .first()[0]
    )
    hourly = lambda df: df.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count("*").alias("n"))

    batch_part = hourly(
        load_table(spark, sf_dir, "events").where(F.col("event_id") <= cutover)
    )
    fwd_dir = scratch_path("sskos_fwd_")
    for n in names[2:]:
        shutil.copytree(os.path.join(chunks, n), os.path.join(fwd_dir, n))
    stream_part = hourly(
        read_event_stream(spark, fwd_dir, max_files_per_trigger=1)
    )
    streamed = run_to_completion(
        stream_part, "backfill_fwd", "complete", checkpoint=scratch_path("ckpt_bf_")
    )
    return (
        batch_part.unionAll(streamed.select("hour", "event_type", "n"))
        .groupBy("hour", "event_type")
        .agg(F.sum("n").cast("long").alias("n_events"))
        .orderBy("hour", "event_type")
    )


@register("stream_cms_merge")
def stream_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min sketch maintenance — the frequency sketch as
    an incrementally-maintained store: each micro-batch computes its
    OWN d=4 × w=64 partial CMS of per-user event counts (identical
    md5-derived cell coordinates to batch `agg_countmin_heavyhitters`,
    operators/scale.py), and ``foreachBatch`` merges it into a
    versioned cell store by pure cell-wise addition — the CMS semigroup
    law.  Store version == batch_id gives replay idempotence (the
    offset-ledger recipe), and because cells add, the final store is
    EXACTLY the batch CMS of the full corpus — pinned byte-for-byte by
    tests/test_streaming.py::test_stream_cms_equals_batch_cms.

    At 100 TB this is the live heavy-hitter monitor: 256 int64 cells of
    state per partition-merge regardless of corpus size, and the
    estimate path (min over a key's 4 cells) reads the maintained
    store, never raw history."""
    src = read_event_stream(
        spark, stage_stream_dir(spark, sf_dir), max_files_per_trigger=1
    )
    store = scratch_path("sskos_cms_store_")

    def _versions() -> list[str]:
        return sorted(d for d in os.listdir(store) if d.startswith("v"))

    def coord_expr():
        return F.pmod(
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
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        part = (
            batch_df.select(
                "user_id",
                F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
            )
            .groupBy("i", coord_expr().alias("cell"))
            .agg(F.count(F.lit(1)).alias("total"))
        )
        prior = [v for v in _versions() if int(v[1:]) < batch_id]
        merged = part
        if prior:
            existing = spark.read.parquet(os.path.join(store, prior[-1]))
            merged = (
                existing.unionByName(part)
                .groupBy("i", "cell")
                .agg(F.sum("total").alias("total"))
            )
        merged.write.mode("overwrite").parquet(
            os.path.join(store, f"v{batch_id:06d}")
        )

    q = (
        src.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch_path("ckpt_"))
        .start()
    )
    q.awaitTermination()
    cells = spark.read.parquet(os.path.join(store, _versions()[-1]))
    return cells.select(
        F.col("i").cast("long").alias("i"),
        F.col("cell").cast("long").alias("cell"),
        F.col("total").cast("long").alias("total"),
    ).orderBy("i", "cell")


@register("stream_temporal_dim_join")
def stream_temporal_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ SCD2 dimension AS OF EVENT TIME — the streaming twin of
    `join_temporal_dim`: each event joins the user-tier version whose
    [valid_from, valid_to) interval contains the EVENT's timestamp, not
    the version current at processing time.  This is the enrichment
    mistake most streaming pipelines ship (current-state lookup
    misattributes every event that arrives after a dimension change);
    the op quantifies it by aggregating per (as-of tier, event type).

    The synthetic SCD2 history is deterministically derived: every
    user_id % 3 == 0 upgrades 'base' → 'plus' effective 2024-01-15 —
    mid-range of the fixture's one-month event span, so both versions
    of changed users get traffic and the comparison is non-vacuous.

    Scale notes: the dimension history is a STATIC broadcast side
    (versions-per-key rows; no stream state at all — the cheapest
    temporal enrichment shape), joined on the user key with the
    interval containment as a residual filter; each event matches
    exactly one version, so no fanout.  The rollup runs in complete
    mode on the tier×type frame.  Batch-equivalence against the same
    join expressed in one batch query is pinned by
    tests/test_streaming.py::test_stream_temporal_dim_join_equals_batch."""
    src = read_event_stream(spark, stage_stream_dir(spark, sf_dir))
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    origin = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    eff = F.lit("2024-01-15 00:00:00").cast("timestamp_ntz")
    forever = F.lit("9999-12-31 00:00:00").cast("timestamp_ntz")
    changed = users.where(F.col("user_id") % 3 == 0)
    hist = (
        users.where(F.col("user_id") % 3 != 0)
        .select(
            "user_id",
            F.lit("base").alias("tier"),
            origin.alias("valid_from"),
            forever.alias("valid_to"),
        )
        .unionAll(
            changed.select(
                "user_id",
                F.lit("base").alias("tier"),
                origin.alias("valid_from"),
                eff.alias("valid_to"),
            )
        )
        .unionAll(
            changed.select(
                "user_id",
                F.lit("plus").alias("tier"),
                eff.alias("valid_from"),
                forever.alias("valid_to"),
            )
        )
        .withColumnRenamed("user_id", "d_user")
    )
    joined = src.join(
        F.broadcast(hist),
        (src.user_id == F.col("d_user"))
        & (src.ts >= F.col("valid_from"))
        & (src.ts < F.col("valid_to")),
        "inner",
    )
    agg = joined.groupBy("tier", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    out = run_to_completion(agg, "stream_temporal_dim_join", "complete")
    return out.orderBy("tier", "event_type")
