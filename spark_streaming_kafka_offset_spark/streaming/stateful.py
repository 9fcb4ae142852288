"""§2.9 ``stream_stateful`` — arbitrary per-key streaming state, the
``updateStateByKey``/``mapWithState`` successor [K] (SURVEY.md; mirror
empty §0).

Two implementations of the same running-per-user-stats contract:

* :func:`running_user_stats_tws` — Spark 4's
  ``transformWithStateInPandas`` (typed named state, timers, TTL).  Its
  driver-side planning worker imports ``google.protobuf``, which is
  **broken in this environment** (verified: ``ImportError: cannot import
  name 'descriptor'`` from the TWS driver worker; no pip available), so
  this path is written, gated on a protobuf probe, and NOT the default.
* :func:`running_user_stats` — ``applyInPandasWithState`` (Arrow-based,
  no protobuf dependency): the registered, tested path.

Both keep O(1) state per key; the state store is executor-local and
checkpointed, so keyspace scales with the cluster, not the driver heap.
Production deployments add a timeout/TTL so state is evicted — the
100 TB rule that every stateful operator needs an eviction story.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from ..plans.registry import register
from .core import read_event_stream, run_to_completion, stage_stream_dir

from ..common import scratch_path

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double, n_purchases long"
STATE_SCHEMA = "n_events long, total_value double, n_purchases long"


def _update_user_stats(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for one user into the running counters and
    emit the updated snapshot (Arrow-batched; one state row per key)."""
    if state.exists:
        n, total, purchases = state.get
    else:
        n, total, purchases = 0, 0.0, 0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        purchases += int((pdf["event_type"] == "purchase").sum())
    state.update((n, total, purchases))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 2)],
            "n_purchases": [purchases],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Running per-user stats via ``applyInPandasWithState`` (the
    protobuf-free stateful API — see module docstring)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _tws_available() -> bool:
    """transformWithStateInPandas needs a working google.protobuf in the
    TWS driver worker; probe it the same way that worker imports it."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_user_stats_tws(events: DataFrame) -> DataFrame:
    """The forward API (Spark 4 ``transformWithStateInPandas``): same
    semantics as :func:`running_user_stats` plus named states/timers/TTL.
    Raises a clear error where protobuf is unusable instead of crashing
    the streaming query at plan time."""
    if not _tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires google.protobuf, which is "
            "not importable in this environment; use running_user_stats() "
            "(applyInPandasWithState) instead."
        )
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningUserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("stats", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            prev = self._state.get()
            n, total, purchases = prev if prev is not None else (0, 0.0, 0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                purchases += int((pdf["event_type"] == "purchase").sum())
            self._state.update((n, total, purchases))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 2)],
                    "n_purchases": [purchases],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningUserStats(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


@register("stream_stateful")
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats over the events stream (multi-batch: one
    file per trigger, so state actually carries across batches).  The
    final snapshot per user equals the batch groupBy answer — asserted
    in tests/test_streaming.py."""
    src = read_event_stream(
        spark, stage_stream_dir(spark, sf_dir), max_files_per_trigger=2
    )
    out = running_user_stats(src)
    result = run_to_completion(
        out, "stream_stateful", "update", checkpoint=scratch_path("ckpt_")
    )
    # Keep the latest (max n_events) snapshot per user.
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    )
    return (
        result.withColumn("rn", w).where(F.col("rn") == 1).drop("rn").orderBy("user_id")
    )

# ---------------------------------------------------------------------------
# Streaming sequence packing: the batch pack_sequences contract maintained
# incrementally over a document stream.
# ---------------------------------------------------------------------------

PACK_OUT_SCHEMA = "source string, shard long, n_docs long, shard_tokens long"
PACK_STATE_SCHEMA = "cum long, cur_shard long, cur_docs long, cur_tokens long"


def _pack_update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Fold this batch's (doc_id-ordered) docs for one source into the
    running token cursor; emit the latest totals of every shard touched.

    State is O(1) per source: the token cursor plus the current
    (possibly still-open) shard's partial totals — closed shards never
    return, so their final row has already been emitted and the memory
    sink's latest-row-per-shard view converges to the batch answer."""
    from ..functions.training import _SHARD_BUDGET

    cum, cur_shard, cur_docs, cur_tokens = (
        state.get if state.exists else (0, -1, 0, 0)
    )
    touched: dict[int, tuple[int, int]] = {}
    if cur_shard >= 0:
        touched[cur_shard] = (cur_docs, cur_tokens)
    batch = pd.concat(list(pdfs)).sort_values("doc_id")
    for n_tok in batch["n_tokens"].astype(int):
        shard = cum // _SHARD_BUDGET
        d, t = touched.get(shard, (0, 0))
        touched[shard] = (d + 1, t + n_tok)
        cum += n_tok
    last = max(touched)
    state.update((int(cum), int(last), *map(int, touched[last])))
    yield pd.DataFrame(
        {
            "source": [key[0]] * len(touched),
            "shard": list(touched),
            "n_docs": [d for d, _ in touched.values()],
            "shard_tokens": [t for _, t in touched.values()],
        }
    )


def stage_documents_stream_dir(
    spark: SparkSession, sf_dir: str, n_chunks: int = 4
) -> str:
    """Chunk ``documents`` into ``n_chunks`` CONTIGUOUS doc_id ranges
    (sorted, then sliced) with increasing mtimes — arrival order equals
    doc_id order, the precondition packing shares with every
    order-sensitive stream (same discipline as Kafka per-partition
    ordering [K])."""
    import os

    import pyarrow.parquet as pq

    from ..common import scratch_path

    cache_key = (sf_dir, n_chunks, "docs")
    cached = _DOC_STAGE_CACHE.get(cache_key)
    if cached is not None and os.path.isdir(cached):
        return cached
    tbl = pq.read_table(os.path.join(sf_dir, "documents.parquet")).sort_by("doc_id")
    out = scratch_path("sskos_docstream_")
    step = -(-tbl.num_rows // n_chunks)
    for i in range(n_chunks):
        dest = os.path.join(out, f"{i:04d}.parquet")
        pq.write_table(tbl.slice(i * step, step), dest)
        os.utime(dest, (1_700_000_000 + i, 1_700_000_000 + i))
    _DOC_STAGE_CACHE[cache_key] = out
    return out


_DOC_STAGE_CACHE: dict[tuple[str, int, str], str] = {}


@register("stream_pack_shards")
def stream_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sequence packing: the batch ``pack_sequences``
    contract maintained statefully over a document stream — new corpus
    drops extend the LAST open shard per source instead of re-packing
    the world (the only viable shape when the corpus arrives
    continuously).

    Token counting stays JVM-side (scan expression); the Pandas state
    fold only sees (doc_id, n_tokens) ints.  Final snapshot equality
    with batch pack_sequences is asserted in tests/test_streaming.py."""
    stream_dir = stage_documents_stream_dir(spark, sf_dir)
    src = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
        .select(
            "source",
            "doc_id",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
    )
    out = src.groupBy("source").applyInPandasWithState(
        _pack_update,
        outputStructType=PACK_OUT_SCHEMA,
        stateStructType=PACK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = run_to_completion(
        out, "stream_pack_shards", "update", checkpoint=scratch_path("ckpt_")
    )
    w = F.row_number().over(
        Window.partitionBy("source", "shard").orderBy(F.col("n_docs").desc())
    )
    return (
        result.withColumn("rn", w)
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("source", "shard")
    )



# ---------------------------------------------------------------------------
# Online CUSUM drift alarm: the sequential recurrence that REQUIRES
# streaming state (its batch twin is `events_changepoint`, the offline
# split finder — this is the online detector that fires as data arrives).
# ---------------------------------------------------------------------------

CUSUM_MU0 = 8.0   #: reference level (value units)
CUSUM_K = 1.0     #: slack per observation
CUSUM_H = 25.0    #: alarm threshold on either side
CUSUM_OUT_SCHEMA = (
    "event_type string, n_seen long, s_pos double, s_neg double, "
    "n_alarms long"
)
CUSUM_STATE_SCHEMA = "n_seen long, s_pos double, s_neg double, n_alarms long"


def cusum_fold(n_seen: int, s_pos: float, s_neg: float, n_alarms: int, values):
    """The shared fold: identical code runs inside the stateful operator
    and inside the batch-equivalence test — the recurrence IS the
    contract.  Two-sided CUSUM with reset-on-alarm:
    s⁺ ← max(0, s⁺ + (x − μ₀ − k)),  s⁻ ← max(0, s⁻ + (μ₀ − k − x))."""
    for x in values:
        s_pos = max(0.0, s_pos + (float(x) - CUSUM_MU0 - CUSUM_K))
        s_neg = max(0.0, s_neg + (CUSUM_MU0 - CUSUM_K - float(x)))
        n_seen += 1
        if s_pos > CUSUM_H:
            n_alarms += 1
            s_pos = 0.0
        if s_neg > CUSUM_H:
            n_alarms += 1
            s_neg = 0.0
    return n_seen, s_pos, s_neg, n_alarms


def _cusum_update(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n_seen, s_pos, s_neg, n_alarms = (
        state.get if state.exists else (0, 0.0, 0.0, 0)
    )
    batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    n_seen, s_pos, s_neg, n_alarms = cusum_fold(
        n_seen, s_pos, s_neg, n_alarms, batch["value"].to_numpy()
    )
    state.update((int(n_seen), float(s_pos), float(s_neg), int(n_alarms)))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "n_seen": [n_seen],
            "s_pos": [round(s_pos, 6)],
            "s_neg": [round(s_neg, 6)],
            "n_alarms": [n_alarms],
        }
    )


@register("stream_cusum_alarm")
def stream_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online two-sided CUSUM drift alarm per event type — the
    sequential recurrence that genuinely REQUIRES streaming state:
    ``s⁺ ← max(0, s⁺ + (x − μ₀ − k))`` has no windowed/aggregate batch
    formulation (the max-reset couples every step to the last), which
    is exactly why `events_changepoint` exists as the OFFLINE split
    finder and this operator as its online counterpart.

    Order discipline: CUSUM is order-sensitive, so the stream is staged
    in event_id RANGE chunks (arrival order == time order — the Kafka
    per-partition ordering contract [K]; same ADVICE-r4 lesson as the
    lag monitor) and each batch folds in (ts, event_id) order.  The
    fold itself is a shared function run by BOTH the operator and the
    batch-equivalence test — the recurrence is the contract, not an
    implementation detail.

    Scale notes: state is 4 scalars per key (O(1), the stateful-op
    requirement); per-batch work is one in-memory fold per key over
    that batch's rows.  Keys here are event types; a per-user CUSUM
    shards the same way the state store always does — by key hash."""
    from .offsets import _range_chunked_stream_dir

    src = read_event_stream(
        spark,
        _range_chunked_stream_dir(spark, sf_dir, n_chunks=4),
        max_files_per_trigger=1,
    )
    out = src.groupBy("event_type").applyInPandasWithState(
        _cusum_update,
        outputStructType=CUSUM_OUT_SCHEMA,
        stateStructType=CUSUM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    result = run_to_completion(
        out, "stream_cusum_alarm", "update", checkpoint=scratch_path("ckpt_")
    )
    w = F.row_number().over(
        Window.partitionBy("event_type").orderBy(F.col("n_seen").desc())
    )
    return (
        result.withColumn("rn", w)
        .where(F.col("rn") == 1)
        .drop("rn")
        .orderBy("event_type")
    )
