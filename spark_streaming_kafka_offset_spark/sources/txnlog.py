"""Minimal lakehouse transaction log over plain parquet (SURVEY.md §2.17).

The three guarantees every table format (Delta/Iceberg/Hudi) builds on,
reproduced with nothing but files — so the SEMANTICS are testable here and
swap 1:1 for a real format in production:

1. **Atomic commit**: a write is visible iff its commit record exists in
   ``_log/``; the commit record lands via ``os.rename`` (atomic on POSIX),
   so readers see all of a commit or none of it.
2. **Torn-write invisibility**: data files not referenced by any commit
   (a writer that died mid-job) are ignored by every reader forever.
3. **Snapshot isolation / time travel**: a reader pins a version V and
   reads exactly the files committed by versions ≤ V, unaffected by
   concurrent appends.

Optimistic concurrency comes free: two writers racing to the same version
number — the second ``os.rename`` onto an existing name fails on the
platforms that guarantee it, and the CAS loop here retries with the next
version (documented simplification: POSIX rename overwrites, so the
production variant uses ``link``/``O_EXCL``; single-writer here).
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..common import scratch_path
from ..plans.registry import register
from ..session import load_table


def txn_commit(
    table_dir: str,
    files: list[str],
    n_rows: int,
    extra: dict | None = None,
) -> int:
    """Atomically publish ``files`` as the next version; returns it.

    ``extra`` rides INSIDE the commit record: ``txn_compact`` publishes
    its REPLACE commit (``op`` and the ``removed`` files) through it.
    The record lands by one ``os.rename``, so a reader sees the whole
    commit or none of it; losing the race for a version number retries
    with the next one."""
    log_dir = os.path.join(table_dir, "_log")
    os.makedirs(log_dir, exist_ok=True)
    while True:
        versions = [
            int(f[:-5]) for f in os.listdir(log_dir) if f.endswith(".json")
        ]
        v = (max(versions) + 1) if versions else 0
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
        rec = {"version": v, "files": files, "n_rows": n_rows}
        if extra:
            rec.update(extra)
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
        target = os.path.join(log_dir, f"{v:06d}.json")
        if os.path.exists(target):  # lost the race: retry with next v
            os.unlink(tmp)
            continue
        os.rename(tmp, target)  # atomic publish
        return v


def _log_records(table_dir: str) -> list[dict]:
    """Every commit record of the table, in version order."""
    log_dir = os.path.join(table_dir, "_log")
    recs = []
    for name in sorted(f for f in os.listdir(log_dir) if f.endswith(".json")):
        with open(os.path.join(log_dir, name)) as fh:
            recs.append(json.load(fh))
    return recs


def _live_files(records: list[dict]) -> list[str]:
    """Data file names in the snapshot after ``records``: each commit's
    ``files`` added, its ``removed`` (a REPLACE) dropped."""
    live: list[str] = []
    for rec in records:
        gone = set(rec.get("removed", []))
        live = [f for f in live if f not in gone]
        live.extend(rec["files"])
    return live


def txn_read(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Snapshot read: exactly the files committed at versions ≤ version."""
    recs = [
        r
        for r in _log_records(table_dir)
        if version is None or r["version"] <= version
    ]
    data_dir = os.path.join(table_dir, "data")
    return spark.read.parquet(
        *(os.path.join(data_dir, f) for f in _live_files(recs))
    )


def _write_data_files(
    df: DataFrame, table_dir: str, n_files: int
) -> tuple[list[str], int]:
    """Write df as uniquely-named parquet files under data/ (NOT yet
    visible — visibility comes from the commit record)."""
    staging = scratch_path("sskos_txn_stage_")
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    data_dir = os.path.join(table_dir, "data")
    os.makedirs(data_dir, exist_ok=True)
    names = []
    for f in sorted(os.listdir(staging)):
        if f.startswith("part-") and f.endswith(".parquet"):
            name = f"{uuid.uuid4().hex}.parquet"
            os.rename(os.path.join(staging, f), os.path.join(data_dir, name))
            names.append(name)
    return names, df.count()


@register("sink_txn_log")  # rows-only: commit-protocol runtime semantics
def sink_txn_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional append sink + time-travel read over plain parquet:
    two committed appends, one deliberately TORN write (data file with
    no commit record), then snapshot reads at v0, v1, and latest.

    The output row set is the verdict: per version, the committed row
    count AND the full-directory count — equal only if torn files leak
    (`torn_invisible` must be true; asserted in tests along with
    snapshot monotonicity and the exact re-read of each version's
    rows).

    Scale notes: the log is one tiny JSON per commit (listing, not
    data); readers list O(#commits) records and plan a normal parquet
    scan over exactly the committed files — the same read path every
    lakehouse format lowers to.  Data files land under unique names
    BEFORE the rename-published commit, so no reader can observe a
    partial write at any point."""
    table_dir = scratch_path("sskos_txn_table_")
    e = load_table(spark, sf_dir, "events")
    first = e.where(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "value"
    )
    second = e.where(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value"
    )
    f1, n1 = _write_data_files(first, table_dir, 2)
    v0 = txn_commit(table_dir, f1, n1)
    f2, n2 = _write_data_files(second, table_dir, 2)
    v1 = txn_commit(table_dir, f2, n2)
    # torn write: data lands, writer dies before commit
    torn, _ = _write_data_files(first.limit(100), table_dir, 1)
    assert torn and v0 == 0 and v1 == 1

    data_dir = os.path.join(table_dir, "data")
    all_files_count = (
        spark.read.parquet(data_dir).count()
    )
    rows = []
    for label, ver in (("v0", 0), ("v1", 1), ("latest", None)):
        cnt = txn_read(spark, table_dir, ver).count()
        rows.append((label, cnt, all_files_count, cnt < all_files_count))
    return spark.createDataFrame(
        rows,
        "snapshot string, committed_rows long, all_file_rows long, "
        "torn_invisible boolean",
    )


def txn_read_incremental(
    spark: SparkSession, table_dir: str, after: int, until: int | None = None
) -> DataFrame:
    """CDC-style incremental read: rows ADDED by commits in (after, until]
    — the consumption contract of lakehouse streaming sources (each
    commit is a micro-batch; the reader's offset is a version number,
    exactly the manual-offset-store recipe [K] applied to a table)."""
    files: list[str] = []
    for rec in _log_records(table_dir):
        if rec["version"] <= after:
            continue
        if until is not None and rec["version"] > until:
            continue
        if rec.get("op") == "replace":
            raise ValueError(
                "incremental read across a REPLACE commit is undefined; "
                "consume data commits only (as Delta CDF does)"
            )
        files.extend(os.path.join(table_dir, "data", f) for f in rec["files"])
    return spark.read.parquet(*files)


def txn_compact(spark: SparkSession, table_dir: str) -> int:
    """Small-files compaction as a REPLACE commit: rewrite the current
    snapshot into one file and publish a commit that both adds it and
    removes the predecessors — readers before the commit see the old
    files, readers after see the new one, and at no instant is the
    table unreadable (the OPTIMIZE/rewrite_data_files maintenance op)."""
    current = txn_read(spark, table_dir)
    new_files, n_rows = _write_data_files(current, table_dir, 1)
    removed = _live_files(_log_records(table_dir))
    return txn_commit(
        table_dir, new_files, n_rows, extra={"op": "replace", "removed": removed}
    )


@register("scan_txn_maintenance")  # rows-only: commit-protocol runtime semantics
def scan_txn_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse table MAINTENANCE on the txn log: incremental (CDC)
    consumption between versions, then small-files compaction as a
    REPLACE commit — the two operations that keep a 100 TB table
    consumable and fast after months of appends.

    Emits one row per claim so the tests pin each guarantee: the
    incremental read of (v0, v1] returns exactly commit 1's rows; the
    post-compaction snapshot is row-identical to the pre-compaction
    one; the file count actually shrinks; time travel to v1 still
    works THROUGH the replace commit (old files are removed from the
    LATEST view, not deleted from history).

    Scale notes: incremental readers track one integer offset (the
    version) — the Kafka-offset recipe [K] applied to a table; the
    compactor rewrites data once and publishes metadata atomically, so
    concurrent readers never block; `removed` lists make vacuuming a
    separate, safe GC decision (retention), exactly as in Delta."""
    table_dir = scratch_path("sskos_txn_maint_")
    e = load_table(spark, sf_dir, "events")
    first = e.where(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "value"
    )
    second = e.where(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type", "value"
    )
    f1, n1 = _write_data_files(first, table_dir, 3)
    txn_commit(table_dir, f1, n1)
    f2, n2 = _write_data_files(second, table_dir, 3)
    txn_commit(table_dir, f2, n2)

    inc = txn_read_incremental(spark, table_dir, after=0, until=1).count()
    pre_rows = txn_read(spark, table_dir).count()
    pre_files = len(f1) + len(f2)
    txn_compact(spark, table_dir)
    post = txn_read(spark, table_dir)
    post_rows = post.count()
    post_files = post.select(
        F.input_file_name().alias("f")
    ).distinct().count()
    v1_rows = txn_read(spark, table_dir, version=1).count()
    return spark.createDataFrame(
        [
            ("incremental_v0_v1", inc),
            ("rows_pre_compact", pre_rows),
            ("rows_post_compact", post_rows),
            ("files_pre_compact", pre_files),
            ("files_post_compact", post_files),
            ("time_travel_v1_rows", v1_rows),
        ],
        "claim string, value long",
    )


def vacuum_plan(table_dir: str) -> list[tuple[str, str, str]]:
    """Classify every file under data/ against the commit log and plan
    the janitor pass: (file, class, action) with class ∈ live (in the
    current snapshot), superseded (added by some commit, later removed
    by a REPLACE — retained only for time travel), orphan (on disk but
    in NO commit record — a crashed writer's leftovers), and action =
    keep for live, vacuum for the rest under a retain-nothing policy.
    Pure log+listing arithmetic: never opens a data file."""
    recs = _log_records(table_dir)
    committed = {f for rec in recs for f in rec["files"]}
    live_set = set(_live_files(recs))
    out = []
    for f in sorted(os.listdir(os.path.join(table_dir, "data"))):
        if not f.endswith(".parquet"):
            continue
        if f in live_set:
            out.append((f, "live", "keep"))
        elif f in committed:
            out.append((f, "superseded", "vacuum"))
        else:
            out.append((f, "orphan", "vacuum"))
    return out


@register("table_vacuum_plan")  # rows-only: filesystem-janitor semantics
def table_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM planning for the transaction-log table — the janitor that
    completes the lakehouse maintenance story (`txn_compact` rewrites,
    a writer that dies before its commit leaves orphans, THIS op finds
    what is safe to delete): stage a table with two appends, one compaction
    REPLACE, and one uncommitted (orphaned) write, then classify every
    physical file as live / superseded / orphan from the commit log
    alone and emit the per-class plan.  Safety property (pinned by
    tests/test_sources.py::test_vacuum_plan_classes_and_safety): the
    vacuum set NEVER intersects the current snapshot — deleting it
    leaves every live read intact, while time-travel reads older than
    the compaction become unavailable (the documented VACUUM trade).

    Scale notes: the plan is commit-log + directory-listing arithmetic
    (version-count + file-count sized, never data-sized); the physical
    delete would be an embarrassingly-parallel foreachPartition over
    the vacuum list.  The staged fixture is driver-built (events
    quarters), so counts are deterministic."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    table = scratch_path("sskos_txn_vac_")
    q1 = ev.where(F.col("event_id") % 4 == 0)
    q2 = ev.where(F.col("event_id") % 4 == 1)
    f1, n1 = _write_data_files(q1, table, 2)
    txn_commit(table, f1, n1)
    f2, n2 = _write_data_files(q2, table, 2)
    txn_commit(table, f2, n2)
    txn_compact(spark, table)
    # a crashed writer: data files on disk, no commit record
    _write_data_files(ev.where(F.col("event_id") % 4 == 2), table, 1)
    plan = vacuum_plan(table)
    df = spark.createDataFrame(
        plan, "file string, file_class string, action string"
    )
    return (
        df.groupBy("file_class", "action")
        .agg(F.count(F.lit(1)).cast("long").alias("n_files"))
        .orderBy("file_class", "action")
    )
