"""SparkSession factory and table loaders.

Design notes (SURVEY.md §1.2, §4):

* The driver may hand us an arbitrary ``SparkSession`` — so every config we
  depend on for *correctness* must be runtime-settable and is applied via
  :func:`ensure_configs` on whatever session we receive, not only in
  :func:`get_spark`.
* ``events.ts`` is parquet ``timestamp[ns]``, which Spark 4.x refuses to read
  by default (``PARQUET_TYPE_ILLEGAL``).  Fix (verified): read with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` (→ ``long`` nanos) and convert
  with ``timestamp_micros((ts / 1000).cast('long'))``; this reproduces the
  DuckDB oracle's µs-truncated values exactly.
* Session timezone pinned to UTC so collected timestamps agree with the
  oracle byte-for-byte.
* AQE stays on (Spark 4 default) — at 100 TB it performs runtime skew-join
  splitting and post-shuffle coalescing that static planning cannot.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Tables available at every ``sf_dir`` (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Runtime-settable SQL configs required for correctness on ANY session.
_RUNTIME_CONFS = {
    # Oracle parity: DuckDB returns naive-UTC timestamps.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet is timestamp[ns]; without this Spark raises
    # PARQUET_TYPE_ILLEGAL.  With it, ts reads as long (nanoseconds).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime re-planning: skew joins, dynamic coalescing, runtime broadcast.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}

#: Driver JVM options for local masters: the HotSpot tier-4 (C2) compile
#: thresholds at 10× their JDK 17 defaults (5000 / 600 / 15000 / 40000).
#: C1 still compiles early; C2 compiles only code that stays hot, instead of
#: the broad, rarely-hot planning code each query and micro-batch runs.
LOCAL_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)

#: Entries in Spark's JVM-wide cache of generated classes
#: (``spark.sql.codegen.cache.maxEntries``, a static SQL conf; Spark's
#: default is 100).  Sized from measured traffic: the 17-query batch mix
#: generates 221 distinct classes, and about 8 KB of metaspace per class
#: bounds a full cache near 8 MB.
CODEGEN_CACHE_ENTRIES = 1024


def ensure_configs(spark: SparkSession) -> SparkSession:
    """Apply correctness-critical runtime confs to an externally-built session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static conf on exotic builds
            pass
    return spark


def skew_join_tuned_confs(
    advisory: str = "64m", factor: int = 2
) -> dict[str, str]:
    """Runtime confs that make AQE's skew-join split actually fire on
    the hot-join-then-same-key-agg shape (BASELINE.md r13, measured):
    stock AQE leaves a skewed join partition UNSPLIT when (a) a
    downstream same-key aggregate could reuse the join's partitioning
    (splitting costs an extra shuffle, so OptimizeSkewedJoin declines
    without ``forceOptimizeSkewedJoin``) and (b) the hot partition
    misses the factor-5 median test (a GB-hot production key clears
    it; mid-scale partitions may not).  On the Zipf sf10 fixture these
    two settings cut q3 from 12.5 s to 6.3 s and its max task from
    10.3 s to 1.5 s.  Apply per session or per query via
    ``spark.conf.set``; ``advisory`` should track the deployment's
    target partition size (64-128 MB on a real cluster)."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": str(factor),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": advisory,
    }


def get_spark(
    app_name: str = "sskos-engine",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build the engine's own session (tests, bench).

    ``shuffle_partitions`` defaults to the local core count: at fixture scale
    (≤600k rows) hundreds of partitions only add scheduling overhead; on a
    real cluster this would be sized ~2-3× total cores or left to AQE's
    ``coalescePartitions`` with a high initial value.

    Local masters also get :data:`LOCAL_JIT_OPTIONS` as
    ``spark.driver.defaultJavaOptions``.  The flags reach only the driver
    JVM; in local mode the driver is also the executor, so they cover the
    whole engine.  They are not ``extraJavaOptions`` because a
    ``PYSPARK_SUBMIT_ARGS`` ``--conf`` of that key (as ``perfbench`` passes)
    would override them.  On a local master the value replaces any
    ``spark.driver.defaultJavaOptions`` from ``spark-defaults.conf``; an
    already-running ``SparkContext`` ignores it.  Non-local masters get
    nothing: the flags are unmeasured there, and a cluster driver runs
    planning code that is seldom hot.  Measured at 10× with ``perfbench``
    (4 vCPU, ``local[4]``, interleaved fresh-process pairs, medians):
    ``cpu_ms_per_op`` batch 1356 → 989 ms (−27%, 10/10 pairs), replay
    2980 → 2314 (−22%, 10/10), ingest 1737 → 1236 (−29%, 10/10); ``setup_s``
    batch +10%, replay +1%, ingest −3%.  Warm sf0.1 passes
    (``tools/probe_jit_steady.py``) were no slower.  ×5 and ×20 were no
    better across the three workloads, and adding
    ``-XX:CICompilerCount=2`` made warm passes slower.
    Correctness never depends on the flags: a driver-built session runs
    the default JIT.

    Local masters also publish checkpoint files (offset WAL, commits,
    state-store deltas and snapshots) through Spark's FileSystem-API
    manager, ``FileSystemBasedCheckpointFileManager``, on Hadoop's own
    ``LocalFileSystem``.  Spark's default FileContext manager renames
    through ``AbstractFileSystem.rename``, which resolves symlinks with
    ``FileUtil.readLink``; with no native Hadoop library that forks a
    ``readlink`` process, four per checkpoint file, 166 of the 209
    processes a ``windows_replay`` batch spawned.  ``fs.file.impl``
    guards correctness: on PySpark's classpath ``file:`` otherwise
    resolves to Hive's ``ProxyLocalFileSystem`` (registered by
    ``hive-exec``), whose ``rename`` returns false when the destination
    file exists, so an overwriting checkpoint write, such as a state
    delta rewritten when a batch replays, would be dropped and its temp
    file left behind.  ``LocalFileSystem.rename`` replaces the file
    atomically, as FileContext's ``OVERWRITE`` rename does.  Non-local
    masters keep FileContext, because on HDFS ``FileSystem.rename`` does
    not overwrite.  Spark's checkpoint checksum files and Hadoop's
    ``.crc`` files stay.  Measured with ``perfbench`` (4 vCPU, ``local[4]``,
    interleaved fresh-process pairs, medians): ``windows_replay``
    ``cpu_ms_per_op`` 2418 → 1768 ms (−27%, 10/10 pairs); traced,
    ``streaming.state.commit_ms`` 627 → 47 and executor run time
    1316 → 666 ms at unchanged executor CPU (252 → 247 ms).

    Every master gets :data:`CODEGEN_CACHE_ENTRIES` as
    ``spark.sql.codegen.cache.maxEntries``.  Spark keeps each class Janino
    compiles from generated Java in one JVM-wide cache, keyed by the
    source text.  It serves the driver's whole-stage code and the
    projections that tasks build through
    ``CodeGeneratorWithInterpretedFallback``, so every query goes through
    it at build and at collect.  Spark's default holds 100 classes, fewer
    than the 221 that ``perfbench``'s 17-query ``batch_mix`` generates, and
    a least-recently-used cache walked in a cycle larger than itself never
    hits: every pass re-ran Janino 215 times, and the JIT then
    compiled the new classes and Janino itself.  With 1024 entries a warm
    pass compiles nothing.  Measured with ``perfbench`` (4 vCPU,
    ``local[4]``, interleaved fresh-process pairs, medians): ``batch_mix``
    ``cpu_ms_per_op`` 987 → 733 ms (−26%, 10/10 pairs).  Memory is
    bounded: a cached class costs about 8 KB of metaspace, so a full cache
    holds about 8 MB; an unbounded cache over one pass of every registered
    query held 6,055 classes for 37–47 MB more than the default.  A
    long-running stream whose per-batch classes are one-offs fills the
    cache to that bound and no further.  It is a static conf, fixed when the JVM first
    generates code, so it reaches only the sessions ``get_spark`` builds;
    a driver-built session keeps Spark's 100.  Correctness never depends
    on the value.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master.startswith("local"):
        # Local-mode-ONLY scan parallelism: the fixtures are single ~1-20 MB
        # files, so the 128 MB default packs every scan into 1-3 tasks and
        # idles 29+ cores on the scan stage (measured: Q1 scan 3 tasks →
        # 11 tasks, −25% wall).  Gated on the master so a forgotten env var
        # on a real cluster can't plan ~100M scan tasks at 100 TB (ADVICE
        # r3) — non-local masters keep Spark's 128 MB default unless the
        # env var explicitly overrides.
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"),
        ).config("spark.driver.defaultJavaOptions", LOCAL_JIT_OPTIONS)
        # Checkpoints without readlink spawns; see the docstring.
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        ).config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    elif os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES"):
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes",
            os.environ["SPARK_GRAFT_MAX_PARTITION_BYTES"],
        )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return ensure_configs(builder.getOrCreate())


#: (session id, sf_dir, table) → DataFrame.  A DataFrame is an immutable
#: logical plan; reusing it skips the parquet footer read + schema
#: inference that ``spark.read.parquet`` pays per call (measured: the first
#: touch of each table costs 0.3-1.0 s of every query's wall at sf0.1).
#: Keyed by Spark applicationId (unique per context, unlike ``id()`` which
#: can be reused after GC) so a driver-owned session never sees a plan
#: bound to a stopped session.
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with full schema fidelity.

    ``events`` gets the verified ns→µs timestamp repair so ``ts`` is a real
    ``TimestampType`` column identical to DuckDB's view of the same file.
    """
    ensure_configs(spark)
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Integer `div` (NOT `/1000 cast long`: double division rounds to
        # nearest µs while DuckDB truncates — off-by-1µs on remainders ≥500ns).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    _TABLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> None:
    """Expose fixture tables as temp views for the SQL entry point.

    Pass the referenced subset: each registration re-reads parquet footers,
    so a 3-table query should not pay for 10."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
