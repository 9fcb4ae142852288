"""Engine facade — the switch-over surface for a reference user."""

from __future__ import annotations

import pytest

from spark_streaming_kafka_offset_spark import Engine
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark=spark, sf_dir=SF_DIR)


def test_table_and_sql_agree(eng):
    n_df = eng.table("orders").count()
    n_sql = eng.sql("SELECT COUNT(*) AS n FROM orders").collect()[0]["n"]
    assert n_df == n_sql > 0


def test_run_registered_query(eng):
    rows = eng.run("agg_hash").collect()
    assert len(rows) > 0


def test_keys_ordered_and_oracle_lookup(eng):
    ks = eng.keys()
    from spark_streaming_kafka_offset_spark.plans.registry import ordered_queries

    assert ks == list(ordered_queries())  # driver-window order
    assert eng.oracle("agg_hash") is not None
    assert eng.oracle("stream_tumbling") is None


def test_unknown_keys_raise(eng):
    with pytest.raises(KeyError):
        eng.table("nope")
    with pytest.raises(KeyError):
        eng.run("nope")


def test_explain_prints_plan(eng, capsys):
    eng.explain("scan_pruned")
    out = capsys.readouterr().out
    assert "PushedFilters" in out


def test_arrow_native_matches_jvm_bucketing(spark):
    """mapInArrow adds a capability surface, not a semantics fork: the
    Arrow-kernel length bucketing must equal the pure-JVM expression."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from spark_streaming_kafka_offset_spark.session import load_table
    from tests.conftest import SF_DIR

    got = {
        r["len_bucket"]: r["n_docs"]
        for r in entrymod.queries()["udf_arrow_native"](spark, SF_DIR).collect()
    }
    want = {
        r["b"]: r["n"]
        for r in load_table(spark, SF_DIR, "documents")
        .select(
            (F.floor(F.length("text") / 100) * 100).cast("long").alias("b")
        )
        .groupBy("b")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_observed_metrics_are_real_numbers(spark):
    """Observation metrics must equal the query's own ground truth —
    observed row count == rollup total, null count 0 on the fixture,
    and bounds bracketed."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR

    m = {
        r["metric"]: r["value"]
        for r in entrymod.queries()["scan_observed_metrics"](spark, SF_DIR).collect()
    }
    assert m["obs_rows"] == m["rollup_total_rows"] > 0
    assert m["obs_null_qty"] == 0
    assert m["obs_min_qty"] <= m["obs_max_qty"]
    assert m["rollup_groups"] >= 2


def test_local_session_jvm_runs_engine_jit_thresholds(spark):
    """``get_spark``'s C2 thresholds reach the live driver JVM, not only the
    conf: a competing ``extraJavaOptions`` or a wrong conf key would leave
    the JVM on its defaults."""
    from spark_streaming_kafka_offset_spark import session as S

    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    want = dict(opt[len("-XX:"):].split("=") for opt in S.LOCAL_JIT_OPTIONS.split())
    assert "Tier4InvocationThreshold" in want
    got = {name: bean.getVMOption(name).getValue() for name in want}
    assert got == want


def test_local_session_keeps_generated_classes_across_queries(spark):
    """``get_spark`` sizes Spark's generated-class cache to
    :data:`CODEGEN_CACHE_ENTRIES`: after more distinct generated classes
    than Spark's default of 100, re-running the first query finds its
    classes cached and runs Janino not at all."""
    from spark_streaming_kafka_offset_spark import session as S

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        S.CODEGEN_CACHE_ENTRIES
    )
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run(i):
        # The literals are inlined into the generated code: 2 classes per i.
        spark.range(10).selectExpr(f"id * {i} + {i} AS v").collect()

    run(1)
    before = compiles.getCount()
    for i in range(2, 77):
        run(i)
    assert compiles.getCount() - before > 100
    before = compiles.getCount()
    run(1)
    assert compiles.getCount() - before == 0


def test_local_session_publishes_checkpoints_through_local_filesystem(spark, tmp_path):
    """``get_spark``'s checkpoint confs reach the session's Hadoop conf:
    checkpoint files go through Spark's FileSystem-API manager on Hadoop's
    own ``LocalFileSystem``, and an overwriting atomic write replaces the
    file.  Hive's ``ProxyLocalFileSystem``, which ``file:`` resolves to
    without the second conf, drops that write and leaves its temp file."""
    import os

    jvm = spark.sparkContext._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    Path = jvm.org.apache.hadoop.fs.Path
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(Path(str(tmp_path)), conf)
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    fs = Path(str(tmp_path)).getFileSystem(conf)
    assert fs.getClass().getName() == "org.apache.hadoop.fs.LocalFileSystem"

    target = Path(str(tmp_path / "1"))
    for payload in (b"first write", b"second"):
        out = manager.createAtomic(target, True)
        out.write(bytearray(payload))
        out.close()
    assert (tmp_path / "1").read_bytes() == b"second"
    assert not [f for f in os.listdir(tmp_path) if ".tmp" in f]
