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
    from spark_streaming_kafka_offset_spark.plans.registry import DRIVER_PRIORITY

    assert tuple(ks) == DRIVER_PRIORITY  # driver-priority order
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
