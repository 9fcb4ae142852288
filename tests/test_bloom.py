"""Bloom pre-pass correctness (operators/bloom.py).

The sketch is only allowed to ACCELERATE — never to change an answer.
These tests pin the three load-bearing claims: no false negatives
(ever, by construction), bounded false positives (geometry holds), and
end-to-end exactness of every consumer (`bloom_anti_join`,
`data_quality_rules(use_bloom=True)`, `stream_dedup_corpus(use_bloom=True)`).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_streaming_kafka_offset_spark.operators.bloom import (
    bloom_anti_join,
    build_bloom_bitmap,
    with_bloom_probe,
)
from spark_streaming_kafka_offset_spark.operators.maintenance import (
    data_quality_rules,
)
from spark_streaming_kafka_offset_spark.session import load_table
from spark_streaming_kafka_offset_spark.streaming.core import (
    stream_dedup_corpus,
)

from tests.conftest import SF_DIR


def test_bloom_no_false_negatives(spark):
    """Every build-side key must probe maybe_present=True — a single
    false negative would silently drop real matches from the exact
    join, corrupting results rather than just wasting work."""
    build = load_table(spark, SF_DIR, "customer").select("c_custkey")
    bitmap = build_bloom_bitmap(build, "c_custkey")
    probed = with_bloom_probe(build, "c_custkey", bitmap)
    assert probed.where(~F.col("maybe_present")).count() == 0


def test_bloom_fp_rate_bounded(spark):
    """Keys guaranteed absent (shifted far outside the build domain)
    should pass the filter only at the sketch's designed FP rate —
    generous 2% bound at default geometry and fixture cardinality."""
    build = load_table(spark, SF_DIR, "customer").select("c_custkey")
    bitmap = build_bloom_bitmap(build, "c_custkey")
    absent = spark.range(10_000_000, 10_010_000).select(
        F.col("id").alias("c_custkey")
    )
    probed = with_bloom_probe(absent, "c_custkey", bitmap)
    fp = probed.where(F.col("maybe_present")).count()
    assert fp / 10_000 < 0.02, f"FP rate {fp / 10_000} above bound"


def test_bloom_anti_join_equals_plain_anti_join(spark):
    """bloom_anti_join(probe, build) must return EXACTLY the plain
    LEFT ANTI rows — definite misses + FP-cleared survivors recompose
    the full orphan set with no loss and no double count."""
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey")
    holdout = (
        load_table(spark, SF_DIR, "customer")
        .where(F.col("c_custkey") % 7 != 0)
        .select("c_custkey")
    )
    fast = bloom_anti_join(o, "o_custkey", holdout, "c_custkey")
    plain = o.join(holdout, o.o_custkey == holdout.c_custkey, "left_anti")
    assert fast.count() == plain.count()
    assert fast.exceptAll(plain).count() == 0
    assert plain.exceptAll(fast).count() == 0
    # The holdout (every 7th key) guarantees the definite-miss branch
    # actually carries rows on the fixtures — the pre-pass is exercised,
    # not vacuously bypassed.
    assert plain.count() > 0


def test_data_quality_rules_bloom_flag_is_pure_acceleration(spark):
    base = data_quality_rules(spark, SF_DIR).orderBy("rule").collect()
    accel = (
        data_quality_rules(spark, SF_DIR, use_bloom=True)
        .orderBy("rule")
        .collect()
    )
    assert base == accel


def test_stream_dedup_corpus_bloom_flag_is_pure_acceleration(spark):
    base = stream_dedup_corpus(spark, SF_DIR).collect()
    accel = stream_dedup_corpus(spark, SF_DIR, use_bloom=True).collect()
    assert base == accel


def test_stream_dedup_corpus_planted_recall_laws(spark):
    """Per-record end-to-end hit/miss for the streaming corpus dedup
    (VERDICT r13 #4 — the streaming twin of the lexical family's
    measured recall): the ledger ids (event_id % 3 == 0) are planted
    duplicates appearing in EVERY staged micro-batch chunk (chunk i =
    the i-th of 4 event_id ranges, and every range carries ids from
    every mod-3 class);
    with one chunk per trigger the op must, bloom-on AND bloom-off,

    - DROP every planted duplicate (drop recall exactly 1.0 — a bloom
      false negative or a wiring bug would surface here), and
    - ADMIT every genuinely-new id exactly once (no loss to a false
      positive that the exact anti-join fails to clear, no double
      count from the definite-miss/FP-cleared union)."""
    ev = load_table(spark, SF_DIR, "events").select("event_id")
    ledger_ids = {
        r.event_id for r in ev.where(F.col("event_id") % 3 == 0).collect()
    }
    fresh_ids = {
        r.event_id for r in ev.where(F.col("event_id") % 3 != 0).collect()
    }
    step = -(-(max(ledger_ids | fresh_ids) + 1) // 4)  # stage_stream_dir's ranges
    per_chunk = [sum(1 for e in ledger_ids if e // step == i) for i in range(4)]
    assert all(n > 0 for n in per_chunk), per_chunk  # dups in every batch

    for bloom in (False, True):
        got = [
            r.event_id
            for r in stream_dedup_corpus(
                spark,
                SF_DIR,
                use_bloom=bloom,
                emit="records",
                max_files_per_trigger=1,
            ).collect()
        ]
        assert len(got) == len(set(got)), f"double-admitted (bloom={bloom})"
        assert set(got) == fresh_ids, (
            f"admit/drop recall broken (bloom={bloom}): "
            f"missing={len(fresh_ids - set(got))}, "
            f"leaked={len(set(got) & ledger_ids)}"
        )
