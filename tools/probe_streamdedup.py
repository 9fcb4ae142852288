"""Measured-recall + FP-attribution probe for the STREAMING corpus
dedup (`stream_dedup_corpus`) at sf0.1 — VERDICT r13 #4: the batch
dedup families carry measured recall (BENCH_dedup20k, BENCH_cont20k,
BENCH_semdedup20k) while the streaming ingestion shape rested on
aggregate batch-equivalence alone.  This probe runs the registered op
end-to-end over the staged micro-batch files (one chunk per trigger)
and accounts per record:

- **Drop recall** — every planted already-ingested id (the ledger:
  event_id % 3 == 0, present in every staged chunk) must be rejected,
  bloom-on and bloom-off.  The bloom path has no false negatives by
  construction, so anything under 1.0 is a wiring bug, not a sketch
  trade-off (hence the pytest twin gates it as a LAW:
  tests/test_bloom.py::test_stream_dedup_corpus_planted_recall_laws).
- **Admit recall** — every genuinely-new id admitted exactly once (no
  loss to an uncleared false positive, no double count from the
  definite-miss ∪ FP-cleared union).
- **Bloom FP attribution** — how many truly-fresh ids probed
  maybe_present (they paid the exact anti-join) vs definite misses
  (they bypassed the shuffle): the measured work-saving the bloom
  pre-pass buys at the sketch's designed FP rate.

Output: one JSON line + BENCH_streamdedup.json sidecar.

Usage: python tools/probe_streamdedup.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from spark_streaming_kafka_offset_spark import session as S
    from spark_streaming_kafka_offset_spark.operators.bloom import (
        build_bloom_bitmap,
        with_bloom_probe,
    )
    from spark_streaming_kafka_offset_spark.streaming.core import (
        stream_dedup_corpus,
    )

    spark = S.get_spark("sskos-probe-streamdedup")
    ev = S.load_table(spark, sf_dir, "events").select("event_id")
    ledger = ev.where(F.col("event_id") % 3 == 0)
    ledger_ids = {r.event_id for r in ledger.collect()}
    fresh_ids = {r.event_id for r in ev.where(F.col("event_id") % 3 != 0).collect()}
    step = -(-(max(ledger_ids | fresh_ids) + 1) // 4)  # stage_stream_dir's ranges
    per_chunk = [sum(1 for e in ledger_ids if e // step == i) for i in range(4)]

    report: dict = {
        "n_events": len(ledger_ids) + len(fresh_ids),
        "n_planted_dups": len(ledger_ids),
        "planted_per_microbatch": per_chunk,
    }
    for bloom in (False, True):
        t0 = time.monotonic()
        got = [
            r.event_id
            for r in stream_dedup_corpus(
                spark,
                sf_dir,
                use_bloom=bloom,
                emit="records",
                max_files_per_trigger=1,
            ).collect()
        ]
        wall = round(time.monotonic() - t0, 2)
        gs = set(got)
        key = "bloom" if bloom else "exact"
        report[key] = {
            "wall_sec": wall,
            "admitted": len(got),
            "double_admitted": len(got) - len(gs),
            "dups_leaked": len(gs & ledger_ids),
            "fresh_missing": len(fresh_ids - gs),
            "drop_recall": round(
                1.0 - len(gs & ledger_ids) / max(1, len(ledger_ids)), 6
            ),
            "admit_recall": round(
                (len(fresh_ids) - len(fresh_ids - gs)) / max(1, len(fresh_ids)), 6
            ),
        }
    # FP attribution: rebuild the same-geometry sketch statically and
    # count truly-fresh ids that would pay the exact anti-join.
    bitmap = build_bloom_bitmap(
        ledger.select(F.col("event_id").alias("ingested_id")), "ingested_id"
    )
    probed = with_bloom_probe(
        ev.where(F.col("event_id") % 3 != 0), "event_id", bitmap
    )
    fp = probed.where(F.col("maybe_present")).count()
    report["bloom_fp"] = {
        "fresh_rows": len(fresh_ids),
        "maybe_present_fp": fp,
        "fp_rate": round(fp / max(1, len(fresh_ids)), 6),
        "definite_miss_shortcut_rate": round(
            1.0 - fp / max(1, len(fresh_ids)), 6
        ),
    }
    payload = {
        "metric": "streamdedup_recall",
        "sf_dir": sf_dir,
        "unit": "sec",
        "report": report,
    }
    print(json.dumps(payload))
    with open("BENCH_streamdedup.json", "w") as f:
        json.dump(payload, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
