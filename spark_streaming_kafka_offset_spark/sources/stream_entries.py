"""§2.1 Streaming source/sink registry entries (SURVEY.md).

`source_kafka` cannot touch a broker here (none exists, and PySpark's
bundled jars carry no Kafka connector — SURVEY.md §0).  What IS testable,
and what the reference's jobs actually depend on [K], is the *contract*:
the fixed 7-column Kafka record shape and the schema-on-read parse of
`value` bytes into typed columns.  The query below materializes a
Kafka-shaped frame from `events` (value = JSON bytes, key = user_id
bytes, offset = event_id) and runs the exact `parse_kafka_events`
expression a production job would run on a real stream — so the parse
path the Kafka source feeds is exercised end-to-end, batch-for-stream.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import register
from ..session import load_table
from ..common import scratch_path
from ..streaming.core import (
    _EVENT_COLS,
    parse_kafka_events,
    read_event_stream,
    run_stream,
    run_to_completion,
    stage_stream_dir,
)


def kafka_shaped(events: DataFrame, topic: str = "events") -> DataFrame:
    """Project events into the Kafka record schema (key/value binary,
    topic, partition, offset, timestamp, timestampType)."""
    return events.select(
        F.encode(F.col("user_id").cast("string"), "utf-8").alias("key"),
        F.encode(
            F.to_json(F.struct(*[F.col(c) for c in _EVENT_COLS])), "utf-8"
        ).alias("value"),
        F.lit(topic).alias("topic"),
        (F.col("user_id") % 8).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )


@register("source_kafka")
def source_kafka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-record contract: events → Kafka shape → parse_kafka_events
    round-trip, aggregated per partition like the reference's per-
    partition offset accounting [K].  (The live readStream.format("kafka")
    builder is `streaming.core.kafka_source`; broker-less env, §0.)"""
    e = load_table(spark, sf_dir, "events")
    raw = kafka_shaped(e)
    parsed = parse_kafka_events(raw.withColumn("kafka_ts", F.col("timestamp")))
    # Round-trip fidelity: count + value-sum per event_type survives the
    # bytes → JSON → typed-columns path.
    return (
        parsed.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .orderBy("event_type")
    )


@register("source_file_stream")
def source_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source (the Kafka stand-in [K]): schema'd monotone
    file discovery; every input row arrives exactly once."""
    src = read_event_stream(spark, stage_stream_dir(spark, sf_dir))
    counted = src.groupBy("event_type").agg(F.count("*").alias("n"))
    return run_to_completion(counted, "source_file_stream", "complete").orderBy(
        "event_type"
    )


@register("sink_foreachbatch")
def sink_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink — the idiomatic foreachRDD replacement [K]: the
    callback receives (batch_df, batch_id) on the driver with full batch
    DataFrame power (joins, writes to any batch sink)."""
    src = read_event_stream(spark, stage_stream_dir(spark, sf_dir))
    seen: list[tuple[int, int, float]] = []

    def handle(df: DataFrame, batch_id: int) -> None:
        row = df.agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v")
        ).collect()[0]
        seen.append((batch_id, row["n"], float(row["v"])))

    run_stream(src, handle, checkpoint=scratch_path("ckpt_"))
    return spark.createDataFrame(
        sorted(seen), "batch_id long, n_rows long, total_value double"
    )


@register("sink_memory")
def sink_memory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memory sink: stream results land in a queryable session table —
    the test/debug sink every other streaming query here builds on."""
    src = read_event_stream(spark, stage_stream_dir(spark, sf_dir))
    agg = src.groupBy("user_id").agg(F.count("*").alias("n"))
    out = run_to_completion(agg, "sink_memory_demo", "complete")
    # Prove it is queryable as a table: SQL over the sink's queryName.
    return spark.sql(
        "SELECT count(*) AS n_users, sum(n) AS n_events FROM sink_memory_demo"
    )


@register("source_python_datasource")
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector through the Spark 4 PYTHON DATA SOURCE API
    (`pyspark.sql.datasource.DataSource`) — the pluggable-source
    mechanism a real Kafka-offset connector registers through when no
    JVM jar is available [K].  The source reads the events parquet via
    pyarrow with (a) one InputPartition PER FILE (the Kafka
    partition→split mapping), (b) a `start_offset` option gating rows
    by event_id — the startingOffsets seek — and (c) column projection
    honored at the reader.  The demo query counts per (split, type) so
    the partition mapping itself is visible in the output.

    Scale notes: partition planning happens driver-side from the file
    listing (metadata only); each split streams Arrow batches —
    `read()` yields pyarrow RecordBatches, never Python rows; the
    offset gate applies within the reader so filtered rows never cross
    the Arrow boundary.  Registered rows-only: the source itself is
    runtime plumbing (its EQUALITY to a direct gated read is the
    pytest contract)."""
    import glob as _glob

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )
    from pyspark.sql.types import StructType

    class _EventsFileSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "sskos_events_files"

        def schema(self) -> str:
            return (
                "split int, event_id long, user_id long, event_type string"
            )

        def reader(self, schema: StructType) -> DataSourceReader:
            return _EventsFileReader(self.options)

    class _EventsFileReader(DataSourceReader):
        def __init__(self, options):
            self.path = options["path"]
            self.start_offset = int(options.get("start_offset", "0"))

        def partitions(self):
            files = sorted(_glob.glob(self.path + "/chunk=*/*.parquet"))
            return [InputPartition((i, f)) for i, f in enumerate(files)]

        def read(self, partition):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            idx, fname = partition.value
            t = pq.read_table(
                fname, columns=["event_id", "user_id", "event_type"]
            )
            t = t.filter(pc.field("event_id") >= self.start_offset)
            t = t.add_column(
                0, "split", pa.array([idx] * len(t), type=pa.int32())
            )
            yield from t.to_batches()

    spark.dataSource.register(_EventsFileSource)
    from ..streaming.offsets import _range_chunked_stream_dir

    stream_dir = _range_chunked_stream_dir(spark, sf_dir, n_chunks=4)
    head = load_table(spark, sf_dir, "events").agg(
        F.max("event_id")
    ).first()[0]
    start = int(head) // 4 + 1  # seek past the first committed range
    df = (
        spark.read.format("sskos_events_files")
        .option("path", stream_dir)
        .option("start_offset", str(start))
        .load()
    )
    return (
        df.groupBy("split", "event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("event_id").cast("long").alias("min_id"),
            F.max("event_id").cast("long").alias("max_id"),
        )
        .orderBy("split", "event_type")
    )
