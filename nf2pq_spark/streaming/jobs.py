"""Structured Streaming pipelines (SURVEY §2.9, §3.3).

The reference is a streaming collector daemon: decode flow datagrams →
rotate Parquet files → optionally insert into ClickHouse. Its Spark-native
restatement is `readStream → event-time transforms → writeStream`, and these
builders construct exactly those plans. Each transform is expressed so the
SAME DataFrame code runs in batch mode (plans/timeseries.py) and under a
stream — stream-batch equivalence is the correctness argument (Structured
Streaming model; PAPERS.md SIGMOD'18 entry).

``run_available_now`` executes a streaming plan over a bounded file source
with ``Trigger.AvailableNow`` and a memory sink, returning the final result
as a batch DataFrame — this is how streaming operators get graded against a
SQL oracle.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scratch_dir
from ..session import ensure_session_conf


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """events.parquet as a bounded file-source stream (the fixture stands in
    for the collector's decoded flow stream).

    Spark's file stream source requires a *directory*. A single-file
    fixture (the driver's layout) is symlinked into a fresh temp dir
    (the fixture tree is read-only); a DIRECTORY table (many-writer
    layouts — the r8 multi-file fixture) streams in place: symlinking
    the dir under a scratch dir would nest it one level down, where the
    file source does not look (it does not recurse into non-partition
    subdirs), yielding an empty stream with a schema-inference error.
    """
    from ..sources.tables import normalize_events_ts

    ensure_session_conf(spark)
    # abspath: a RELATIVE sf_dir would make the symlink target resolve
    # against the temp dir (broken link, empty stream)
    path = os.path.abspath(f"{sf_dir}/events.parquet")
    if os.path.isdir(path):
        stream_dir = path
    else:
        stream_dir = scratch_dir("events_stream_")
        os.symlink(path, os.path.join(stream_dir, "events.parquet"))
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # `is not None`, not truthiness: an explicit 0 is an invalid
        # throttle Spark rejects loudly — silently dropping the option
        # converted the mistake into "unthrottled"
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # one shared normalization with the batch loader (watermarks need
    # session-TZ TimestampType)
    return normalize_events_ts(reader.parquet(stream_dir))


def run_available_now(result: DataFrame, output_mode: str = "complete",
                      name: str | None = None) -> tuple[SparkSession, str]:
    """Run a streaming DataFrame to completion into a memory sink.

    Returns (spark, table_name); read results with ``spark.table(name)``.
    """
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    ckpt = scratch_dir(f"ckpt_{name}_")
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return result.sparkSession, name


def _kafka_datagrams(spark: SparkSession, brokers: str, topic: str,
                     starting_offsets: str) -> DataFrame:
    raw = (spark.readStream.format("kafka")
           .option("kafka.bootstrap.servers", brokers)
           .option("subscribe", topic)
           .option("startingOffsets", starting_offsets)
           .load())
    return raw.select(
        F.coalesce(F.col("key").cast("string"), F.lit("kafka")).alias("path"),
        F.col("value").alias("content"),
    )


def read_kafka_flow_stream(spark: SparkSession, brokers: str, topic: str,
                           starting_offsets: str = "latest") -> DataFrame:
    """Kafka as the datagram transport (S5 alternative to the UDP bridge):
    one datagram per message, keyed by exporter address — the COMPOSABLE
    form (returns a streaming DataFrame).

    CONSTRAINT this form cannot lift: the in-band decoder's template
    cache lives inside one mapInPandas invocation, so templates must be
    announced within the SAME micro-batch (and partition) as the data
    they describe. An exporter that re-announces every N minutes against
    a faster trigger silently drops the in-between batches' records —
    use :func:`stream_kafka_flows` (per-batch two-phase harvest, the
    same machinery as the file front-ends) unless the producer bundles
    templates into every message. IE 160 boot epochs likewise only
    resolve through the two-phase form. Requires the spark-sql-kafka
    package and a broker — neither exists in this environment, so this
    is exercised by construction only (tests skip); the decode plumbing
    is shared with the fully-tested file path.
    """
    from ..sources.ipfix import FLOW_SCHEMA, make_decoder

    dgrams = _kafka_datagrams(spark, brokers, topic, starting_offsets)
    return dgrams.mapInPandas(make_decoder(), FLOW_SCHEMA)


def stream_kafka_flows(spark: SparkSession, brokers: str, topic: str,
                       process, checkpoint: str,
                       starting_offsets: str = "latest",
                       available_now: bool = False):
    """Kafka collector front-end with per-micro-batch TWO-PHASE decode —
    the correctness-bearing Kafka form (mirrors ``stream_flow_files``):
    each micro-batch harvests its own templates and IE 160 boot epochs
    before decoding, so template placement across partitions/offsets
    cannot lose records and v10 relative timestamps resolve.
    ``process(flows_df, batch_id)`` receives the decoded typed frame."""
    from ..sources.ipfix import decode_datagram_frame

    def decode_batch(batch_df: DataFrame, batch_id: int) -> None:
        process(decode_datagram_frame(batch_df.select("path", "content")),
                batch_id)

    writer = (_kafka_datagrams(spark, brokers, topic, starting_offsets)
              .writeStream.foreachBatch(decode_batch)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_rollup(stream: DataFrame, window: str = "1 hour",
                    watermark: str = "10 minutes") -> DataFrame:
    """Tumbling-window per-type rollup — the collector's rotation interval
    report (T1/T4)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(10,2)"))
             .cast("double").alias("sum_value"))
    )


def streaming_dedup(stream: DataFrame, keys: list[str],
                    watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup on a key set (T5), state bounded by the watermark.

    ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates(keys)``
    only evicts state when the event-time column is IN the key subset —
    with a pure key subset the watermark line was dead code and the seen
    set grew forever (OOM on any unbounded stream). The within-watermark
    form evicts keys once they age past the delay; a duplicate arriving
    later than the watermark re-emits — the honest bounded-memory
    contract (exact unbounded dedup needs the anti-join against a
    persisted seen set instead: st14's pattern). Batch frames (the
    stream-batch equivalence probes) take the plain distinct, which the
    bounded form equals on bounded input."""
    if not stream.isStreaming:
        return stream.dropDuplicates(keys)
    return (stream.withWatermark("ts", watermark)
            .dropDuplicatesWithinWatermark(keys))


def stream_static_join(stream: DataFrame, dim: DataFrame, cond, how: str = "inner"
                       ) -> DataFrame:
    """Enrich the stream with a static dimension (T7) — dim broadcasts."""
    return stream.join(F.broadcast(dim), cond, how)


def stream_stream_interval_join(stream: DataFrame, left_type: str,
                                right_type: str, interval: str = "4 hours",
                                watermark: str = "1 hour",
                                how: str = "inner") -> DataFrame:
    """Stream-stream join: pair each ``left_type`` event with the same
    user's ``right_type`` events that follow within ``interval``.

    Both sides carry a watermark and the join condition bounds event time
    on both ends, so Spark can size the join state and evict rows once the
    watermark passes — the unbounded-state trap of naive stream joins.

    ``how='leftOuter'``: matched pairs still emit immediately; an
    UNMATCHED left row emits null-extended only when the watermark passes
    the end of its match window (``a_ts + interval``) — before that a
    matching right row could still arrive, so earlier emission would be
    wrong. Bounded runs therefore produce outer rows exactly for left
    rows whose window the final watermark closed.
    """
    a = (stream.filter(F.col("event_type") == left_type)
         .withWatermark("ts", watermark)
         .select(F.col("user_id").alias("a_user"), F.col("event_id").alias("a_id"),
                 F.col("ts").alias("a_ts")))
    b = (stream.filter(F.col("event_type") == right_type)
         .withWatermark("ts", watermark)
         .select(F.col("user_id").alias("b_user"), F.col("event_id").alias("b_id"),
                 F.col("ts").alias("b_ts")))
    return a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") > F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr(f"INTERVAL {interval}")),
        how,
    )
