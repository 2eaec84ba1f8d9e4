"""Graded streaming queries (SURVEY §2.9): real Structured Streaming
executions whose final state is a batch DataFrame, so they get full SQL
oracles. Each runs the events fixture through a file-source stream with
Trigger.AvailableNow into a memory sink.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..scratch import scratch_dir
from ..sources.tables import load_table
from ..streaming.jobs import (read_events_stream, run_available_now,
                              stream_stream_interval_join, streaming_dedup,
                              stream_static_join, windowed_rollup)
from .helpers import msql, osum
from .registry import register


def _batch_events(spark, sf_dir):
    """Batch twin of read_events_stream for the plan-lint probes: the
    streaming transforms below are built by shared builders applied
    identically in batch (stream-batch equivalence), so linting the core
    over the batch table inspects the same operator composition the
    stream executes — without starting a streaming query."""
    return load_table(spark, sf_dir, "events")


@register(
    "st1_stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS bucket, event_type,
           COUNT(*) AS n, {osum(msql('value'), 'sum_value')}
    FROM events WHERE ts IS NOT NULL  -- F.window drops null-ts rows
    GROUP BY 1, 2
    """,
    description="Structured Streaming tumbling-window rollup (T1/T4/T8): "
    "file-source stream, watermark, availableNow trigger, memory sink — "
    "stream-batch equivalence makes the batch SQL the oracle",
    tags=("T1", "T4", "T8", "S8"),
    lint_probe=lambda spark, sf_dir: windowed_rollup(
        _batch_events(spark, sf_dir), "1 hour", "10 minutes"),
)
def st1_stream_tumbling(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    rolled = windowed_rollup(stream, "1 hour", "10 minutes")
    _, name = run_available_now(rolled, output_mode="complete")
    return spark.table(name).select(
        F.col("window.start").alias("bucket"), "event_type", "n", "sum_value"
    )


def _st4_core(src):
    return (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "30 minutes", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(10,2)")).cast("double")
             .alias("sum_value"))
    )


@register(
    "st4_stream_sliding",
    oracle="""
    WITH x AS (SELECT time_bucket(INTERVAL '15 minutes', ts) AS b, value
           FROM events WHERE ts IS NOT NULL),  -- F.window drops null ts
         u AS (SELECT b AS ws, value FROM x
               UNION ALL
               SELECT b - INTERVAL 15 MINUTE AS ws, value FROM x)
    SELECT ws AS window_start, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
    FROM u GROUP BY 1
    """,
    description="Structured Streaming sliding 30/15min windows (T2 under a "
    "real stream): every event lands in two overlapping windows",
    tags=("T2",),
    lint_probe=lambda spark, sf_dir: _st4_core(_batch_events(spark, sf_dir)),
)
def st4_stream_sliding(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    agg = _st4_core(stream)
    _, name = run_available_now(agg, output_mode="complete")
    return spark.table(name).select(
        F.col("window.start").alias("window_start"), "n", "sum_value"
    )


def _st5_core(src):
    return (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "st5_stream_session",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      -- two engine floors mirrored (r7 hostile-corpus find):
      -- F.session_window drops null-ts rows, and Structured Streaming
      -- initializes the event-time watermark at EPOCH 0 — an event
      -- whose session window ends at or before 1970-01-01 is born late
      -- and dropped in the very first micro-batch (probed live: a 1677
      -- event vanishes, a 1969-12-31 23:59:59 one survives because its
      -- +30min window end clears the epoch)
      FROM events
      WHERE ts IS NOT NULL
        AND ts + INTERVAL 30 MINUTE > TIMESTAMP '1970-01-01'
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    description="Structured Streaming session windows (T3 under a real "
    "stream), 30min gap, complete mode",
    tags=("T3",),
    lint_probe=lambda spark, sf_dir: _st5_core(_batch_events(spark, sf_dir)),
)
def st5_stream_session(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    sess = _st5_core(stream)
    _, name = run_available_now(sess, output_mode="complete")
    return spark.table(name).select(
        "user_id", F.col("session_window.start").alias("session_start"), "n_events"
    )


@register(
    "st2_stream_dedup",
    oracle="""
    -- ts > epoch: dropDuplicatesWithinWatermark drops rows at or below
    -- the engine's INITIAL watermark (epoch 0) as born-late — a
    -- pre-epoch or epoch-exact event never reaches the dedup state
    -- (r7 hostile-corpus find, probed live); NULL ts never had an
    -- event time and is dropped by the watermark node itself
    SELECT DISTINCT user_id, event_type FROM events
    WHERE ts > TIMESTAMP '1970-01-01'
    """,
    description="streaming stateful dedup (T5): dropDuplicates over the "
    "stream, key projection compared against batch DISTINCT",
    tags=("T5",),
    lint_probe=lambda spark, sf_dir: streaming_dedup(
        _batch_events(spark, sf_dir), ["user_id", "event_type"]
    ).select("user_id", "event_type"),
)
def st2_stream_dedup(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    # watermark wider than the fixture's whole event-time span (~30
    # days): dropDuplicatesWithinWatermark re-emits a duplicate whose
    # key aged out before it arrived, so equality with batch DISTINCT
    # is otherwise only incidental to single-batch input (r4 advice) —
    # at 45 days no key can age out mid-run under ANY trigger chunking
    deduped = streaming_dedup(stream, ["user_id", "event_type"],
                              watermark="45 days").select(
        "user_id", "event_type"
    )
    _, name = run_available_now(deduped, output_mode="append")
    return spark.table(name)


def _st3_core(src, dim):
    joined = stream_static_join(src, dim, src.user_id == dim.c_custkey)
    # exact COUNT(DISTINCT) isn't streamable directly; keep per-(segment,user)
    # counts as the streaming state and finish the rollup on the final table
    return joined.groupBy("c_mktsegment", "user_id").agg(
        F.count(F.lit(1)).alias("n"))


@register(
    "st3_stream_static_join",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY c_mktsegment
    """,
    description="stream-static enrichment join (T7): event stream joined "
    "to the broadcast customer dim, aggregated per segment",
    tags=("T7",),
    lint_probe=lambda spark, sf_dir: _st3_core(
        _batch_events(spark, sf_dir),
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")),
)
def st3_stream_static_join(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    per_key = _st3_core(stream, dim)
    _, name = run_available_now(per_key, output_mode="complete")
    per_user = spark.table(name)
    return per_user.groupBy("c_mktsegment").agg(
        F.sum("n").alias("n"), F.count(F.lit(1)).alias("n_users")
    )


@register(
    "st6_stream_stream_join",
    oracle="""
    SELECT a.user_id, a.event_id AS view_id, b.event_id AS click_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 4 HOUR
    WHERE a.event_type = 'view' AND b.event_type = 'click'
    """,
    description="stream-stream interval join (T7 extended): view→click "
    "attribution within 4h per user, watermarks on both sides bound the "
    "join state — inner-join results emit immediately, so the bounded "
    "availableNow run equals the batch self-join oracle",
    tags=("T7", "J7"),
    lint_probe=lambda spark, sf_dir: stream_stream_interval_join(
        _batch_events(spark, sf_dir), "view", "click", "4 hours"),
)
def st6_stream_stream_join(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    joined = stream_stream_interval_join(stream, "view", "click", "4 hours")
    _, name = run_available_now(joined, output_mode="append")
    return spark.table(name).select(
        F.col("a_user").alias("user_id"),
        F.col("a_id").alias("view_id"),
        F.col("b_id").alias("click_id"),
        (F.unix_micros("b_ts") - F.unix_micros("a_ts")).alias("gap_us"),
    )


@register(
    "st11_stream_outer_join",
    oracle="""
    -- ts > epoch on both sides: the watermark initializes at
    -- 1970-01-01, so a row with event time at or before the epoch is
    -- born late and never enters the join state (r7 hostile find)
    WITH v AS (SELECT user_id, event_id AS view_id, ts AS v_ts
          FROM events WHERE event_type = 'view'
            AND ts > TIMESTAMP '1970-01-01'),
    c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
          FROM events WHERE event_type = 'click'
            AND ts > TIMESTAMP '1970-01-01'),
    wm AS (SELECT least((SELECT max(v_ts) FROM v),
                        (SELECT max(c_ts) FROM c))
                  - INTERVAL 1 HOUR AS w),
    m AS (SELECT v.user_id, v.view_id, c.click_id, v.v_ts
          FROM v JOIN c ON v.user_id = c.user_id
           AND c.c_ts > v.v_ts AND c.c_ts <= v.v_ts + INTERVAL 4 HOUR)
    SELECT user_id, view_id, click_id FROM m
    UNION ALL
    SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS click_id
    FROM v, wm
    WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.view_id = v.view_id)
      AND v.v_ts + INTERVAL 4 HOUR <= wm.w
    """,
    description="stream-stream LEFT OUTER interval join (T7 outer "
    "semantics): matched view→click pairs emit immediately; an unmatched "
    "view emits null-extended ONLY once the watermark passes the end of "
    "its 4h match window — and with one withWatermark node per join "
    "branch, the GLOBAL watermark is the MIN of the branch watermarks "
    "(multipleWatermarkPolicy=min, verified empirically: the progress "
    "watermark tracked max view ts, not max event ts). The oracle models "
    "exactly that cutoff — unmatched views younger than it stay open and "
    "must NOT appear. Scale: the watermark bounds both join-state sides; "
    "outer state is evicted-and-emitted, never retained indefinitely.",
    tags=("T7", "J2", "T4"),
    lint_probe=lambda spark, sf_dir: stream_stream_interval_join(
        _batch_events(spark, sf_dir), "view", "click", "4 hours",
        how="leftOuter"),
)
def st11_stream_outer_join(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    joined = stream_stream_interval_join(stream, "view", "click", "4 hours",
                                         how="leftOuter")
    _, name = run_available_now(joined, output_mode="append")
    return spark.table(name).select(
        F.col("a_user").alias("user_id"),
        F.col("a_id").alias("view_id"),
        F.col("b_id").alias("click_id"),
    )


def _chunked_events_dir(spark, sf_dir: str, n_chunks: int = 4) -> str:
    """Split events into ts-range parquet chunks once per sf; with
    maxFilesPerTrigger=1 each chunk becomes one micro-batch, so state
    genuinely crosses batch boundaries.

    Scale: the split is DISTRIBUTED — chunk boundaries are ``n_chunks - 1``
    approximate ts quantiles (Greenwald–Khanna, O(1) values to the driver),
    rows are bucketed by boundary and written executor-side with
    ``partitionBy(chunk)``; ``repartition(n, chunk)`` pins each chunk to
    one task so every chunk directory holds exactly one file. The events
    table never crosses the driver.
    """
    from .helpers import materialize_once

    def build(out):
        ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
        us = ev.withColumn("ts_us", F.unix_micros("ts"))
        bounds = us.stat.approxQuantile(
            "ts_us", [i / n_chunks for i in range(1, n_chunks)], 0.01)
        chunk = sum(
            (F.col("ts_us") > F.lit(int(b))).cast("int") for b in bounds)
        (us.withColumn("chunk", chunk)
           .drop("ts_us")
           .repartition(n_chunks, "chunk")
           .write.mode("overwrite").partitionBy("chunk").parquet(out))

    # n_chunks is part of the cache identity: layouts of different chunk
    # counts must never be served for one another
    return materialize_once(f"events_chunks_{n_chunks}", sf_dir, ("events",),
                            build)


#: stream schema for the chunked-events layout (chunk is the partition dir)
_CHUNKED_SCHEMA = "ts timestamp, user_id long, value double, chunk int"


def _st7_final_pick(tbl):
    """Cumulative-emission pick: each update-mode emission is cumulative,
    so the final state per key is the row with the largest running count.
    Shared with the lint probe (window partitioned by key — never global)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        tbl.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "n_events",
            (F.col("sum_c").cast("double") / 100).alias("sum_value"),
            "max_value",
        )
    )


def _st7_probe(spark, sf_dir):
    """Batch probe: the stateful half (applyInPandasWithState →
    FlatMapGroupsInPandasWithState) is Arrow-batched by construction and
    has no batch-mode equivalent; the lintable surface is the emission
    shape + the final-pick window, exercised over the batch per-key
    totals."""
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    totals = _batch_events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).alias("sum_c"),
        F.max("value").alias("max_value"),
    )
    return _st7_final_pick(totals)


@register(
    "st7_stateful_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value,
           MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
    description="custom stateful per-key processing as a graded query (T6): "
    "applyInPandasWithState keeps (count, cents-sum, max) per user across 4 "
    "real micro-batches (ts-ordered file chunks, maxFilesPerTrigger=1); the "
    "final cumulative emission per key equals the batch groupBy — the "
    "stream-batch equivalence guarantee under the hash gate. State is "
    "integer cents so cross-batch accumulation is exact. Scale: state is "
    "O(distinct users), partitioned by key across executors; at 100 TB the "
    "same processor runs on the RocksDB state store with watermark-driven "
    "eviction.",
    tags=("T6", "X2"),
    lint_probe=_st7_probe,
)
def st7_stateful_totals(spark, sf_dir):
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..session import ensure_session_conf

    # the chunk cache can make this the only query path that never touches
    # load_table — apply the engine conf (shuffle sizing for the state
    # store, Arrow) explicitly
    ensure_session_conf(spark)
    src = _chunked_events_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(_CHUNKED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    ).drop("chunk")

    def totals_fn(key, pdfs, state):
        import numpy as np
        import pandas as pd

        n, sum_c, mx = state.get if state.exists else (0, 0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            v = pdf["value"].to_numpy()
            # NULL values arrive as NaN: np.rint(NaN).astype(int64) is
            # int64-MIN — one NULL silently poisoned the running sum by
            # -9.2e16 with no error (r7 hostile-corpus find). Mask them
            # out (SUM/MAX skip NULLs); floor(x*100+0.5) matches the
            # oracle's cents convention exactly (np.rint is half-to-even)
            v = v[~np.isnan(v)]
            if len(v):
                sum_c += int(np.floor(v * 100 + 0.5).astype("int64").sum())
                mx = max(mx, float(v.max()))
        state.update((n, sum_c, mx))
        # a key with NO non-null values yet emits NULL sum/max (what
        # SUM/MAX return over an all-NULL group), flagged by the -inf
        # sentinel that nothing real can reach
        empty = mx == float("-inf")
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n],
             "sum_c": [None if empty else sum_c],
             "max_value": [None if empty else mx]})

    result = stream.groupBy("user_id").applyInPandasWithState(
        totals_fn,
        outputStructType="user_id long, n_events long, sum_c long, "
                         "max_value double",
        stateStructType="n long, sum_c long, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _, name = run_available_now(result, output_mode="update")
    return _st7_final_pick(spark.table(name))


@register(
    "s2_partitioned_sink",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1
    """,
    description="batch partitioned parquet sink round-trip (S2): events "
    "written partitionBy(date), read back through the partition-discovery "
    "scan, aggregated per partition value — the sink itself sits under the "
    "hash gate. Scale: partitionBy bounds per-directory file counts and "
    "gives every date-ranged query static partition pruning; the read-back "
    "groupBy keys on the partition column, so input pruning is free.",
    tags=("S2",),
)
def s2_partitioned_sink(spark, sf_dir):
    import os

    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    out = os.path.join(scratch_dir("s2_sink_"), "events_by_date")
    (ev.withColumn("date", F.to_date("ts"))
       .write.mode("overwrite").partitionBy("date").parquet(out))
    back = spark.read.parquet(out)
    return back.groupBy(F.col("date").cast("string").alias("date")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(10,2)")).cast("double")
        .alias("sum_value"),
    )


def _st8_rollup(back):
    return back.groupBy(
        F.col("date").cast("string").alias("date"),
        F.col("hour").cast("bigint").alias("hour"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(10,2)")).cast("double")
        .alias("sum_value"),
    )


def _st8_probe(spark, sf_dir):
    """Batch probe: the sink's derivation (with_partition_columns) chained
    into the read-back rollup — the same columns the stream writes and the
    query aggregates, without executing a write."""
    from ..streaming.sinks import with_partition_columns

    ev = _batch_events(spark, sf_dir).select("ts", "value")
    return _st8_rollup(with_partition_columns(ev, "ts"))


@register(
    "st8_streaming_sink_roundtrip",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS date,
           CAST(hour(ts) AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    description="streaming rotated parquet sink round-trip (S3): the "
    "collector's output path — file stream → writeStream parquet "
    "partitionBy(date, hour) with availableNow trigger → read back → "
    "per-partition rollup under the hash gate. The (date, hour) layout is "
    "the rotation scheme flow queries prune on. Scale: append-mode file "
    "sink parallelizes per partition; small files are the compaction "
    "pass's job (operators/compact.py).",
    tags=("S3", "T8"),
    lint_probe=_st8_probe,
)
def st8_streaming_sink_roundtrip(spark, sf_dir):
    import os

    from ..streaming.sinks import parquet_rotating_sink

    stream = read_events_stream(spark, sf_dir).select("ts", "value")
    base = scratch_dir("st8_sink_")
    out = os.path.join(base, "flows")
    ckpt = os.path.join(base, "ckpt")
    q = parquet_rotating_sink(stream, out, ckpt, ts_col="ts",
                              available_now=True)
    q.awaitTermination()
    return _st8_rollup(spark.read.parquet(out))


def _st12_rollup(back):
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(10,2)")).cast("double")
        .alias("sum_value"),
    )


@register(
    "st12_foreach_batch_sink",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY user_id
    """,
    description="foreachBatch delivery under the hash gate (T8/S7 shape): "
    "four real micro-batches delivered through the idempotent per-batch "
    "writer (each batch overwrites its own batch_id=N directory — the "
    "exactly-once-to-at-least-once-sink recipe the ClickHouse JDBC path "
    "needs, since foreachBatch can redeliver a batch after a failure "
    "between sink write and checkpoint commit), then read back across all "
    "batch directories and aggregated; must equal the batch oracle. "
    "Redelivery idempotency itself is unit-tested by calling the writer "
    "twice with the same batch id.",
    tags=("T8", "S7", "S2"),
    lint_probe=lambda spark, sf_dir: _st12_rollup(
        _batch_events(spark, sf_dir).select("user_id", "value")),
)
def st12_foreach_batch_sink(spark, sf_dir):
    from ..session import ensure_session_conf
    from ..streaming.sinks import (foreach_batch_sink,
                                   idempotent_parquet_batch_writer)

    ensure_session_conf(spark)
    src = _chunked_events_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(_CHUNKED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    ).select("user_id", "value")
    base = scratch_dir("st12_") + "/delivered"
    ckpt = scratch_dir("st12_ckpt_")
    q = foreach_batch_sink(stream, idempotent_parquet_batch_writer(base), ckpt)
    q.awaitTermination()
    # batch_id partition dirs discovered by the read-back
    return _st12_rollup(spark.read.parquet(base))


def _watermark_chunks_dir(spark, sf_dir: str) -> str:
    """Three-batch layout proving watermark late-row dropping (T4).

    chunk 0: the older half of events (ts below the approximate median).
    chunk 1: third quartile.  chunk 2: newest quartile PLUS duplicates of
    the oldest decile — rows ~two weeks behind the watermark batch 0
    established, so Structured Streaming MUST drop every duplicate.

    Why three batches: since the multi-stateful-operator rework (Spark
    3.4+), late-event filtering in batch N uses the watermark derived from
    data through batch N-2 (one batch behind the eviction watermark —
    verified empirically on 4.1.2: a late row in batch 1 after a
    watermark-setting batch 0 is NOT dropped; the same row in batch 2 is,
    and shows up in numRowsDroppedByWatermark). The duplicates therefore
    ride in batch 2, where the late-event watermark is already ≈ the
    median. File mtimes force the batch order (file source runs
    oldest-first).

    Built distributed like ``_chunked_events_dir``: three approximate ts
    quantiles to the driver, bucketing + write executor-side; the driver
    only re-stamps three file mtimes (metadata, not data).
    """
    import glob as globmod
    import os
    import time

    from .helpers import materialize_once

    def build(out):
        ev = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
        us = ev.withColumn("ts_us", F.unix_micros("ts"))
        q10, med, q75 = us.stat.approxQuantile(
            "ts_us", [0.1, 0.5, 0.75], 0.01)
        chunk = (
            (F.col("ts_us") > int(med)).cast("int")
            + (F.col("ts_us") > int(q75)).cast("int")
        )
        late_dups = us.filter(F.col("ts_us") <= int(q10)).withColumn(
            "chunk", F.lit(2))
        chunked = (
            us.withColumn("chunk", chunk).unionAll(late_dups).drop("ts_us")
        )
        (chunked.repartition(3, "chunk")
            .write.mode("overwrite").partitionBy("chunk").parquet(out))
        # order the three micro-batches explicitly (file source sorts by mtime)
        now = time.time()
        for i in (0, 1, 2):
            for f in globmod.glob(os.path.join(out, f"chunk={i}", "*.parquet")):
                os.utime(f, (now - 100 + i * 30, now - 100 + i * 30))

    return materialize_once("wm_chunks", sf_dir, ("events",), build)


def _st10_core(src):
    return (
        src.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "st10_watermark_drop",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 30 MINUTE AS w FROM events)
    SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n
    FROM events, wm
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
      -- epoch floor: the engine's event-time watermark INITIALIZES at
      -- 1970-01-01, so append-mode windows ending at or before the
      -- epoch are born late and never emit (r7 hostile-corpus find)
      AND date_trunc('hour', ts) + INTERVAL 1 HOUR > TIMESTAMP '1970-01-01'
    GROUP BY 1
    """,
    description="watermark late-data semantics as a hash-gated query (T4): "
    "three real micro-batches — batch 2 replays duplicates of the oldest "
    "decile, ~2 weeks behind the late-event watermark by then active, so "
    "the 30-minute watermark must drop every duplicate; append mode "
    "emits only windows the final watermark closed. The oracle is the "
    "plain hourly count over the ORIGINAL events restricted to closed "
    "windows — it matches iff (a) all late duplicates were dropped and "
    "(b) append emitted exactly the closed windows. Scale: watermark "
    "state is bounded by open windows per key-space slice; late data "
    "cannot grow state without bound.",
    tags=("T4", "T1", "T8"),
    lint_probe=lambda spark, sf_dir: _st10_core(_batch_events(spark, sf_dir)),
)
def st10_watermark_drop(spark, sf_dir):
    from ..session import ensure_session_conf

    ensure_session_conf(spark)
    src = _watermark_chunks_dir(spark, sf_dir)
    stream = (
        spark.readStream.schema(_CHUNKED_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    ).drop("chunk")
    agg = _st10_core(stream)
    _, name = run_available_now(agg, output_mode="append")
    return spark.table(name).select(
        F.col("window.start").alias("bucket"), "n")


def _st14_seen(spark, sf_dir):
    return (load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 7 == 0)
            .select(F.col("event_id").alias("seen_id")))


def _st14_core(src, seen):
    fresh = src.join(seen, src.event_id == seen.seen_id, "left_anti")
    return fresh.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.min("event_id").cast("bigint").alias("min_new_id"),
    )


@register(
    "st14_stream_antijoin_dedup",
    oracle="""
    WITH seen AS (SELECT event_id FROM events WHERE event_id % 7 = 0)
    SELECT event_type, COUNT(*) AS n_new,
           CAST(MIN(event_id) AS BIGINT) AS min_new_id
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.event_id = e.event_id)
    GROUP BY event_type
    """,
    description="stream-static LEFT ANTI join (T7 family): the STREAMING "
    "half of incremental ingest dedup (batch twin: l26) — arriving events "
    "whose id already exists in the static already-ingested catalog are "
    "dropped in-flight, survivors aggregate per type. The static side "
    "behaves like any dim table: at scale it broadcast- or shuffle-joins "
    "per micro-batch with no streaming state for the anti side.",
    tags=("T7", "J4"),
    lint_probe=lambda spark, sf_dir: _st14_core(
        _batch_events(spark, sf_dir), _st14_seen(spark, sf_dir)),
)
def st14_stream_antijoin_dedup(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    agg = _st14_core(stream, _st14_seen(spark, sf_dir))
    _, name = run_available_now(agg, output_mode="complete")
    return spark.table(name)


def _st15_core(src):
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    lvl1 = (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("cents"))
    )
    lvl2 = (
        lvl1.groupBy(F.window(F.window_time("window"), "1 hour"),
                     "event_type")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"),
             F.count(F.lit(1)).alias("n_buckets"))
    )
    return lvl2.select(
        F.col("window.start").alias("hour_start"),
        "event_type", "n", "cents", "n_buckets",
    )


@register(
    "st15_stream_chained_rollup",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM events),
    b AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS b15, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      -- epoch floor: level-1 windows ending at/before 1970-01-01 are
      -- born late (watermark initializes at the epoch; r7 hostile find);
      -- NULL ts never has an event time
      FROM events
      WHERE ts IS NOT NULL
        AND time_bucket(INTERVAL 15 MINUTE, ts) + INTERVAL 15 MINUTE
            > TIMESTAMP '1970-01-01'
      GROUP BY 1, 2
    )
    SELECT time_bucket(INTERVAL 1 HOUR, b15) AS hour_start, event_type,
           CAST(SUM(n) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM b, wm
    WHERE time_bucket(INTERVAL 1 HOUR, b15) + INTERVAL 1 HOUR <= w
    GROUP BY 1, 2
    """,
    description="CHAINED stateful streaming aggregation (Spark 3.5+/4 "
    "multiple-stateful-operator support; batch twin t11): a 15-minute "
    "streaming rollup re-windowed via window_time into hourly buckets in "
    "the SAME streaming query, append mode — the state-shrinking pattern "
    "for long-horizon streaming rollups (level-2 state holds 4 rows per "
    "key-hour, not events). Append emits exactly the hours the final "
    "watermark (10 min) closed; the oracle is the batch two-level rollup "
    "restricted to closed hours. Integer cents keep both levels exact.",
    tags=("T1", "T4", "T8"),
    lint_probe=lambda spark, sf_dir: _st15_core(_batch_events(spark, sf_dir)),
)
def st15_stream_chained_rollup(spark, sf_dir):
    out = _st15_core(read_events_stream(spark, sf_dir))
    _, name = run_available_now(out, output_mode="append")
    return spark.table(name)


def _st16_core(feed_a, feed_b):
    a = feed_a.filter(F.col("event_type").isin("click", "view"))
    b = feed_b.filter(F.col("event_type").isin("view", "purchase"))
    unioned = a.unionByName(b).select("event_type", "value")
    return unioned.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(10,2)")).cast("double")
        .alias("sum_value"),
    )


@register(
    "st16_stream_union",
    oracle="""
    WITH u AS (
      SELECT event_type, value FROM events
      WHERE event_type IN ('click', 'view')
      UNION ALL
      SELECT event_type, value FROM events
      WHERE event_type IN ('view', 'purchase')
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value
    FROM u GROUP BY event_type
    """,
    description="multi-source streaming topology (S8/T1): two readStream "
    "sources (overlapping type filters standing in for two capture feeds) "
    "unioned into ONE streaming aggregation — rows in both feeds count "
    "twice, pinning bag-union semantics. The collector shape for merging "
    "several exporters' capture directories into one pipeline. Scale: "
    "each source scans independently (per-source parallelism), the union "
    "is a no-shuffle narrow op, and state is shared downstream.",
    tags=("S8", "T1", "U1"),
    lint_probe=lambda spark, sf_dir: _st16_core(
        _batch_events(spark, sf_dir), _batch_events(spark, sf_dir)),
)
def st16_stream_union(spark, sf_dir):
    agg = _st16_core(read_events_stream(spark, sf_dir),
                     read_events_stream(spark, sf_dir))
    _, name = run_available_now(agg, output_mode="complete")
    return spark.table(name)
