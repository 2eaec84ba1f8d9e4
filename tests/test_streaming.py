"""Structured Streaming behavior tests (SURVEY §2.9 rows-only surface):
watermark/late-data, stateful processing, sinks, and the IPFIX streaming
source — verified by stream-batch equivalence and golden behavior, since
these aren't oracle-expressible.
"""

from __future__ import annotations

import os
import uuid

import pandas as pd
import pyspark.sql.functions as F
import pytest

from nf2pq_spark.sources.tables import load_table
from nf2pq_spark.streaming.jobs import read_events_stream, run_available_now
from nf2pq_spark.streaming.sinks import foreach_batch_sink, parquet_rotating_sink


def _write_chunk(dirname: str, name: str, rows: list[dict], spark):
    pdf = pd.DataFrame(rows)
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64") and pdf[c].dt.tz is None:
            pdf[c] = pdf[c].dt.tz_localize("UTC")  # watermarks need TIMESTAMP (tz)
    pdf.to_parquet(os.path.join(dirname, name), coerce_timestamps="us",
                   allow_truncated_timestamps=True)


def test_watermark_drops_late_rows(spark, new_dir):
    """T4: a row arriving after its window's state was evicted is dropped.

    Note the exact semantics (verified empirically): the watermark is a
    *lower bound* guarantee — a late row is only dropped once the window's
    state has been evicted in a PRIOR batch (allowed lateness is at least
    the watermark delay, possibly one batch more). Hence three chunks:
    c1 populates hours 0–1, c2 pushes the watermark past hour 0's end so
    its state evicts+emits, c3 delivers the too-late row.
    """
    import time

    src = new_dir("late_src")
    base = pd.Timestamp("2024-01-01 00:00:00")
    _write_chunk(src, "c1.parquet", [
        {"ts": base + pd.Timedelta(minutes=m), "k": "a"} for m in (5, 10, 80)
    ], spark)
    time.sleep(1.05)  # distinct mtimes → deterministic file→batch order
    _write_chunk(src, "c2.parquet", [
        {"ts": base + pd.Timedelta(hours=3, minutes=5), "k": "b"},
    ], spark)
    time.sleep(1.05)
    _write_chunk(src, "c3.parquet", [
        {"ts": base + pd.Timedelta(minutes=1), "k": "late"},
    ], spark)
    stream = (spark.readStream.schema("ts timestamp, k string")
              .option("maxFilesPerTrigger", 1).parquet(src))
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 hour")).agg(F.count(F.lit(1)).alias("n")))
    name = f"late_{uuid.uuid4().hex[:8]}"
    ckpt = new_dir("late_ckpt")
    q = (agg.writeStream.format("memory").queryName(name).outputMode("append")
         .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
    q.awaitTermination()
    dropped = sum(p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
                  for p in q.recentProgress if p["stateOperators"])
    rows = {r["window"].start.hour: r.n for r in spark.table(name).collect()}
    assert dropped == 1
    assert rows.get(0) == 2  # late arrival did NOT bump the closed window


def test_apply_in_pandas_with_state(spark, new_dir):
    """T6: custom stateful per-key processing — running event count per user
    across micro-batches equals the batch groupBy count."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = new_dir("state_src")
    base = pd.Timestamp("2024-01-01")
    _write_chunk(src, "c1.parquet",
                 [{"ts": base, "uid": i % 3, "v": float(i)} for i in range(30)], spark)
    _write_chunk(src, "c2.parquet",
                 [{"ts": base, "uid": i % 3, "v": float(i)} for i in range(15)], spark)

    def count_fn(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"uid": [key[0]], "n": [total]})

    stream = (spark.readStream.schema("ts timestamp, uid long, v double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    result = (stream.groupBy("uid").applyInPandasWithState(
        count_fn, outputStructType="uid long, n long",
        stateStructType="n long", outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout))
    _, name = run_available_now(result, output_mode="update")
    final = {r.uid: r.n for r in
             spark.table(name).groupBy("uid").agg(F.max("n").alias("n")).collect()}
    assert final == {0: 15, 1: 15, 2: 15}


def test_apply_in_pandas_with_state_timeout_evicts(spark, new_dir):
    """T6 state-eviction path: a key that stops receiving data must be
    closed out via GroupStateTimeout.ProcessingTimeTimeout — the handler
    runs with hasTimedOut=True and an empty batch iterator, emits the
    final row, and removes the state (bounded state at 100 TB depends on
    this eviction working).

    NB: trigger(availableNow) is unusable here — with processing-time
    timeouts the planner sees an expired timer after every batch and keeps
    scheduling micro-batches forever (observed live: 50+ empty batches).
    So this runs the default micro-batch trigger, polls the memory sink
    for the eviction row, and stops the query explicitly.
    """
    import time
    import uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    src = new_dir("state_to_src")
    base = pd.Timestamp("2024-01-01")
    # uid 9 appears ONLY in the first chunk; uids 0-2 keep flowing
    _write_chunk(src, "c1.parquet",
                 [{"ts": base, "uid": 9, "v": 1.0}] * 4
                 + [{"ts": base, "uid": i % 3, "v": 0.0} for i in range(9)],
                 spark)
    _write_chunk(src, "c2.parquet",
                 [{"ts": base, "uid": i % 3, "v": 0.0} for i in range(9)],
                 spark)

    def close_fn(key, pdfs, state):
        if state.hasTimedOut:
            (total,) = state.get
            state.remove()
            yield pd.DataFrame({"uid": [key[0]], "n": [total],
                                "closed": [True]})
            return
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        state.setTimeoutDuration(1)  # ms: expire before the next trigger
        yield pd.DataFrame({"uid": [key[0]], "n": [total], "closed": [False]})

    stream = (spark.readStream.schema("ts timestamp, uid long, v double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    result = (stream.groupBy("uid").applyInPandasWithState(
        close_fn, outputStructType="uid long, n long, closed boolean",
        stateStructType="n long", outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout))
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (result.writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", new_dir("ckpt_to"))
         .start())
    try:
        deadline = time.time() + 90
        closed = {}
        while time.time() < deadline:
            closed = {r.uid: r.n for r in spark.table(name).collect()
                      if r.closed}
            if 9 in closed:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    # uid 9's state was evicted exactly once, carrying its final count
    assert closed.get(9) == 4


def test_transform_with_state_in_pandas(spark, new_dir):
    """T6 (Spark 4 API): transformWithStateInPandas stateful processor —
    per-key running max across micro-batches."""
    try:
        from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    except ImportError:
        pytest.skip("transformWithStateInPandas API not present")
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        # the TWS state-server protocol is protobuf-based; without the
        # package the driver worker crashes at init. applyInPandasWithState
        # (tested above) covers the stateful-processing surface here.
        pytest.skip("transformWithStateInPandas needs google.protobuf "
                    "(not installed in this environment)")

    src = new_dir("tws_src")
    base = pd.Timestamp("2024-01-01")
    _write_chunk(src, "c1.parquet",
                 [{"ts": base, "uid": i % 2, "v": float(i)} for i in range(10)], spark)
    _write_chunk(src, "c2.parquet",
                 [{"ts": base, "uid": i % 2, "v": float(i + 100)} for i in range(4)], spark)

    class RunningMax(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.state = handle.getValueState("mx", "mx double")

        def handleInputRows(self, key, rows, timerValues):
            mx = self.state.get()[0] if self.state.exists() else float("-inf")
            for pdf in rows:
                mx = max(mx, float(pdf["v"].max()))
            self.state.update((mx,))
            yield pd.DataFrame({"uid": [key[0]], "mx": [mx]})

        def close(self):
            pass

    # transformWithState requires the RocksDB state store provider
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (spark.readStream.schema("ts timestamp, uid long, v double")
                  .option("maxFilesPerTrigger", 1).parquet(src))
        result = stream.groupBy("uid").transformWithStateInPandas(
            RunningMax(), outputStructType="uid long, mx double",
            outputMode="Update", timeMode="None")
        _, name = run_available_now(result, output_mode="update")
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
    final = {r.uid: r.mx for r in
             spark.table(name).groupBy("uid").agg(F.max("mx").alias("mx")).collect()}
    assert final == {0: 102.0, 1: 103.0}


def test_stream_maintained_rollup(spark, sf_dir, new_dir):
    """Continuous aggregate maintained from the stream equals the batch
    rollup (operators.rollup)."""
    from nf2pq_spark.operators.rollup import (build_rollup, query_rollup,
                                              stream_maintain_rollup)

    batch_path = new_dir("rb") + "/rollup"
    build_rollup(load_table(spark, sf_dir, "events"), batch_path)
    stream_path = new_dir("rs") + "/rollup"
    q = stream_maintain_rollup(read_events_stream(spark, sf_dir), stream_path,
                               new_dir("rck"))
    q.awaitTermination()
    b = {tuple(r) for r in query_rollup(spark, batch_path, "day").collect()}
    s = {tuple(r) for r in query_rollup(spark, stream_path, "day").collect()}
    assert b == s


def test_stream_maintained_rollup_multi_batch(spark, sf_dir, new_dir):
    """The regression the one-file fixture hides: a date spanning SEVERAL
    micro-batches must keep every batch's contribution — the old refresh
    overwrote each date partition with only the current batch's rows, so
    the final table held just the LAST batch's slice of each date."""
    from nf2pq_spark.operators.rollup import (build_rollup, query_rollup,
                                              stream_maintain_rollup)
    from nf2pq_spark.plans.streaming_q import (_CHUNKED_SCHEMA,
                                               _chunked_events_dir)

    src = _chunked_events_dir(spark, sf_dir, n_chunks=4)
    stream = (spark.readStream.schema(_CHUNKED_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .drop("chunk").withColumn("event_type", F.lit("x")))
    stream_path = new_dir("rs4") + "/rollup"
    q = stream_maintain_rollup(stream, stream_path,
                               new_dir("rck4"))
    q.awaitTermination()
    batch_path = new_dir("rb4") + "/rollup"
    batch = (spark.read.parquet(src).drop("chunk")
             .withColumn("event_type", F.lit("x")))
    build_rollup(batch, batch_path)
    b = {tuple(r) for r in query_rollup(spark, batch_path, "day").collect()}
    s = {tuple(r) for r in query_rollup(spark, stream_path, "day").collect()}
    assert b == s



def test_chunked_events_dir_keys_cache_on_chunk_count(spark, sf_dir):
    """Layouts of different chunk counts are separate caches: a 3-chunk
    call must not be served to a later 4-chunk call (or vice versa)."""
    from nf2pq_spark.plans.streaming_q import _chunked_events_dir

    def chunk_dirs(src):
        return sorted(d for d in os.listdir(src) if d.startswith("chunk="))

    src3 = _chunked_events_dir(spark, sf_dir, n_chunks=3)
    src4 = _chunked_events_dir(spark, sf_dir, n_chunks=4)
    assert src3 != src4
    assert len(chunk_dirs(src3)) == 3
    assert len(chunk_dirs(src4)) == 4

def test_compact_rollup_preserves_results_and_guards_layout(spark, sf_dir,
                                                            new_dir):
    """r4 advice: build_rollup targeting a stream-maintained path would
    leave a mixed-depth partition tree (date= vs date=/batch_id=) that
    bricks the next read — it must refuse and point at compact_rollup,
    and compact_rollup must collapse the per-batch partials to a single
    batch_id=-1 set without changing any query_rollup answer."""
    import pytest

    from nf2pq_spark.operators.rollup import (build_rollup, compact_rollup,
                                              query_rollup,
                                              stream_maintain_rollup)
    from nf2pq_spark.plans.streaming_q import (_CHUNKED_SCHEMA,
                                               _chunked_events_dir)

    src = _chunked_events_dir(spark, sf_dir, n_chunks=3)
    stream = (spark.readStream.schema(_CHUNKED_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src)
              .drop("chunk").withColumn("event_type", F.lit("x")))
    path = new_dir("rc") + "/rollup"
    q = stream_maintain_rollup(stream, path, new_dir("rcc"))
    q.awaitTermination()

    before = {tuple(r) for r in query_rollup(spark, path, "day").collect()}
    batches_before = set(
        spark.read.parquet(path).select("batch_id").distinct()
        .toPandas()["batch_id"])
    assert len(batches_before) > 1  # the partials really span batches

    batch = (spark.read.parquet(src).drop("chunk")
             .withColumn("event_type", F.lit("x")))
    with pytest.raises(ValueError, match="compact_rollup"):
        build_rollup(batch, path)

    # a crashed prior compaction's orphan tmp must be cleaned up, not
    # break the swap (crash-safe protocol: write to sibling tmp while the
    # source files stay intact, then rmtree+rename — never an in-place
    # overwrite whose job-start delete destroys the only on-disk copy)
    orphan = path.rstrip("/") + "__compact_tmp"
    os.makedirs(orphan)
    with open(os.path.join(orphan, "junk"), "w") as fh:
        fh.write("x")
    compact_rollup(spark, path)
    assert not os.path.exists(orphan)  # swap completed, no tmp left
    after = {tuple(r) for r in query_rollup(spark, path, "day").collect()}
    assert after == before
    batches_after = set(
        spark.read.parquet(path).select("batch_id").distinct()
        .toPandas()["batch_id"])
    assert batches_after == {-1}  # superseded partials actually removed
    # compaction is idempotent and the layout still accepts a re-read
    compact_rollup(spark, path)
    assert {tuple(r) for r in
            query_rollup(spark, path, "day").collect()} == before

    # r5 advice (high): the documented compact-then-RESUME workflow. The
    # resumed stream appends fresh (date, batch_id>=0) partials next to
    # the compacted batch_id=-1 files; if compaction narrowed
    # sum_value_dec to decimal(10,2) the table would now mix INT64 and
    # FIXED_LEN_BYTE_ARRAY physical encodings for the same column and
    # every read (query_rollup AND the next compact_rollup) would fail
    # with PARQUET_COLUMN_DATA_TYPE_MISMATCH.
    extra_src = new_dir("rce") + "/events"
    (batch.limit(700).withColumn("value", F.col("value") * 2)
          .write.parquet(extra_src))
    resumed = (spark.readStream.schema(spark.read.parquet(extra_src).schema)
               .parquet(extra_src))
    q2 = stream_maintain_rollup(resumed, path,
                                new_dir("rcc2"))
    q2.awaitTermination()
    expected_path = new_dir("rcx") + "/rollup"
    build_rollup(batch.unionByName(spark.read.parquet(extra_src)),
                 expected_path)
    expected = {tuple(r) for r in
                query_rollup(spark, expected_path, "day").collect()}
    assert {tuple(r) for r in
            query_rollup(spark, path, "day").collect()} == expected
    # and the NEXT compaction folds the mixed files without error
    compact_rollup(spark, path)
    assert {tuple(r) for r in
            query_rollup(spark, path, "day").collect()} == expected


def test_compact_rollup_resumes_interrupted_swap(spark, sf_dir, new_dir):
    """r6 verdict #1: a crash INSIDE compact_rollup's swap window — after
    ``rmtree(path)``, before ``rename(tmp, path)`` — leaves the tmp dir as
    the ONLY complete copy of the table. The old recovery unconditionally
    rmtree'd the tmp ("orphan") and then failed reading the missing path,
    i.e. deleted the sole surviving copy. Recovery must instead finish the
    interrupted rename and produce the correct table."""
    from nf2pq_spark.operators.rollup import (build_rollup, compact_rollup,
                                              query_rollup)
    from nf2pq_spark.plans.streaming_q import _chunked_events_dir

    src = _chunked_events_dir(spark, sf_dir, n_chunks=3)
    batch = (spark.read.parquet(src).drop("chunk")
             .withColumn("event_type", F.lit("x")))
    path = new_dir("rcr") + "/rollup"
    build_rollup(batch, path)
    expected = {tuple(r) for r in query_rollup(spark, path, "day").collect()}

    # Simulate the exact crash state: the write job completed into tmp,
    # rmtree(path) ran, the process died before rename. Renaming the live
    # table to the tmp name reproduces it bit-for-bit (tmp = a complete,
    # readable table; path = gone).
    tmp = path.rstrip("/") + "__compact_tmp"
    os.rename(path, tmp)
    assert not os.path.exists(path)

    compact_rollup(spark, path)  # must resume the swap, not delete tmp
    assert os.path.exists(path) and not os.path.exists(tmp)
    got = {tuple(r) for r in query_rollup(spark, path, "day").collect()}
    assert got == expected
    batches = set(spark.read.parquet(path).select("batch_id").distinct()
                  .toPandas()["batch_id"])
    assert batches == {-1}

    # The OTHER crash shape is unchanged: tmp present AND path present
    # (write-phase orphan) still gets cleaned up, table untouched.
    os.makedirs(tmp)
    with open(os.path.join(tmp, "junk"), "w") as fh:
        fh.write("x")
    compact_rollup(spark, path)
    assert not os.path.exists(tmp)
    assert {tuple(r) for r in
            query_rollup(spark, path, "day").collect()} == expected

    # A trailing-slash spelling of the table path must survive BOTH
    # renames: os.rename to a trailing-slash target that does not exist
    # fails on POSIX, so an unnormalized path would break the final swap
    # and — in the crash state above — the recovery rename of the only
    # surviving copy.
    compact_rollup(spark, path + "/")          # normal swap
    os.rename(path, tmp)                       # crash state again
    compact_rollup(spark, path + "/")          # recovery rename
    assert os.path.exists(path) and not os.path.exists(tmp)
    assert {tuple(r) for r in
            query_rollup(spark, path, "day").collect()} == expected


def test_compact_rollup_three_step_swap_crash_states(spark, sf_dir, new_dir):
    """r7 advice (medium): the old recovery disambiguated purely on
    path-existence, so a crash MID-rmtree(path) — path partially deleted
    but still present — took the 'orphan' branch, deleted tmp (the only
    complete copy) and silently re-compacted the torn table. The
    three-step swap (rename path→old, rename tmp→path, rmtree old) never
    destructively walks the live copy; every crash state must recover to
    the correct full table."""
    import shutil

    from nf2pq_spark.operators.rollup import (build_rollup, compact_rollup,
                                              query_rollup)
    from nf2pq_spark.plans.streaming_q import _chunked_events_dir

    src = _chunked_events_dir(spark, sf_dir, n_chunks=3)
    batch = (spark.read.parquet(src).drop("chunk")
             .withColumn("event_type", F.lit("x")))
    path = new_dir("rcr3") + "/rollup"
    build_rollup(batch, path)
    expected = {tuple(r) for r in query_rollup(spark, path, "day").collect()}
    tmp, old = path + "__compact_tmp", path + "__compact_old"

    def check():
        assert os.path.exists(path)
        assert not os.path.exists(tmp) and not os.path.exists(old)
        assert {tuple(r) for r in
                query_rollup(spark, path, "day").collect()} == expected

    # State A — crash MID-rmtree(old): old present but PARTIALLY deleted
    # (the advice's exact shape, now on the superseded dir instead of the
    # live one). path is the complete new table; recovery must finish
    # deleting old and compact normally.
    compact_rollup(spark, path)
    shutil.copytree(path, old)
    for f in sorted(os.listdir(old)):           # tear: delete some entries
        shutil.rmtree(os.path.join(old, f), ignore_errors=True)
        break
    compact_rollup(spark, path)
    check()

    # State B — crash between the two renames: old = complete previous
    # table, tmp = complete new table, path ABSENT. Recovery must roll
    # FORWARD (tmp wins) and drop old — never delete tmp.
    shutil.copytree(path, tmp)
    os.rename(path, old)
    compact_rollup(spark, path)
    check()

    # State C — old alone (external cleanup removed the tmp): restore the
    # surviving copy rather than fail on a missing table.
    os.rename(path, old)
    compact_rollup(spark, path)
    check()

    # State D — swap finished but a stray partial tmp ALSO survives next
    # to old (defensive branch): both cleaned, table intact.
    shutil.copytree(path, old)
    os.makedirs(tmp)
    with open(os.path.join(tmp, "junk"), "w") as fh:
        fh.write("x")
    compact_rollup(spark, path)
    check()


def test_parquet_rotating_sink_partitions(spark, sf_dir, new_dir):
    """S3: the collector's rotated-file sink writes a date/hour-partitioned
    layout that time-range queries can prune."""
    stream = read_events_stream(spark, sf_dir)
    out = new_dir("sink_out") + "/data"
    ckpt = new_dir("sink_ckpt")
    q = parquet_rotating_sink(stream, out, ckpt, available_now=True)
    q.awaitTermination()
    written = spark.read.parquet(out)
    n_src = load_table(spark, sf_dir, "events").count()
    assert written.count() == n_src
    assert {"date", "hour"} <= set(written.columns)
    # partition dirs actually exist on disk (pruning-capable layout)
    assert any(d.startswith("date=") for d in os.listdir(out))


def test_foreach_batch_sink_receives_all_rows(spark, sf_dir, new_dir):
    """S7 seam: the ClickHouse path's foreachBatch plumbing delivers every
    micro-batch (JDBC writer itself needs a server + driver, absent here)."""
    stream = read_events_stream(spark, sf_dir)
    ckpt = new_dir("fb_ckpt")
    counts = []
    q = foreach_batch_sink(
        stream.select("event_id"),
        lambda df, bid: counts.append(df.count()),
        ckpt,
    )
    q.awaitTermination()
    assert sum(counts) == load_table(spark, sf_dir, "events").count()


def test_clickhouse_ddl_from_flow_schema(spark, sf_dir):
    """S7: generated MergeTree DDL covers the decoded flow schema."""
    from nf2pq_spark.plans.collector import _datagram_dir
    from nf2pq_spark.sources.ipfix import read_flow_files
    from nf2pq_spark.streaming.sinks import clickhouse_ddl

    flows = read_flow_files(spark, _datagram_dir(spark, sf_dir, "v5"))
    ddl = clickhouse_ddl(flows, "flows", order_by=["exporter", "ts_ms"],
                         partition_by="toDate(ts_ms / 1000)")
    assert "ENGINE = MergeTree()" in ddl
    assert "`sa` Nullable(String)" in ddl
    assert "`ts_ms` Int64" in ddl          # ORDER BY column stays non-null
    assert "ORDER BY (exporter, ts_ms)" in ddl
    assert "PARTITION BY toDate(ts_ms / 1000)" in ddl


def test_compact_partitions(spark, sf_dir, new_dir):
    """S3 maintenance: the small-file compaction pass preserves data and
    reduces file counts."""
    import glob

    from nf2pq_spark.streaming.sinks import compact_partitions, with_partition_columns

    src = new_dir("compact") + "/data"
    ev = with_partition_columns(load_table(spark, sf_dir, "events"))
    # simulate streaming small-file buildup: many partitions per (date,hour)
    ev.repartition(8).write.partitionBy("date", "hour").parquet(src)
    n_before = len(glob.glob(f"{src}/date=*/hour=*/*.parquet"))
    compact_partitions(spark, src)
    out = src + "_compacted"
    n_after = len(glob.glob(f"{out}/date=*/hour=*/*.parquet"))
    assert n_after < n_before
    assert spark.read.parquet(out).count() == ev.count()

    # trailing-slash spelling must normalize to the SAME sibling dst —
    # "src/" + "_compacted" would otherwise nest the compacted copy
    # inside the source dataset and double the data on the next read
    # (the alias guard would reject it; the wrapper must not get there)
    import shutil
    shutil.rmtree(out)
    compact_partitions(spark, src + "/")
    assert spark.read.parquet(out).count() == ev.count()
    assert not glob.glob(f"{src}/_compacted*")


def test_rate_source_smoke(spark):
    """S8: built-in rate source runs one bounded trigger."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", 100).load()
    name = f"rate_{uuid.uuid4().hex[:8]}"
    # availableNow bounds the run: rate offsets advance with the wall clock,
    # so processAllAvailable() on a loaded machine chases them forever
    q = (stream.writeStream.format("memory").queryName(name)
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    assert spark.table(name).count() >= 0


def test_streaming_session_window(spark, sf_dir):
    """T3 streaming form: session windows under a stream match the batch
    session query (stream-batch equivalence)."""
    from nf2pq_spark import plans

    stream = read_events_stream(spark, sf_dir)
    sess = (stream.withWatermark("ts", "1 hour")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("session_window.start").alias("session_start"),
                    "n_events"))
    _, name = run_available_now(sess, output_mode="complete")
    got = {(r.user_id, r.session_start, r.n_events)
           for r in spark.table(name).collect()}
    batch = plans.REGISTRY["t3_session_window"].fn(spark, sf_dir).select(
        "user_id", "session_start", "n_events").collect()
    expect = {(r.user_id, r.session_start, r.n_events) for r in batch}
    assert got == expect


def test_ipfix_streaming_source(spark, sf_dir, new_dir):
    """S5/S6 streaming: datagram files consumed as a binaryFile stream
    (foreachBatch two-phase decode) yield the same flows as the batch read."""
    from nf2pq_spark.plans.collector import _datagram_dir
    from nf2pq_spark.sources.ipfix import read_flow_files, stream_flow_files

    path = _datagram_dir(spark, sf_dir, "ipfix")
    batch_n = read_flow_files(spark, path).count()
    got = []
    ckpt = new_dir("flow_ckpt")
    q = stream_flow_files(spark, path,
                          lambda flows, bid: got.append(flows.count()), ckpt)
    q.awaitTermination()
    assert sum(got) == batch_n == 1000


def test_drop_duplicates_within_watermark(spark, new_dir):
    """T5: dropDuplicatesWithinWatermark dedups re-deliveries inside the
    watermark window while allowing state eviction."""
    src = new_dir("ddww_src")
    base = pd.Timestamp("2024-01-01 00:00:00")
    _write_chunk(src, "c1.parquet", [
        {"ts": base, "k": 1}, {"ts": base + pd.Timedelta(seconds=30), "k": 1},
        {"ts": base + pd.Timedelta(seconds=10), "k": 2},
    ], spark)
    stream = (spark.readStream.schema("ts timestamp, k long").parquet(src))
    deduped = (stream.withWatermark("ts", "10 minutes")
               .dropDuplicatesWithinWatermark(["k"]))
    _, name = run_available_now(deduped.select("k"), output_mode="append")
    ks = sorted(r.k for r in spark.table(name).collect())
    assert ks == [1, 2]  # the re-delivered k=1 inside the window deduped


def test_st2_dedup_equals_batch_distinct_under_chunked_triggers(spark, sf_dir):
    """r4 advice: st2's equality with batch DISTINCT must be STRUCTURAL,
    not an artifact of single-batch input — with the watermark wider
    than the fixture's event-time span, no key can age out mid-run, so
    the same equality holds when the source is force-chunked into one
    file per micro-batch."""
    from nf2pq_spark.plans.streaming_q import (_CHUNKED_SCHEMA,
                                               _chunked_events_dir,
                                               run_available_now)
    from nf2pq_spark.streaming.jobs import streaming_dedup

    src = _chunked_events_dir(spark, sf_dir, n_chunks=4)
    stream = (spark.readStream.schema(_CHUNKED_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src).drop("chunk"))
    deduped = streaming_dedup(stream, ["user_id"],
                              watermark="45 days").select("user_id")
    _, name = run_available_now(deduped, output_mode="append")
    got = sorted(r.user_id for r in spark.table(name).collect())
    want = sorted(r.user_id for r in
                  spark.read.parquet(src).select("user_id")
                  .distinct().collect())
    assert got == want  # user_ids repeat across ts-range chunks, so this
    # genuinely exercises cross-batch state, not within-batch dedup


def test_kafka_flow_stream_builder(spark):
    """S5 Kafka path: builder constructs the plan; executing needs a broker
    + kafka package, absent here."""
    from nf2pq_spark.streaming.jobs import read_kafka_flow_stream

    try:
        df = read_kafka_flow_stream(spark, "localhost:9092", "flows")
        assert [f.name for f in df.schema.fields][:4] == ["ts_ms", "te_ms", "sa", "da"]
    except Exception as e:
        pytest.skip(f"kafka source unavailable in this env: {type(e).__name__}")


def test_checkpoint_restart_exactly_once(spark, sf_dir, new_dir):
    """Restart resilience: a stopped stream restarted from the same
    checkpoint must process only files it hasn't committed — exactly-once
    output across the restart boundary (the collector daemon's crash/restart
    contract)."""
    ev = (load_table(spark, sf_dir, "events")
          .select("event_id", "ts", "user_id").toPandas())
    src = new_dir("restart_src")
    half = len(ev) // 2
    _write_chunk(src, "c0.parquet", ev.iloc[:half].to_dict("records"), spark)

    out = new_dir("restart_out") + "/data"
    ckpt = new_dir("restart_ckpt")
    schema = "event_id long, ts timestamp, user_id long"

    def run_leg():
        q = (spark.readStream.schema(schema).parquet(src)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_leg()  # leg 1: first half committed, then the query stops
    assert spark.read.parquet(out).count() == half

    # more data arrives while the query is down; the restart picks up ONLY
    # the new file (the checkpoint's file log holds the committed one)
    _write_chunk(src, "c1.parquet", ev.iloc[half:].to_dict("records"), spark)
    run_leg()  # leg 2: same checkpoint — a restart, not a fresh query

    final = spark.read.parquet(out)
    assert final.count() == len(ev)  # no loss
    assert final.select("event_id").distinct().count() == len(ev)  # no dups


def test_rocksdb_state_store_stream_batch_equivalence(spark, sf_dir):
    """The 100 TB state path: the same windowed rollup runs under the
    RocksDB state store provider (disk-backed, bounded-memory state — what
    a real cluster uses for large keyspaces) and must equal both the
    default-provider stream result and the batch groupBy."""
    from pyspark.sql import functions as F

    from nf2pq_spark.sources.tables import load_table
    from nf2pq_spark.streaming.jobs import (read_events_stream,
                                            run_available_now,
                                            windowed_rollup)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        stream = read_events_stream(spark, sf_dir)
        rolled = windowed_rollup(stream, "1 hour", "10 minutes")
        _, name = run_available_now(rolled, output_mode="complete")
        got = {
            (r["window"]["start"], r["event_type"]): (r["n"], r["sum_value"])
            for r in spark.table(name).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.col("value").cast("decimal(10,2)")).cast("double")
             .alias("sum_value"))
    )
    want = {
        (r["window"]["start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.collect()
    }
    assert got == want


def test_idempotent_batch_writer_redelivery(spark, tmp_path):
    """foreachBatch can redeliver a batch after a failure between sink
    write and checkpoint commit; the idempotent writer must absorb the
    replay (overwrite, not append)."""
    from nf2pq_spark.streaming.sinks import idempotent_parquet_batch_writer

    base = str(tmp_path / "delivered")
    w = idempotent_parquet_batch_writer(base)
    df = spark.range(100).withColumnRenamed("id", "v")
    w(df, 0)
    w(df, 0)  # redelivery of the SAME batch
    w(df.withColumn("v", df.v + 100), 1)
    got = spark.read.parquet(base)
    assert got.count() == 200  # not 300: batch 0 replaced itself
    assert got.select("v").distinct().count() == 200


def test_st7_stateful_totals_null_and_negative_values(spark, tmp_path):
    """st7's per-key stateful accumulator must treat NULL values as SUM
    does (skip; all-NULL key => NULL sum/max) and floor negative cents
    like the oracle. The original np.rint(...).astype(int64) turned one
    NULL (NaN) into int64-MIN — a silent -9.2e16 poisoning of the running
    sum with no error — and int() truncation would round -99.5 cents the
    wrong way (r7 hostile-corpus find)."""
    from datetime import datetime

    import __spark_entry__ as em

    sf = str(tmp_path)
    rows = [
        (datetime(2024, 1, 1, 10, 0, 0), 1, 2.5, "a"),
        (datetime(2024, 1, 1, 10, 1, 0), 1, None, "a"),   # NULL skipped
        (datetime(2024, 1, 1, 10, 2, 0), 1, -0.995, "a"), # floor(-99.0)
        (datetime(2024, 1, 1, 10, 0, 0), 2, None, "a"),   # all-NULL key
        (datetime(2024, 1, 1, 10, 1, 0), 2, None, "a"),
    ]
    spark.createDataFrame(
        rows, "ts timestamp, user_id long, value double, event_type string"
    ).withColumn("event_id", (F.col("user_id") * 10
                              + F.minute("ts")).cast("long")) \
     .withColumn("props", F.lit("{}")) \
     .select("event_id", "ts", "user_id", "event_type", "value", "props") \
     .coalesce(1).write.parquet(f"{sf}/events.parquet")

    got = {r.user_id: r for r in
           em.queries()["st7_stateful_totals"](spark, sf).collect()}
    # user 1: floor(2.5*100+0.5)=250, NULL skipped, floor(-99.5+0.5)=-99
    assert got[1].n_events == 3
    assert abs(got[1].sum_value - (250 - 99) / 100) < 1e-9
    assert got[1].max_value == 2.5
    # user 2: counted rows but NULL aggregates, not 0.0 / -inf / -9.2e16
    assert got[2].n_events == 2
    assert got[2].sum_value is None
    assert got[2].max_value is None


def test_jdbc_batch_writer_dedup_token_is_stable_per_batch():
    """r8: the ClickHouse leg's replay-safety contract — every INSERT
    carries insert_deduplication_token=<prefix>-<batch_id> via the JDBC
    driver's custom_settings, STABLE across redeliveries of the same
    batch (same batch_id -> same token; the server then drops the
    duplicate block). JVM-free: a recording stand-in for the DataFrame
    writer chain."""
    from nf2pq_spark.streaming.sinks import jdbc_batch_writer

    saved = []

    class FakeWriter:
        def __init__(self):
            self.opts = {}

        def format(self, f):
            self.opts["__format"] = f
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def mode(self, m):
            self.opts["__mode"] = m
            return self

        def save(self):
            saved.append(dict(self.opts))

    class FakeDF:
        @property
        def write(self):
            return FakeWriter()

    w = jdbc_batch_writer("jdbc:clickhouse://ch:8123/flows", "flows",
                          {"user": "ingest"}, dedup_token_prefix="nf2pq-flows")
    w(FakeDF(), 7)
    w(FakeDF(), 7)   # redelivery: identical token
    w(FakeDF(), 8)   # next batch: new token
    assert saved[0]["custom_settings"] == \
        "insert_deduplication_token=nf2pq-flows-7"
    assert saved[0] == saved[1]
    assert saved[2]["custom_settings"] == \
        "insert_deduplication_token=nf2pq-flows-8"
    assert saved[0]["__format"] == "jdbc" and saved[0]["__mode"] == "append"
    assert saved[0]["user"] == "ingest"
    assert saved[0]["dbtable"] == "flows"

    # without a prefix the writer stays plain (no stray settings)
    saved.clear()
    jdbc_batch_writer("jdbc:clickhouse://ch:8123/flows", "flows")(FakeDF(), 1)
    assert "custom_settings" not in saved[0]


def test_jdbc_batch_writer_merges_caller_custom_settings():
    """custom_settings is a comma-separated ClickHouse list: the dedup
    token must APPEND to a caller's own settings, not replace them
    (async_insert/quorum silently vanished before; r10 review)."""
    from nf2pq_spark.streaming.sinks import jdbc_batch_writer

    saved = []

    class FakeWriter:
        def __init__(self):
            self.opts = {}

        def format(self, f):
            return self

        def option(self, k, v):
            self.opts[k] = v
            return self

        def mode(self, m):
            return self

        def save(self):
            saved.append(dict(self.opts))

    class FakeDF:
        @property
        def write(self):
            return FakeWriter()

    w = jdbc_batch_writer(
        "jdbc:clickhouse://ch:8123/flows", "flows",
        {"custom_settings": "async_insert=1,insert_quorum=2"},
        dedup_token_prefix="nf2pq-flows")
    w(FakeDF(), 3)
    assert saved[0]["custom_settings"] == (
        "async_insert=1,insert_quorum=2,"
        "insert_deduplication_token=nf2pq-flows-3")


def test_with_partition_columns_rejects_clashing_names(spark):
    """A pre-existing 'date'/'hour' business column would be silently
    REPLACED by the derived partition value in every file written —
    reject loudly instead (r10 review)."""
    import pytest

    from nf2pq_spark.streaming.sinks import with_partition_columns

    df = spark.createDataFrame([("2024-05-05", 1)], "date string, x int") \
        .withColumn("ts", F.current_timestamp())
    with pytest.raises(ValueError, match="date"):
        with_partition_columns(df, "ts")


def test_checkpoint_dedup_salt_scopes_token_space(tmp_path):
    """The default ClickHouse dedup-token prefix is salted per checkpoint
    LINEAGE: stable across restarts of the same query (replay dedup
    keeps working), distinct across independent queries into one table,
    and regenerated after a checkpoint wipe — batch_id restarts at 0
    then, and a colliding token would make the server silently drop the
    fresh run's first batches (r10 advice)."""
    import shutil

    from nf2pq_spark.streaming.sinks import _checkpoint_dedup_salt

    a, b = str(tmp_path / "ckptA"), str(tmp_path / "ckptB")
    s1 = _checkpoint_dedup_salt(a)
    assert s1 == _checkpoint_dedup_salt(a)       # restart: same token space
    assert s1 != _checkpoint_dedup_salt(b)       # second query: distinct
    shutil.rmtree(a)
    assert s1 != _checkpoint_dedup_salt(a)       # reset: fresh space
    # file: scheme in EVERY slash form routes to the same local persist
    # path (r11 review: file:/p was treated as a cwd-relative literal,
    # so a restart from another cwd minted a new salt)
    c = tmp_path / "ckptC"
    s_uri = _checkpoint_dedup_salt(f"file://{c}")
    assert (c / "nf2pq_dedup_salt").exists()
    assert s_uri == _checkpoint_dedup_salt(f"file:{c}")
    assert s_uri == _checkpoint_dedup_salt(str(c))
    # a crash-installed EMPTY salt file must not become a shared ''
    # token space: falls back to the per-URI hash
    e = tmp_path / "ckptE"
    e.mkdir()
    (e / "nf2pq_dedup_salt").write_text("")
    s_empty = _checkpoint_dedup_salt(str(e))
    assert s_empty and s_empty == _checkpoint_dedup_salt(str(e))
    # an unwritable local path degrades to the hash instead of raising
    import hashlib
    ro = "/proc/nf2pq_no_such_writable_place/ck"
    assert _checkpoint_dedup_salt(ro) == \
        hashlib.md5(ro.encode()).hexdigest()[:12]
    # remote URIs (not writable with plain open): deterministic per-URI
    # hash fallback — distinct queries still get distinct spaces
    h1 = _checkpoint_dedup_salt("hdfs://nn/ck1")
    assert h1 == _checkpoint_dedup_salt("hdfs://nn/ck1")
    assert h1 != _checkpoint_dedup_salt("hdfs://nn/ck2")


def test_checkpoint_dedup_salt_uses_checkpoints_filesystem(spark, tmp_path):
    """With a live session the salt persists through the checkpoint's
    ACTUAL filesystem (Hadoop FS API — r11 advice: a scheme-less path
    under a remote fs.defaultFS, or a driver failover to another host,
    must still find the ONE salt the lineage installed, or the replayed
    batch carries a fresh token and ClickHouse double-inserts)."""
    import os

    from nf2pq_spark.streaming.sinks import (_checkpoint_dedup_salt,
                                             _fs_salt_via_hadoop)

    ck = str(tmp_path / "ckpt_fs")
    s = _fs_salt_via_hadoop(ck)
    assert s and len(s) == 12
    # proof the write went through Hadoop's (Checksum)FileSystem, not a
    # driver-local open(): the .crc sibling only Hadoop writes
    assert os.path.exists(os.path.join(ck, "nf2pq_dedup_salt"))
    assert os.path.exists(os.path.join(ck, ".nf2pq_dedup_salt.crc"))
    # the full resolver agrees across every spelling of the same lineage
    assert _checkpoint_dedup_salt(ck) == s
    assert _checkpoint_dedup_salt(f"file://{ck}") == s
    assert _checkpoint_dedup_salt(f"file:{ck}") == s
    # a salt installed by the LOCAL pre-upgrade path (no .crc) is still
    # honored by the Hadoop read — upgrades keep their token space
    ck2 = str(tmp_path / "ckpt_legacy")
    os.makedirs(ck2)
    with open(os.path.join(ck2, "nf2pq_dedup_salt"), "w") as fh:
        fh.write("legacy0salt0")
    assert _fs_salt_via_hadoop(ck2) == "legacy0salt0"
    assert _checkpoint_dedup_salt(ck2) == "legacy0salt0"


#: the queries that write a directory and return a DataFrame reading it back
SCRATCH_QUERIES = ["s2_partitioned_sink", "st8_streaming_sink_roundtrip",
                   "st12_foreach_batch_sink", "s9_orc_roundtrip",
                   "s10_schema_evolution", "st13_capture_stream_sink"]

_SCRATCH_PROBE = r"""
import json, os, sys
from nf2pq_spark import plans
from nf2pq_spark.session import get_spark

spark = get_spark("scratch-owner", cpus=2)
for name in sys.argv[2:]:
    assert plans.REGISTRY[name].fn(spark, sys.argv[1]).count() > 0, name
print(json.dumps(sorted(os.listdir(os.environ["TMPDIR"]))))
"""


def test_query_scratch_directories_leave_with_the_process(tmp_path, sf_dir):
    """Every directory a query writes and reads back lives under one
    per-process scratch root, removed when the process exits: after a run
    of each such query the temp directory holds nothing new (the stamped
    fixture caches have their own fixed /tmp paths)."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(os.environ, PYTHONPATH=repo, TMPDIR=str(tmp),
               SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _SCRATCH_PROBE, sf_dir, *SCRATCH_QUERIES],
        env=env, cwd=repo, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    during = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(during) == 1 and during[0].startswith("nf2pq_scratch_")
    assert os.listdir(tmp) == []
