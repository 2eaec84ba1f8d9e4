"""Streaming sinks (SURVEY §2.1 S3/S7): the reference's two outputs.

- Rotated Parquet files → ``writeStream.format("parquet")`` with a
  date/hour ``partitionBy`` layout, so downstream flow queries get static
  + dynamic partition pruning for free. Micro-batch cadence (the rotation
  interval) is the processing-time trigger.
- The collector's own Parquet (:func:`nf2pq_spark.config.run_collector`)
  lands in ``batch_id=N/date=…/hour=…``. On a local-filesystem target
  the decode task writes it (:func:`task_parquet_batch_writer`: pyarrow,
  tmp name + ``os.replace``), so decoded rows never cross back into the
  JVM; any other target keeps Spark's writer
  (:func:`idempotent_parquet_batch_writer`), because the in-task
  writer's replay argument needs an atomic rename.
- ClickHouse INSERT → ``foreachBatch`` + JDBC append. No ClickHouse server
  (or JDBC driver) exists in this environment, so the writer takes the URL
  from config and is smoke-tested with a recording sink in tests; the code
  path is the standard Spark JDBC one.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..session import hadoop_path


def with_partition_columns(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Add date/hour partition columns for the rotated-file layout."""
    clash = {"date", "hour"} & set(df.columns)
    if clash:
        # withColumn would silently REPLACE the caller's business column
        # and re-derive it from ts — wrong values in every file written,
        # with no error anywhere downstream (r10 review)
        raise ValueError(
            f"with_partition_columns: column(s) {sorted(clash)} already "
            "exist on the stream; rename them before the rotated sink")
    return df.withColumn("date", F.to_date(ts_col)).withColumn(
        "hour", F.hour(ts_col).cast("int")
    )


def parquet_rotating_sink(stream: DataFrame, path: str, checkpoint: str,
                          rotate_interval: str = "60 seconds",
                          ts_col: str = "ts",
                          available_now: bool = False) -> StreamingQuery:
    """nf2pq's time-rotated Parquet output as a partitioned streaming sink.

    Scale: partitionBy(date, hour) bounds per-directory file counts and lets
    every time-ranged flow query prune; small-file buildup is handled by
    :func:`compact_partitions` (Spark doesn't auto-compact file sinks).
    """
    out = with_partition_columns(stream, ts_col)
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("date", "hour")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=rotate_interval)
    return writer.start()


def compact_partitions(spark, path: str) -> None:
    """Rewrite the streaming sink's (date, hour) dataset with one file per
    partition directory, into ``path + "_compacted"``.

    Thin wrapper over :func:`nf2pq_spark.operators.compact.compact_parquet`
    (one compaction implementation to maintain): the hash repartition on
    (date, hour) gives one file per directory with partitions rewriting
    in parallel, where a ``repartition(1, date, hour)`` would funnel the
    WHOLE dataset through a single task.
    """
    from ..operators.compact import compact_parquet

    # normalize: a trailing slash would nest dst INSIDE the source
    # dataset ("p/" + "_compacted" -> "p/_compacted"), which the
    # compact_parquet alias guard rejects (correctly — a nested copy
    # would double the data on the next read of p)
    path = path.rstrip("/") or path
    compact_parquet(spark, path, path + "_compacted",
                    partition_col=["date", "hour"])


#: Spark SQL type → ClickHouse type (flow-schema subset)
_CLICKHOUSE_TYPES = {
    "long": "Int64", "bigint": "Int64", "int": "Int32", "integer": "Int32",
    "smallint": "Int16", "tinyint": "Int8", "double": "Float64",
    "float": "Float32", "string": "String", "boolean": "UInt8",
    "timestamp": "DateTime64(6)", "timestamp_ntz": "DateTime64(6)",
    "date": "Date32", "binary": "String",
}


def clickhouse_ddl(df: DataFrame, table: str, order_by: list[str],
                   partition_by: str | None = None) -> str:
    """CREATE TABLE DDL for a MergeTree table matching a DataFrame schema.

    The reference inserts decoded flows into ClickHouse; MergeTree ordered
    by (exporter, time) with a daily partition is the canonical flow-table
    layout. Generated (not hand-written per table) so the sink stays in
    lock-step with FLOW_SCHEMA.

    CONTRACT: columns named in ``order_by`` are declared non-Nullable
    even when the Spark field is nullable — MergeTree sorting keys
    should not be Nullable (and nullable partition keys are rejected by
    default). The stream must therefore never produce NULLs in those
    columns; coalesce them upstream if the source can. A NULL reaching
    such a column fails the INSERT server-side — loudly, not silently
    mis-sorted.
    """
    cols = []
    for f in df.schema.fields:
        ch = _CLICKHOUSE_TYPES.get(f.dataType.simpleString())
        if ch is None:
            raise ValueError(f"no ClickHouse mapping for {f.name}: "
                             f"{f.dataType.simpleString()}")
        cols.append(f"    `{f.name}` {'Nullable(' + ch + ')' if f.nullable and f.name not in order_by else ch}")
    parts = [f"CREATE TABLE IF NOT EXISTS {table} (", ",\n".join(cols), ")",
             "ENGINE = MergeTree()"]
    if partition_by:
        parts.append(f"PARTITION BY {partition_by}")
    parts.append(f"ORDER BY ({', '.join(order_by)})")
    return "\n".join(parts)


def jdbc_batch_writer(url: str, table: str, properties: dict | None = None,
                      dedup_token_prefix: str | None = None,
                      ) -> Callable[[DataFrame, int], None]:
    """foreachBatch body appending each micro-batch over JDBC (ClickHouse:
    ``jdbc:clickhouse://host:8123/db``; needs the ClickHouse JDBC driver on
    the executor classpath).

    ``dedup_token_prefix`` makes the append REPLAY-SAFE on the server:
    each batch's INSERT carries a STABLE
    ``insert_deduplication_token=<prefix>-<batch_id>`` (via the
    ClickHouse JDBC driver's documented ``custom_settings`` property),
    so a batch redelivered after a crash between the INSERT and the
    checkpoint commit — foreachBatch's delivery gap — carries the SAME
    token and the server drops it as a duplicate block instead of
    double-inserting. Server prerequisites (deployment contract, not
    verifiable here — no ClickHouse server in this environment): the
    target must be a Replicated*MergeTree, or a plain MergeTree with
    ``non_replicated_deduplication_window > 0``, and the dedup window
    must be deeper than the maximum number of batches a restart can
    replay (Spark replays at most the last uncommitted batch, so any
    nonzero window suffices for this sink)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = batch_df.write.format("jdbc").option("url", url).option("dbtable", table)
        for k, v in (properties or {}).items():
            w = w.option(k, v)
        if dedup_token_prefix is not None:
            token = (f"insert_deduplication_token="
                     f"{dedup_token_prefix}-{int(batch_id)}")
            # custom_settings is a comma-separated LIST — a caller's own
            # settings (async_insert, quorum, …) must survive, not be
            # replaced by the token (r10 review)
            base = (properties or {}).get("custom_settings")
            w = w.option("custom_settings",
                         f"{base},{token}" if base else token)
        w.mode("append").save()

    return write_batch


def _fs_salt_via_hadoop(checkpoint: str) -> str | None:
    """Persist/read the lineage salt through the checkpoint's OWN
    filesystem, resolved exactly as Spark resolves the checkpoint path
    itself (Hadoop FS API through the active session — fs.defaultFS
    applies to scheme-less paths, hdfs://s3a:// go remote, file: stays
    local). Installed atomically: write-to-tmp then rename, so a crash
    mid-install leaves only a .tmp, never a visible empty salt (r12
    review); on HDFS rename refuses an existing destination, so the
    first writer wins and a lost race reads the winner's salt. Returns
    None when no session/JVM is reachable or the filesystem op fails —
    callers then fall back to the local-path / URI-hash logic."""
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        Path = hadoop_path(spark)
        jpath = Path(checkpoint)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        salt_path = Path(jpath, "nf2pq_dedup_salt")
        if not fs.exists(salt_path):
            import uuid

            fresh = uuid.uuid4().hex[:12]
            try:
                # write-to-tmp + rename: fs.create(salt, False) made
                # the salt VISIBLE before its bytes landed, so a crash
                # in that window installed a permanently empty file —
                # and a concurrent reader resolved '' to the URI-hash
                # space while later restarts used the real salt:
                # divergent token spaces, double inserts (r12 review)
                tmp = Path(jpath, f"nf2pq_dedup_salt.{fresh}.tmp")
                out = fs.create(tmp, True)
                try:
                    out.write(bytearray(fresh.encode("ascii")))
                finally:
                    out.close()
                if not fs.rename(tmp, salt_path):
                    # a false rename is EITHER a lost race (salt now
                    # exists — read the winner) or a transient remote-FS
                    # refusal. Deleting tmp on the latter silently
                    # degraded THIS run to the URI-hash token space
                    # while later restarts used a persisted salt —
                    # divergent token spaces across the failure
                    # boundary, exactly the replay-dedup hole the salt
                    # closes (r12 advice). Retry before giving up; only
                    # a confirmed winner justifies dropping tmp — on
                    # persistent refusal tmp stays behind as evidence
                    # and the fs.open below fails into the callers'
                    # fallback (nothing was persisted, so the bounded
                    # residual risk is the at-least-once contract the
                    # sink already documents, not silent divergence
                    # from a half-installed salt).
                    for _ in range(3):
                        if fs.exists(salt_path) or fs.rename(tmp, salt_path):
                            break
                    if fs.exists(salt_path):
                        fs.delete(tmp, False)
            except Exception:
                # filesystem refused: read whatever exists; an
                # unreadable/empty result degrades to the callers'
                # fallback below
                pass
        stream = fs.open(salt_path)
        try:
            raw = []
            for _ in range(64):  # salt is 12 ascii chars; bound the read
                b = stream.read()
                if b < 0:
                    break
                raw.append(b)
        finally:
            stream.close()
        salt = bytes(raw).decode("ascii", errors="replace").strip()
        return salt or None
    except Exception:
        return None


def _checkpoint_dedup_salt(checkpoint: str) -> str:
    """Token-space salt scoped to ONE checkpoint lineage.

    The dedup token must be STABLE across restarts of the same query
    (that is the replay-safety), but DISTINCT across (a) independent
    queries inserting into the same table and (b) a checkpoint reset —
    batch_id restarts at 0 after a wipe, and a bare ``nf2pq-<table>-0``
    token would make ClickHouse silently drop the fresh run's first
    batches as "duplicates" of the old run's (r10 advice; silent loss).

    Both follow from tying the salt to the checkpoint lineage: a random
    salt is persisted INSIDE the checkpoint directory — through the
    checkpoint's ACTUAL filesystem (Hadoop FS via the active
    SparkSession) when one is reachable, so an hdfs://s3a:// checkpoint,
    a scheme-less path under a remote fs.defaultFS, or a driver failover
    to another host all still see the ONE salt the lineage persisted
    (r11 advice: the old driver-local ``open`` wrote the salt to one
    machine's disk, so a restart elsewhere minted a NEW salt and the
    replayed batch double-inserted). Restarts reuse the salt (same
    tokens → server dedup on true replays) while a wiped or different
    checkpoint mints a new one (fresh token space). Without a live
    session (tooling, unit paths) scheme-less and ``file:`` paths in
    any slash form persist via the local filesystem (r11 review: the
    old '://'-split treated file:/p as a cwd-relative literal, so a
    restart from another cwd minted a new salt and re-inserted the
    replayed batch); anything unreachable falls back to hashing the
    URI — distinct queries still get distinct spaces; only the
    wipe-and-reuse-same-URI case keeps colliding there, which this
    docstring flags as the residual. The salt write is atomic
    (create-no-overwrite on Hadoop FS; tmp + link locally): a crash or
    create race must not install an empty or torn shared salt."""
    import hashlib
    import os
    import uuid
    from urllib.parse import urlparse

    salt = _fs_salt_via_hadoop(checkpoint)
    if salt:
        return salt
    parsed = urlparse(checkpoint)
    if parsed.scheme not in ("", "file"):
        return hashlib.md5(checkpoint.encode()).hexdigest()[:12]
    local = parsed.path if parsed.scheme == "file" else checkpoint
    salt_file = os.path.join(local, "nf2pq_dedup_salt")
    try:
        os.makedirs(local, exist_ok=True)
        if not os.path.exists(salt_file):
            tmp = f"{salt_file}.{os.getpid()}.tmp"
            with open(tmp, "w") as fh:
                fh.write(uuid.uuid4().hex[:12])
                fh.flush()
                os.fsync(fh.fileno())
            try:
                # atomic publish; O_EXCL-like semantics via link: the
                # first writer wins, a concurrent second writer reads
                os.link(tmp, salt_file)
            except FileExistsError:
                pass
            finally:
                os.unlink(tmp)
        with open(salt_file) as fh:
            salt = fh.read().strip()
        if salt:
            return salt
        # degenerate pre-fix state (empty file): fall through to hash
    except OSError:
        # unwritable/odd local path (e.g. defaultFS-relative): per-URI
        # hash keeps distinct queries in distinct token spaces
        pass
    return hashlib.md5(checkpoint.encode()).hexdigest()[:12]


def clickhouse_sink(stream: DataFrame, url: str, table: str,
                    checkpoint: str, properties: dict | None = None,
                    trigger_interval: str = "60 seconds",
                    dedup_token_prefix: str | None = None) -> StreamingQuery:
    """Micro-batch INSERTs into ClickHouse via foreachBatch + JDBC (S7).

    Replay-safe BY DEFAULT: the insert-dedup token (see
    :func:`jdbc_batch_writer`) defaults to
    ``nf2pq-<table>-<checkpoint salt>`` — salted per checkpoint lineage
    (:func:`_checkpoint_dedup_salt`) so two queries inserting into one
    table, or a run restarted after a checkpoint reset, can never
    collide token spaces and silently drop each other's batches. A
    batch redelivered across foreachBatch's delivery gap still carries
    the SAME token (same checkpoint → same salt, same batch_id) and
    deduplicates server-side instead of double-inserting. Pass an
    explicit prefix to pin the token space yourself."""
    writer = jdbc_batch_writer(
        url, table, properties,
        dedup_token_prefix=(dedup_token_prefix or
                            f"nf2pq-{table}-{_checkpoint_dedup_salt(checkpoint)}"))
    return (
        stream.writeStream.foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=trigger_interval)
        .start()
    )


def foreach_batch_sink(stream: DataFrame, fn: Callable[[DataFrame, int], None],
                       checkpoint: str, available_now: bool = True) -> StreamingQuery:
    """Generic foreachBatch sink (test seam for the ClickHouse path)."""
    writer = stream.writeStream.foreachBatch(fn).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def idempotent_parquet_batch_writer(
        base: str, partition_by: list[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch body with EXACTLY-ONCE delivery to an at-least-once
    sink: each micro-batch lands in its own ``batch_id=N`` directory with
    mode=overwrite, so a redelivered batch (failure between sink write and
    checkpoint commit — foreachBatch's documented delivery gap) replaces
    itself instead of duplicating. This is the file-sink analogue of the
    ClickHouse ReplacingMergeTree / insert-dedup-token recipe the JDBC
    writer needs in production. ``partition_by`` nests further partition
    columns INSIDE the batch dir (``base/batch_id=N/date=…/hour=…``) —
    pruning on them works across batch dirs, and the recipe stays in
    this one place for every caller (run_collector composes it with the
    date/hour layout; r8 review)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = batch_df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(f"{base}/batch_id={int(batch_id)}")

    return write_batch


def local_target(path: str, default_fs: str) -> str | None:
    """The absolute local path ``path`` names when Hadoop would resolve it
    to the local file system, else None. Spark's rule: the path's own
    scheme, otherwise the scheme of ``default_fs`` (``fs.defaultFS``);
    only ``file`` is local. Pure string work — nothing is opened, so a
    remote target is never contacted to decide."""
    from urllib.parse import urlparse

    parsed = urlparse(path)
    if (parsed.scheme or urlparse(default_fs).scheme) != "file":
        return None
    return parsed.path if parsed.scheme else os.path.abspath(path)


def _session_time_zone(spark) -> str:
    """The session time zone as Spark resolves it, normalized: ``UTC``, a
    fixed offset (``+05:30``) or a region id (``Europe/Paris``)."""
    zone = spark._jvm.org.apache.spark.sql.catalyst.util.DateTimeUtils \
        .getZoneId(spark.conf.get("spark.sql.session.timeZone")) \
        .normalized().getId()
    return "UTC" if zone == "Z" else zone


def _local_hours(ts, zone: str) -> np.ndarray:
    """Hours since the local epoch of a UTC ``timestamp[us]`` array in
    ``zone`` — the (date, hour) key ``with_partition_columns`` derives
    in that session time zone."""
    import pyarrow as pa
    import pyarrow.compute as pc

    us = ts.cast(pa.int64()).to_numpy(zero_copy_only=False)
    if zone[0] in "+-":
        sign = -1 if zone[0] == "-" else 1
        h, m, s = (zone[1:].split(":") + ["0", "0"])[:3]
        us = us + sign * (int(h) * 3600 + int(m) * 60 + int(s)) * 1_000_000
    elif zone != "UTC":
        us = pc.local_timestamp(ts.cast(pa.timestamp("us", zone))).cast(
            pa.int64()).to_numpy(zero_copy_only=False)
    return us // 3_600_000_000


#: the flow columns the in-task writer dictionary-encodes. pyarrow's
#: default dictionary-encodes every column: 72.2 B/flow on the benchmark
#: backlog against Spark's 59.4; on these low-cardinality columns only,
#: 58.7 — dictionaries on sa/da-sized vocabularies cost bytes and CPU
_DICTIONARY_COLUMNS = ["pr", "flg", "exporter"]


def task_parquet_batch_writer(
        base: str, schema: StructType,
) -> Callable[[DataFrame, Callable, int], None]:
    """foreachBatch body that writes the collector's Parquet from the
    task that decodes it, into the layout
    :func:`idempotent_parquet_batch_writer` gives with
    ``partition_by=["date", "hour"]``.

    ``write_batch(raw, frames, batch_id)`` runs the ``mapInPandas`` body
    ``frames`` over ``raw``; each pandas frame it yields carries the
    columns of ``schema`` except ``ts``, which is derived from the
    epoch-millisecond ``ts_ms`` (as ``timestamp_millis`` does). The task
    casts each frame to ``schema`` (``to_arrow_schema``), splits it by
    (date, hour) of ``ts`` in the session time zone, and appends each
    part as a row group to one file per (task partition, date, hour);
    only a manifest row per file goes back to the JVM. Memory per task
    stays bounded by one frame.

    Written like Spark's writer: snappy, ``ts`` as INT96, directories
    ``date=YYYY-MM-DD/hour=H``; dictionary encoding only on
    :data:`_DICTIONARY_COLUMNS`. No ``_SUCCESS`` file.

    Replay: the driver clears ``batch_id=N`` before the job, file names
    are deterministic (``part-<partition>.c000.snappy.parquet``), and
    each attempt writes a dot-prefixed tmp name carrying its attempt
    number, then ``os.replace``s it — so a retried or speculative
    attempt replaces, never duplicates, and a reader never sees a
    partial file. That argument needs an atomic rename, so ``base`` must
    be a local path (see :func:`local_target`)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    ts_at = arrow_schema.get_field_index("ts")
    ts_field = arrow_schema.field(ts_at)
    frame_schema = arrow_schema.remove(ts_at)

    def write_batch(raw: DataFrame, frames: Callable, batch_id: int) -> None:
        out = os.path.join(base, f"batch_id={int(batch_id)}")
        if os.path.exists(out):
            shutil.rmtree(out)
        os.makedirs(out)
        zone = _session_time_zone(raw.sparkSession)

        def write_task(batches: Iterator[pd.DataFrame]):
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark import TaskContext

            ctx = TaskContext.get()
            name = f"part-{ctx.partitionId():05d}.c000.snappy.parquet"
            tmp = f".{name}.{ctx.attemptNumber()}.tmp"
            writers: dict[int, tuple[str, pq.ParquetWriter]] = {}
            rows: dict[int, int] = {}
            try:
                for frame in frames(batches):
                    if not len(frame):
                        continue
                    table = pa.Table.from_pandas(frame, schema=frame_schema,
                                                 preserve_index=False)
                    ts = pa.array(frame["ts_ms"].to_numpy(np.int64)).cast(
                        pa.timestamp("ms", "UTC")).cast(ts_field.type)
                    table = table.add_column(ts_at, ts_field, ts)
                    keys, inverse = np.unique(_local_hours(ts, zone),
                                              return_inverse=True)
                    if len(keys) > 1:
                        table = table.take(np.argsort(inverse, kind="stable"))
                    start = 0
                    for key, n in zip(keys.tolist(),
                                      np.bincount(inverse).tolist()):
                        if key not in writers:
                            day = np.datetime64(key, "h").astype(
                                "datetime64[D]")
                            d = os.path.join(out, f"date={day}",
                                             f"hour={key % 24}")
                            os.makedirs(d, exist_ok=True)
                            writers[key] = (d, pq.ParquetWriter(
                                os.path.join(d, tmp), arrow_schema,
                                compression="snappy",
                                use_dictionary=_DICTIONARY_COLUMNS,
                                use_deprecated_int96_timestamps=True,
                                store_schema=False))
                            rows[key] = 0
                        writers[key][1].write_table(table.slice(start, n))
                        rows[key] += n
                        start += n
            except BaseException:
                # a failed attempt leaves no tmp file behind; its error,
                # not a cleanup error, is what the task reports
                for d, writer in writers.values():
                    with contextlib.suppress(Exception):
                        writer.close()
                    with contextlib.suppress(OSError):
                        os.unlink(os.path.join(d, tmp))
                raise
            for d, writer in writers.values():
                writer.close()
                os.replace(os.path.join(d, tmp), os.path.join(d, name))
            yield pd.DataFrame({
                "file": [os.path.join(d, name) for d, _ in writers.values()],
                "rows": list(rows.values())})

        raw.mapInPandas(write_task, "file string, rows long").collect()

    return write_batch
