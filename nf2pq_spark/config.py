"""``nf2pq.conf`` analog: config-file-driven collector pipeline.

The reference daemon is configured by a git-ignored local file
``nf2pq.conf`` (`/root/reference/.gitignore:22` — the only thing the stub
reveals about its runtime shape): listener address, output locations,
ClickHouse credentials. This module gives the Spark engine the same
operational surface, so "run the collector" is one config file plus

    cfg = load_config("nf2pq.conf")
    run_collector(spark, cfg)

Format is INI (stdlib configparser — no new dependencies):

    [collector]
    capture_dir = /var/lib/nf2pq/captures   ; written by the UDP bridge
    listen_host = 0.0.0.0
    listen_port = 2055
    rotation_seconds = 60
    decode_strings = false   ; true: surface varlen string / basicList
                             ; IEs as app_name / str_ies / list_ies

    [parquet]
    path = /data/flows
    checkpoint = /data/flows_ckpt

    [clickhouse]                            ; optional section
    url = jdbc:clickhouse://ch:8123/flows
    table = flows
    user = default
    password = ...

The pipeline is the §3.3 architecture: UDP bridge → capture files →
``readStream.format("binaryFile")`` → two-phase template decode →
partitioned Parquet (written by the decode task itself on a local
filesystem) → optional ClickHouse JDBC insert read back from that
batch's Parquet, all inside one ``foreachBatch`` so each micro-batch is
decoded once and written to both sinks.
"""

from __future__ import annotations

import configparser
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class ClickHouseConfig:
    url: str
    table: str
    user: str | None = None
    password: str | None = None
    #: explicit insert column list (``columns = sa, da, ..`` in
    #: [clickhouse]); None pins the STABLE base flow surface — see
    #: run_collector. The insert column set must mirror the server
    #: table's DDL, so it is configuration, never an artifact of which
    #: decode options happen to be on (r12 advice).
    columns: tuple[str, ...] | None = None

    @property
    def jdbc_properties(self) -> dict:
        props = {}
        if self.user:
            props["user"] = self.user
        if self.password:
            props["password"] = self.password
        return props


@dataclass(frozen=True)
class CollectorConfig:
    capture_dir: str
    parquet_path: str
    checkpoint: str
    listen_host: str = "0.0.0.0"
    listen_port: int = 2055
    rotation_seconds: int = 60
    #: decode varlen string / RFC 6313 basicList IEs into the optional
    #: app_name / str_ies / list_ies columns (``decode_strings = true``
    #: in [collector]); off by default — the fixed 13-column frame keeps
    #: its vectorized fast paths
    decode_strings: bool = False
    clickhouse: ClickHouseConfig | None = None


def load_config(path: str) -> CollectorConfig:
    """Parse an ``nf2pq.conf``-style INI file into a typed config."""
    cp = configparser.ConfigParser(inline_comment_prefixes=(";", "#"))
    with open(path) as fh:
        cp.read_file(fh)
    coll = cp["collector"]
    pq = cp["parquet"]
    ch = None
    if cp.has_section("clickhouse"):
        c = cp["clickhouse"]
        cols = c.get("columns")
        ch = ClickHouseConfig(
            url=c["url"], table=c["table"],
            user=c.get("user"), password=c.get("password"),
            columns=(tuple(s.strip() for s in cols.split(",") if s.strip())
                     or None) if cols else None,
        )
    return CollectorConfig(
        capture_dir=coll["capture_dir"],
        parquet_path=pq["path"],
        checkpoint=pq["checkpoint"],
        listen_host=coll.get("listen_host", "0.0.0.0"),
        listen_port=coll.getint("listen_port", 2055),
        rotation_seconds=coll.getint("rotation_seconds", 60),
        decode_strings=coll.getboolean("decode_strings", False),
        clickhouse=ch,
    )


def run_collector(spark: SparkSession, cfg: CollectorConfig,
                  available_now: bool = False):
    """The whole reference pipeline from one config: capture files →
    decode → partitioned Parquet (+ optional ClickHouse).

    Returns the StreamingQuery. With ``available_now=True`` it drains the
    existing capture backlog and stops (operationally: catch-up/backfill
    mode; also how tests run it hermetically).

    Each micro-batch lands in its own ``batch_id=N`` directory with
    ``date=…/hour=…`` (session time zone) nested inside: pruning on
    date/hour works across batch dirs, and
    ``streaming.sinks.compact_partitions`` folds the batch dirs away on
    the maintenance path (it repartitions to (date, hour); batch_id
    becomes a plain column in the compacted copy).

    Where the Parquet is written depends on the target, resolved as
    Spark resolves it (the path's scheme, else ``fs.defaultFS``; see
    :func:`streaming.sinks.local_target`):

    - LOCAL FILESYSTEM: the phase-2 decode task writes the files itself
      (:func:`streaming.sinks.task_parquet_batch_writer`), so decoded
      rows never cross back into the JVM; only a manifest row per file
      does.
    - ANY OTHER SCHEME: the decoded frame goes to Spark's writer
      (:func:`streaming.sinks.idempotent_parquet_batch_writer`,
      mode=overwrite on ``batch_id=N``).

    The PARQUET leg is REPLAY-IDEMPOTENT (r8 crash soak): foreachBatch
    commits the checkpoint AFTER the sink runs, so a kill between the
    parquet write and the checkpoint commit redelivers the batch on
    restart, and a blind append would duplicate every row of it. So a
    batch first clears its ``batch_id=N`` directory, then writes files
    with deterministic names (``part-<partition>…``) that a task attempt
    publishes by an atomic rename from a dot-prefixed tmp name carrying
    its attempt number: a redelivered batch or a retried task replaces
    its own files, and no reader sees a partial one. The rename is why
    the in-task writer is for local filesystems only; elsewhere Spark's
    commit protocol keeps that role.

    The CLICKHOUSE leg reads the batch's committed ``batch_id=N`` files
    back and ships the pinned columns, so each batch is decoded once on
    either writer path. It delegates replay-safety to the SERVER: every
    INSERT carries a stable per-batch ``insert_deduplication_token``
    (see :func:`streaming.sinks.jdbc_batch_writer`), so a redelivered
    batch is dropped as a duplicate block — PROVIDED the target table
    meets the dedup prerequisites in that docstring; no ClickHouse
    server exists in this environment, so the token construction is
    unit-verified and the crash soak verifies the parquet leg only."""
    from pyspark.sql.types import StructField, StructType, TimestampType

    from .sources.ipfix import (FLOW_SCHEMA, FLOW_STR_SCHEMA,
                                decode_datagram_frame, seeded_decoder,
                                stream_capture_files)
    from .streaming.sinks import (_checkpoint_dedup_salt,
                                  idempotent_parquet_batch_writer,
                                  jdbc_batch_writer, local_target,
                                  task_parquet_batch_writer,
                                  with_partition_columns)

    # token prefix salted per checkpoint lineage — a second pipeline
    # inserting into the same table, or a restart after a checkpoint
    # wipe (batch_id back at 0), must not collide token spaces and have
    # ClickHouse silently drop legitimate batches (r10 advice)
    ch_writer = (
        jdbc_batch_writer(cfg.clickhouse.url, cfg.clickhouse.table,
                          cfg.clickhouse.jdbc_properties,
                          dedup_token_prefix=(
                              f"nf2pq-{cfg.clickhouse.table}-"
                              f"{_checkpoint_dedup_salt(cfg.checkpoint)}"))
        if cfg.clickhouse else None
    )
    # the written columns: the decoded surface plus ts
    written = StructType(
        (FLOW_STR_SCHEMA if cfg.decode_strings else FLOW_SCHEMA).fields
        + [StructField("ts", TimestampType())])
    local = local_target(
        cfg.parquet_path,
        spark._jsparkSession.sessionState().newHadoopConf().get(
            "fs.defaultFS"))
    if local is not None:
        task_writer = task_parquet_batch_writer(local, written)

        def write_parquet(raw: DataFrame, batch_id: int) -> None:
            task_writer(raw, seeded_decoder(raw, cfg.decode_strings),
                        batch_id)
    else:
        spark_writer = idempotent_parquet_batch_writer(
            cfg.parquet_path, partition_by=["date", "hour"])

        def write_parquet(raw: DataFrame, batch_id: int) -> None:
            typed = decode_datagram_frame(
                raw, with_strings=cfg.decode_strings).withColumn(
                    "ts", F.timestamp_millis(F.col("ts_ms")))
            spark_writer(with_partition_columns(typed, "ts"), batch_id)

    # The ClickHouse insert column set is PINNED, never derived from
    # which decode options are on: dropping complex columns by TYPE
    # made `decode_strings` toggle the insert list (app_name appeared/
    # disappeared), so inserts into a table created under the other
    # setting failed at runtime instead of at config load (r12 advice).
    # Default = the stable base flow surface (FLOW_SCHEMA + ts);
    # shipping more (app_name after migrating the server table) is an
    # explicit `columns = ...` line in [clickhouse]. Validated here,
    # at stream build, not per batch.
    available = written.fieldNames()
    ch_cols = (list(cfg.clickhouse.columns) if cfg.clickhouse
               and cfg.clickhouse.columns
               else [f.name for f in FLOW_SCHEMA.fields] + ["ts"])
    if ch_writer is not None:
        missing = [c for c in ch_cols if c not in available]
        if missing:
            raise ValueError(
                f"[clickhouse] columns not in the decoded surface "
                f"(decode_strings={cfg.decode_strings}): {missing}")
        complex_named = [
            f.name for f in FLOW_STR_SCHEMA.fields
            if f.name in ch_cols
            and f.dataType.typeName() in ("map", "array", "struct")]
        if complex_named:
            raise ValueError(
                f"[clickhouse] columns include map/array types the JDBC "
                f"sink cannot insert: {complex_named}")

    def deliver(raw: DataFrame, batch_id: int) -> None:
        write_parquet(raw, batch_id)
        if ch_writer is not None:
            # the parquet leg keeps the full surface; the ClickHouse
            # leg ships exactly the pinned columns (the JDBC sink also
            # has no type mapping for map/array columns — a pinned list
            # naming one fails the build-time check against the DDL'd
            # table rather than killing micro-batches)
            batch = raw.sparkSession.read.schema(written).parquet(
                f"{cfg.parquet_path}/batch_id={int(batch_id)}")
            ch_writer(batch.select(*ch_cols), batch_id)

    return stream_capture_files(
        spark, capture_source_glob(cfg.capture_dir), deliver, cfg.checkpoint,
        available_now=available_now)


def capture_source_glob(path: str) -> str:
    """capture_dir → the path the binaryFile source should stream.

    capture_dir/* — NOT capture_dir bare: the bridge writes one
    subdirectory per exporter IP (how template streams stay keyed),
    and Spark's binaryFile source does not recurse into non-partition
    subdirs, so the bare path silently streamed ZERO files from a
    bridge-fed layout (r10 review; crash_soak had the same workaround
    locally). The glob also matches loose files in a flat layout; a
    capture_dir whose LAST segment already carries a glob (cap/*,
    cap/exp_??) is used verbatim. An EXISTING directory is never
    "already a glob" — one literally named "cap[1]" or "what?" must
    still get the /* appended (r10 advice — the old whole-path test
    treated any *?[ anywhere as 'already a glob'), AND its metachars
    backslash-escaped: Hadoop's globber otherwise reads "cap[1]/*" as
    a character class (PATH_NOT_FOUND) and "what?/*" matches SIBLING
    dirs like "whatX" — ingesting another directory's files (r11
    review; escaping verified against Spark's binaryFile reader). For
    a not-yet-created dir only the basename is tested, so glob-looking
    parents don't disable the append."""
    import os

    # the already-a-glob detection set must cover every metachar the
    # escape loop below escapes: '{' was missing, so a Hadoop alternation
    # glob like caps/{e1,e2} got its braces backslash-escaped and
    # streamed ZERO files silently (r11 advice)
    if (not os.path.isdir(path) and
            any(c in os.path.basename(path.rstrip("/")) for c in "*?[{")):
        return path
    escaped = path
    for c in "\\*?[]{}":  # backslash first — it escapes the others
        escaped = escaped.replace(c, "\\" + c)
    return os.path.join(escaped, "*")


def start_bridge(cfg: CollectorConfig):
    """Bind the config's UDP listener and return the started bridge —
    the front half of the §3.3 pipeline the listener fields exist for
    (previously parsed but never wired; r10 review)."""
    from .sources.udp_bridge import UdpCaptureBridge

    return UdpCaptureBridge(cfg.listen_host, cfg.listen_port,
                            cfg.capture_dir,
                            rotate_seconds=cfg.rotation_seconds).start()


def main(argv: list[str] | None = None) -> int:
    """``nf2pq-collector <conf> [--drain]`` console entry point (the
    installed-package spelling of the module docstring's two-liner).
    ``--drain`` runs the availableNow backfill mode: decode the existing
    capture backlog, write it, exit — the operational catch-up command.
    Without it the collector runs continuously until interrupted."""
    import argparse

    from .session import get_spark

    parser = argparse.ArgumentParser(
        prog="nf2pq-collector",
        description="capture files -> decode -> partitioned parquet "
                    "(+ optional ClickHouse), from one nf2pq.conf")
    parser.add_argument("conf", help="path to the INI config file")
    parser.add_argument("--drain", action="store_true",
                        help="drain the existing backlog and exit "
                             "(availableNow trigger)")
    args = parser.parse_args(argv)
    spark = get_spark("nf2pq-collector")
    cfg = load_config(args.conf)
    # live mode binds the config's UDP listener (the operational surface
    # the [collector] listen_* fields describe); --drain is pure backfill
    # of already-captured files and leaves the port alone
    bridge = None if args.drain else start_bridge(cfg)
    q = run_collector(spark, cfg, available_now=args.drain)
    try:
        q.awaitTermination()
    finally:
        if bridge is not None:
            bridge.stop()
    return 0
