"""Custom Python DataSource (Spark 4): capture files as a first-class
``spark.read.format("nfcapture")`` source.

The Spark 4 Python DataSource API (SPARK-44076, ``pyspark.sql.datasource``)
lets the collector's capture-file format plug into the normal reader UX —
schema discovery, partition planning, and Arrow-batched row production all
live engine-side, so a user writes

    spark.dataSource.register(CaptureDataSource)
    flows = spark.read.format("nfcapture").load("/data/captures")

and gets the typed flow DataFrame directly.

Partitioning = one input partition per capture file: the datagram bridge
rotates files per interval per exporter, so files are the natural parallel
unit and a 1000-executor scan spreads them evenly (matching binaryFile's
behavior, minus its content-column copy through the JVM).

Each file decodes through the same code as
:func:`nf2pq_spark.sources.ipfix.read_flow_files`: the shared template and
IE 160 boot harvest (``_extract_templates_pandas``), its latest-wins merge,
then :func:`nf2pq_spark.sources.ipfix.make_decoder`, run per file instead of
per batch. In-file ordering therefore doesn't matter, and a datagram whose
template set fails to parse is dropped whole on both readers. Templates
announced in a *different* file are not visible — the bridge writes
template refreshes into every rotation file (RFC 7011 §8.1 periodic
re-announcement); for captures that violate that, ``read_flow_files``
remains the cross-file two-phase path.

Rows are yielded as pyarrow RecordBatches (the API's fast path), in the
Arrow form of ``FLOW_SCHEMA``.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                    DataSourceStreamReader,
                                    DataSourceStreamWriter, DataSourceWriter,
                                    InputPartition, WriterCommitMessage)

from .ipfix import FLOW_SCHEMA


def _list_capture_files(path: str) -> list[str]:
    """Deterministic (sorted) capture-file listing — the rotation bridge
    writes monotonically-named files, so sorted order == arrival order.

    Batch-writer output (``cap_w_<jobid>_<pid>.bin``) is visible only
    once its job's ``_committed_<jobid>`` marker exists: a job whose
    driver died between task success and commit/abort must not pollute
    later reads with duplicate flows (its rerun draws a NEW job id, so
    the per-job names cannot self-heal the way the stream writer's
    deterministic (batch, pid) names do under checkpoint replay —
    which is also why ``cap_b*`` stream files need no marker filter
    here). Bridge rotations and hand-written captures use neither
    prefix and are always listed."""
    if os.path.isdir(path):
        names = os.listdir(path)
        committed = {n[len("_committed_"):]
                     for n in names if n.startswith("_committed_")}
        out = []
        for f in sorted(names):
            if not f.endswith(".bin"):
                continue
            # Spark's file sources treat '.'/'_'-prefixed names as
            # hidden/metadata and never read them; this reader must match
            # (hostile-input differential, r6): a foreign dot-prefixed
            # temp — the atomic-write convention of most writers,
            # including our own write_capture_file — is a HALF-WRITTEN
            # file, and reading it mid-write is exactly the partial-read
            # hazard the convention exists to prevent.
            if f.startswith((".", "_")):
                continue
            if f.startswith("cap_w_"):
                job_id = f[len("cap_w_"):-len(".bin")].rsplit("_", 1)[0]
                if job_id not in committed:
                    continue
            out.append(os.path.join(path, f))
        return out
    return [path]


def _decode_capture_file(fname: str):
    """Decode one capture file → pyarrow RecordBatches (executor-side).

    The file becomes a one-row ``(path, content)`` frame and takes the
    same two phases as :func:`nf2pq_spark.sources.ipfix.read_flow_files`,
    harvested over this file alone: the template/boot harvest, its
    latest-wins merge, then :func:`~nf2pq_spark.sources.ipfix.make_decoder`.
    Imports stay inside so only the partition's worker pays them.
    """
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from .ipfix import (_extract_templates_pandas, _merge_boot_rows,
                        _merge_template_rows, make_decoder)

    with open(fname, "rb") as fh:
        frame = pd.DataFrame({"path": [fname], "content": [fh.read()]})
    rows = [r for harvested in _extract_templates_pandas(iter([frame]))
            for r in harvested.itertuples(index=False)]
    decode = make_decoder(_merge_template_rows(rows), _merge_boot_rows(rows))
    schema = to_arrow_schema(FLOW_SCHEMA)
    for flows in decode(iter([frame])):
        if len(flows):
            yield from pa.Table.from_pandas(
                flows, schema=schema, preserve_index=False).to_batches()


class CaptureDataSource(DataSource):
    """``format("nfcapture")`` — NetFlow v5/v9/IPFIX capture-file reader."""

    @classmethod
    def name(cls) -> str:
        return "nfcapture"

    def schema(self):
        return FLOW_SCHEMA

    def reader(self, schema) -> "CaptureReader":
        return CaptureReader(self.options)

    def streamReader(self, schema) -> "CaptureStreamReader":
        return CaptureStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "CaptureWriter":
        return CaptureWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> "CaptureStreamWriter":
        return CaptureStreamWriter(self.options)


class CaptureReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("nfcapture: .load(<capture dir or file>) required")
        self.path = path

    def partitions(self):
        return [InputPartition(f) for f in _list_capture_files(self.path)]

    def read(self, partition):
        yield from _decode_capture_file(partition.value)


class CaptureStreamReader(DataSourceStreamReader):
    """``readStream.format("nfcapture")`` — the collector's front door as a
    true streaming source.

    Offset = count of capture files consumed from the sorted listing PLUS
    the last consumed filename (the rotation bridge appends monotonically-
    named files, so the prefix length is a complete, replayable position).
    Each micro-batch plans one input partition per new file and decodes on
    executors — the driver only lists the directory. Exactly-once across
    restarts comes for free from Spark's offset log + the deterministic
    prefix→files mapping.

    The monotonic-name assumption is ENFORCED, not just documented:
    ``partitions()`` asserts the committed prefix still ends at the
    recorded filename, so a file that sorts before a committed one
    (non-zero-padded names, writer clock skew) fails loudly instead of
    silently remapping committed offsets.
    """

    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError(
                "nfcapture: .load(<capture dir or file>) required")
        self.path = path

    def initialOffset(self) -> dict:
        return {"n_files": 0, "last": ""}

    def latestOffset(self) -> dict:
        files = _list_capture_files(self.path)
        return {"n_files": len(files), "last": files[-1] if files else ""}

    def partitions(self, start: dict, end: dict):
        files = _list_capture_files(self.path)
        n0 = start["n_files"]
        last = start.get("last", "")  # absent on pre-upgrade checkpoints
        if n0 and last and (n0 > len(files) or files[n0 - 1] != last):
            raise RuntimeError(
                f"nfcapture: non-monotonic arrival — the committed offset "
                f"({n0} files ending at {last!r}) no longer prefixes the "
                f"sorted listing; a newly arrived file sorts before a "
                f"committed one. The rotation writer must emit strictly "
                f"increasing names (zero-padded sequence or monotonic "
                f"timestamps)."
            )
        return [InputPartition(f) for f in files[n0:end["n_files"]]]

    def read(self, partition):
        yield from _decode_capture_file(partition.value)

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: capture files are the durable log


class CaptureWriter(DataSourceWriter):
    """``df.write.format("nfcapture")`` — pack flow rows into NetFlow v5
    capture files, one file per input partition, executor-side.

    The write side of the collector's on-disk format: expects the
    encoder's integer field layout (``sa_int``/``da_int`` plus
    sp/dp/pr/flg/ipkt/ibyt/ts_ms/te_ms/sas/das — see
    :data:`nf2pq_spark.sources.ipfix._IE_KEYS`). Files are written
    atomically (tmp + rename, like the rotation bridge), so a concurrent
    reader or stream never sees a partial capture, and are named
    DETERMINISTICALLY by (job uuid, partition id): the uuid is drawn ONCE
    on the driver (``__init__`` runs at write planning; the instance is
    pickled to executors, so every task — including retries and
    speculative copies — sees the same value). A retried task therefore
    replaces its own previous file instead of duplicating flows, while
    two separate append jobs into the same directory keep distinct uuid
    prefixes instead of silently overwriting each other. :meth:`commit`
    publishes the job by writing a ``_committed_<jobid>`` marker —
    :func:`_list_capture_files` skips ``cap_w_*`` files without one, so
    a job whose driver died before commit/abort (where neither cleanup
    hook ever runs) cannot double-count flows against its rerun — and
    then finishes ``overwrite`` by removing earlier jobs' files and
    markers (marker first: a crash mid-commit leaves both jobs visible,
    never an empty directory). :meth:`abort` drops this job's partial
    output. Exactly the reverse of :class:`CaptureReader`: write → read
    round-trips the flow table.
    """

    def __init__(self, options, overwrite: bool):
        import uuid

        path = options.get("path")
        if not path:
            raise ValueError("nfcapture: .save(<capture dir>) required")
        self.path = path
        self.overwrite = overwrite
        # leading "w" keeps the job id disjoint from the stream sink's
        # numeric batch-id markers in a shared directory; the epoch-ms
        # prefix makes SUCCESSIVE jobs' names sort in commit order, so a
        # CaptureStreamReader tailing the directory never sees a
        # later-committed job's files prefix-insert before consumed ones
        # (random ids violated the reader's monotonic-arrival contract)
        import time

        self.job_uuid = f"w{int(time.time() * 1000):013d}{uuid.uuid4().hex[:6]}"

    def write(self, iterator):
        from pyspark import TaskContext

        from .ipfix import encode_netflow_v5, write_capture_file

        flows = [row.asDict() for row in iterator]
        if flows:
            os.makedirs(self.path, exist_ok=True)
            dgrams = encode_netflow_v5(flows)
            pid = TaskContext.get().partitionId()
            fname = f"cap_w_{self.job_uuid}_{pid:05d}.bin"
            write_capture_file(os.path.join(self.path, fname), dgrams)
        return WriterCommitMessage()

    def _own_file(self, fname: str) -> bool:
        return fname.startswith(f"cap_w_{self.job_uuid}_")

    def commit(self, messages) -> None:
        # publish first: once the marker exists the reader sees this
        # job's files, so a crash during the overwrite cleanup below
        # leaves extra (old) data visible, never an empty directory
        os.makedirs(self.path, exist_ok=True)
        marker = os.path.join(self.path, f"_committed_{self.job_uuid}")
        with open(marker, "w") as fh:
            fh.write("ok")
        if self.overwrite:
            # overwrite finishes here: clear every capture file and
            # marker that is NOT this job's (older writes, and stale
            # higher-pid files from a previous wider write) only once
            # all tasks have succeeded
            own_marker = f"_committed_{self.job_uuid}"
            for f in os.listdir(self.path):
                stale_bin = f.endswith(".bin") and not self._own_file(f)
                stale_marker = (f.startswith("_committed_")
                                and f != own_marker)
                if stale_bin or stale_marker:
                    os.remove(os.path.join(self.path, f))

    def abort(self, messages) -> None:
        # drop this job's partial output so the directory reflects only
        # committed jobs; prior jobs' files are untouched
        if not os.path.isdir(self.path):
            return
        for f in os.listdir(self.path):
            if self._own_file(f):
                os.remove(os.path.join(self.path, f))


def _cap_name_re(batch_id, partition_id=None):
    """Regex matching a stream-sink capture file for ``batch_id`` (and
    optionally one partition) under EITHER naming scheme — the current
    zero-padded ``cap_b0000000007_p00003.bin`` or the legacy unpadded
    ``cap_b7_p3.bin``: ``0*`` absorbs any padding width, and the
    trailing anchor (``_`` / ``.bin``) keeps batch 1 from matching
    batch 10."""
    import re

    if partition_id is None:
        return re.compile(rf"^cap_b0*{int(batch_id)}_")
    return re.compile(rf"^cap_b0*{int(batch_id)}_p0*{int(partition_id)}\.bin$")


def _remove_matching(dirpath: str, pattern, keep=()) -> None:
    if isinstance(keep, str):
        keep = (keep,)
    keep = set(keep)
    for f in os.listdir(dirpath):
        if f not in keep and pattern.match(f):
            os.remove(os.path.join(dirpath, f))


class _CapCommitMessage(WriterCommitMessage):
    """Carries the task's written filename back to the driver so
    ``commit`` can sweep the batch's stale files (legacy unpadded names,
    or padded files from a wider earlier attempt) without guessing."""

    def __init__(self, fname: str | None = None):
        self.fname = fname


class CaptureStreamWriter(DataSourceStreamWriter):
    """``writeStream.format("nfcapture")`` — the collector's rotated
    capture output as a streaming sink: each micro-batch packs its
    partitions into atomic v5 capture files named by (batch, uuid).

    Idempotence across batch replays (failure between sink write and
    checkpoint commit): filenames are DETERMINISTIC per (batch id,
    partition id) and the capture write is atomic (tmp + rename), so a
    replayed task replaces its own previous file instead of duplicating —
    the same recipe as
    :func:`nf2pq_spark.streaming.sinks.idempotent_parquet_batch_writer`.
    ``commit`` additionally records a ``_committed_<id>`` marker per
    batch (the downstream "batch is complete" signal).
    """

    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("nfcapture: .option('path', <dir>) required")
        self.path = path

    def write(self, iterator):
        from pyspark import TaskContext

        from .ipfix import encode_netflow_v5, write_capture_file

        ctx = TaskContext.get()
        batch_id = ctx.getLocalProperty("streaming.sql.batchId") or "0"
        flows = [row.asDict() for row in iterator]
        if flows:
            os.makedirs(self.path, exist_ok=True)
            # zero-padded batch id: the readers' lexicographic==arrival
            # invariant (and the template merge's (src, seq) ordering)
            # breaks at batch 10 with unpadded names — cap_b10 sorts
            # before cap_b2, which bricks a CaptureStreamReader tailing
            # this directory with a permanent non-monotonic-arrival error
            fname = f"cap_b{int(batch_id):010d}_p{ctx.partitionId():05d}.bin"
            # replay self-healing must also cover files this (batch,
            # partition) wrote under the pre-padding naming scheme: a
            # checkpointed stream resumed across the upgrade would
            # otherwise leave cap_bN_* next to cap_b000000000N_* and
            # double-count the batch on read (r4 advice)
            _remove_matching(self.path,
                             _cap_name_re(batch_id, ctx.partitionId()),
                             keep=fname)
            write_capture_file(os.path.join(self.path, fname),
                               encode_netflow_v5(flows))
            return _CapCommitMessage(fname)
        return _CapCommitMessage()

    def commit(self, messages, batchId: int) -> None:
        os.makedirs(self.path, exist_ok=True)
        # batch-wide replay sweep (r5 advice): the per-task healing in
        # write() only covers the task's OWN (batch, partition) slot, so a
        # checkpointed batch replayed with FEWER partitions than the
        # original run (e.g. across the padding upgrade, or after a
        # repartition) would leave the higher-numbered stale files in
        # place and double-count the batch on read. The tasks report what
        # they wrote; everything else matching this batch's pattern —
        # legacy unpadded or padded — is superseded and removed here,
        # after all tasks succeeded and before the marker lands.
        written = {m.fname for m in messages
                   if getattr(m, "fname", None)}
        _remove_matching(self.path, _cap_name_re(batchId), keep=written)
        with open(os.path.join(self.path, f"_committed_{batchId}"), "w") as fh:
            fh.write("ok")

    def abort(self, messages, batchId: int) -> None:
        # drop the aborted batch's files so a retry starts clean; the dir
        # may not exist yet if the batch failed before any write — a
        # FileNotFoundError here would mask the original failure. The
        # pattern covers BOTH the padded and the legacy unpadded batch-id
        # naming, so an abort after a resume-across-upgrade replay still
        # clears the whole batch (r4 advice).
        if not os.path.isdir(self.path):
            return
        _remove_matching(self.path, _cap_name_re(batchId))


def register_capture_source(spark) -> None:
    """Idempotently register ``format("nfcapture")`` on a session
    (registering again replaces the source with the same class)."""
    spark.dataSource.register(CaptureDataSource)
