#!/usr/bin/env python
"""Full-daemon kill -9 crash soak (r7 verdict item 6).

The per-writer crash-safety evidence (bridge tmp-rename, idempotent
batch dirs, rollup swap recovery) is unit-level; this tool COMPOSES it:
the whole collector pipeline —

    sender ──UDP──▶ UdpCaptureBridge ──capture files──▶
        run_collector (streaming decode → batch_id-partitioned parquet)
        ──▶ stream_maintain_rollup ──▶ compact_rollup

— with every stage kill -9'd and restarted at random points for N
cycles, then verified LOSSLESS and DUPLICATE-FREE against a golden
batch decode of the committed capture files:

* golden  = read_flow_files() over the capture dir (one pass, no
  streaming machinery) — the committed ground truth. Datagrams that
  died inside a killed bridge's dot-prefixed ``.tmp`` (or while no
  bridge was listening) were never committed; UDP gives them no
  delivery promise, and no reader can observe them.
* parquet = the collector's output table. Multiset equality of whole
  rows with golden (every flow column, plus ts/date/hour derived from
  the golden ts_ms) proves the checkpoint lost nothing (no batch
  skipped), the batch_id=N overwrite duplicated nothing (no replayed
  batch appended twice — the bug a blind append exhibits immediately),
  and the writer kept every value, type and partition.
* rollup  = query_rollup() must equal the same aggregate computed
  directly over the parquet table, across kill cycles of the
  maintaining stream AND of compact_rollup's swap window.

Child modes (each its own process group so kill -9 takes the JVM too):

    crash_soak.py --bridge OUT_DIR PORT ROTATE_S READY_FILE  # until SIGTERM
    crash_soak.py --drain CAP_DIR PQ_DIR CKPT      # one availableNow drain
    crash_soak.py --rollup PQ_DIR ROLLUP_DIR CKPT  # one rollup maintenance run
    crash_soak.py --compact ROLLUP_DIR             # one compaction

Orchestrating run (defaults sized for ~2-3 min on local[4]):

    python tools/crash_soak.py [--cycles N] [--datagrams N]

Exit 0 iff every verification holds. Each child's stderr is written to
a ``<mode>_*.stderr`` file in the work directory, which a failed soak
keeps; a child that must finish and fails raises with the last lines of
its file. The bounded CI variant lives in tests/test_crash_soak.py.
"""

from __future__ import annotations

import os
import random
import signal
import socket
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --------------------------------------------------------------------------
# child modes
# --------------------------------------------------------------------------

def _child_bridge(out_dir: str, port: int, rotate_s: float,
                  ready_file: str) -> None:
    """Run the UDP bridge until SIGTERM (graceful: finalizes open files).
    SIGKILL — the soak's crash injection — leaves the in-flight .tmp
    behind, which must stay invisible to every reader. ``ready_file``
    is created once the socket is bound."""
    from nf2pq_spark.sources.udp_bridge import UdpCaptureBridge

    bridge = UdpCaptureBridge("127.0.0.1", port, out_dir,
                              rotate_seconds=rotate_s)
    bridge.start()
    open(ready_file, "w").close()
    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(1))
    while not stop:
        time.sleep(0.05)
    bridge.stop()


def _soak_session(app: str):
    from pyspark.sql import SparkSession

    return (SparkSession.builder.master("local[4]").appName(app)
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.sql.session.timeZone", "UTC")
            .getOrCreate())


def _child_drain(cap_dir: str, pq_dir: str, ckpt: str) -> None:
    """One availableNow collector drain; exits 0 when the drain commits."""
    from nf2pq_spark.config import CollectorConfig, run_collector

    spark = _soak_session("soak-drain")
    cfg = CollectorConfig(capture_dir=cap_dir, parquet_path=pq_dir,
                          checkpoint=ckpt, listen_host="", listen_port=0,
                          rotation_seconds=60, clickhouse=None)
    q = run_collector(spark, cfg, available_now=True)
    q.awaitTermination()


def _child_rollup(pq_dir: str, rollup_dir: str, ckpt: str) -> None:
    """One availableNow rollup-maintenance run over the flows table."""
    import pyspark.sql.functions as F

    from nf2pq_spark.operators.rollup import stream_maintain_rollup

    spark = _soak_session("soak-rollup")
    schema = spark.read.parquet(pq_dir).schema
    stream = (spark.readStream.schema(schema).parquet(pq_dir)
              .select(F.col("ts"),
                      F.col("pr").cast("string").alias("event_type"),
                      F.col("ibyt").cast("double").alias("value")))
    q = stream_maintain_rollup(stream, rollup_dir, ckpt, bucket="1 hour")
    q.awaitTermination()


def _child_compact(rollup_dir: str) -> None:
    from nf2pq_spark.operators.rollup import compact_rollup

    spark = _soak_session("soak-compact")
    compact_rollup(spark, rollup_dir)


# --------------------------------------------------------------------------
# orchestration
# --------------------------------------------------------------------------

def _spawn(args: list[str], workdir: str) -> subprocess.Popen:
    """Child in its OWN process group: pyspark's JVM is a child of the
    python process, and a bare SIGKILL to python would orphan a JVM that
    keeps running the job — the 'killed' drain would finish its writes
    and the crash injection would test nothing. The child's stderr goes
    to its own ``<mode>_*.stderr`` file in ``workdir`` (the returned
    process's ``stderr_path``), kept with the rest of the evidence when
    the soak fails."""
    fd, path = tempfile.mkstemp(suffix=".stderr", dir=workdir,
                                prefix=args[0].lstrip("-") + "_")
    with os.fdopen(fd, "wb") as err:
        p = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *args],
            start_new_session=True, stdout=subprocess.DEVNULL, stderr=err)
    p.stderr_path = path
    return p


def _stderr_tail(p: subprocess.Popen, lines: int = 20) -> str:
    with open(p.stderr_path, errors="replace") as err:
        return "".join(err.readlines()[-lines:])


def _kill9(p: subprocess.Popen) -> None:
    try:
        os.killpg(os.getpgid(p.pid), signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def _run_with_random_kill(args: list[str], workdir: str,
                          kill_after: float) -> bool:
    """Spawn a child, kill -9 its whole group after ``kill_after`` s.
    True if the child finished BEFORE the kill fired."""
    p = _spawn(args, workdir)
    try:
        p.wait(timeout=kill_after)
        return True
    except subprocess.TimeoutExpired:
        _kill9(p)
        return False


def _run_to_completion(args: list[str], workdir: str,
                       timeout: float = 300.0) -> None:
    p = _spawn(args, workdir)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        # kill the whole group before propagating: a wedged child's JVM
        # (own session per _spawn) would otherwise outlive the soak,
        # keep writing to the workdir, and steal cores from the caller
        _kill9(p)
        raise
    if rc != 0:
        raise RuntimeError(f"clean run {args} exited {rc}; last lines of "
                           f"{p.stderr_path}:\n{_stderr_tail(p)}")


def _wait_ready(p: subprocess.Popen, ready_file: str,
                timeout: float = 60.0) -> None:
    """Block until child ``p`` creates ``ready_file``. The bridge child
    spends ~0.8 s importing before it binds (longer on a loaded host),
    so traffic sent on a fixed sleep mostly hit a closed port."""
    deadline = time.monotonic() + timeout
    while not os.path.exists(ready_file):
        if p.poll() is not None:
            raise RuntimeError(f"child exited {p.returncode} before ready; "
                               f"last lines of {p.stderr_path}:\n"
                               f"{_stderr_tail(p)}")
        if time.monotonic() > deadline:
            _kill9(p)
            raise TimeoutError(f"child not ready after {timeout:.0f}s")
        time.sleep(0.01)


def _free_port() -> int:
    s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    s.bind(("127.0.0.1", 0))
    port = s.getsockname()[1]
    s.close()
    return port


def _send_flows(port: int, start: int, count: int, base_ms: int,
                rate_per_s: float) -> None:
    """Send ``count`` single-flow v5 datagrams, each carrying a unique
    counter in (sa_int, sp) and a ts spreading across hours."""
    from nf2pq_spark.sources.ipfix import encode_netflow_v5

    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    delay = 1.0 / rate_per_s
    for i in range(start, start + count):
        ts = base_ms + i * 10_000  # 10s apart -> spans hours
        dgram = encode_netflow_v5([{
            "sa_int": (10 << 24) + i, "da_int": 2, "sp": i % 60000,
            "dp": 80, "pr": 6, "flg": 16, "ipkt": 1, "ibyt": 100 + i % 50,
            "ts_ms": ts, "te_ms": ts + 500, "sas": 0, "das": 0,
        }], per_packet=1)[0]
        sock.sendto(dgram, ("127.0.0.1", port))
        time.sleep(delay)
    sock.close()


def _utc_ts_date_hour(ts_ms: int) -> tuple:
    """(unix micros, date, hour) the collector must write for ``ts_ms``
    under a UTC session time zone."""
    import datetime

    at = datetime.datetime.fromtimestamp(ts_ms / 1000, datetime.timezone.utc)
    return ts_ms * 1000, at.date(), at.hour


def soak(workdir: str, cycles: int = 3, datagrams: int = 1500,
         rate_per_s: float = 300.0, seed: int | None = None) -> dict:
    """Run the full soak; returns the verification summary dict.
    Raises AssertionError on any loss/duplication/mismatch."""
    rng = random.Random(seed)
    cap = os.path.join(workdir, "caps")
    pq = os.path.join(workdir, "flows")
    ckpt = os.path.join(workdir, "ckpt")
    rollup = os.path.join(workdir, "rollup")
    rckpt = os.path.join(workdir, "rollup_ckpt")
    os.makedirs(cap, exist_ok=True)
    port = _free_port()
    base_ms = 90_000_000  # v5 uint32 ms wire bound

    # -- phase A: bridge churn under live traffic -------------------------
    per_cycle = datagrams // cycles
    sent = 0
    for c in range(cycles):
        ready = os.path.join(workdir, f"bridge_{c}.ready")
        bridge = _spawn(["--bridge", cap, str(port), "0.25", ready],
                        workdir)
        _wait_ready(bridge, ready)
        _send_flows(port, sent, per_cycle, base_ms, rate_per_s)
        sent += per_cycle
        if c < cycles - 1:
            time.sleep(rng.uniform(0.0, 0.3))
            _kill9(bridge)  # crash injection: in-flight .tmp dies with it
            time.sleep(rng.uniform(0.05, 0.3))  # downtime: datagrams drop
        else:
            time.sleep(0.4)
            os.killpg(os.getpgid(bridge.pid), signal.SIGTERM)  # graceful
            bridge.wait(timeout=10)

    # -- phase B: collector drain churn ------------------------------------
    # the bridge nests files under <exporter-ip>/ and Spark's binaryFile
    # source does not recurse into non-partition subdirs — the glob form
    # is how a deployment points the collector at a bridge out_dir.
    # The FIRST kill of each churn loop fires at 3s — inside JVM startup
    # on any host, so at least one injection per stage is DETERMINISTIC
    # regardless of machine speed (a fast host otherwise finishes every
    # child before its random kill timer and the soak goes vacuous);
    # later cycles use the random window to also hit mid-work states.
    cap_glob = os.path.join(cap, "*")
    drains_killed = 0
    for i in range(cycles):
        kill_after = 3.0 if i == 0 else rng.uniform(8.0, 18.0)
        if _run_with_random_kill(["--drain", cap_glob, pq, ckpt], workdir,
                                 kill_after=kill_after):
            break  # finished before the kill — backlog already drained
        drains_killed += 1
    # final clean drain
    _run_to_completion(["--drain", cap_glob, pq, ckpt], workdir)

    # -- phase C: rollup maintenance churn + compaction churn --------------
    # kill windows sized to the short jobs (JVM spin-up ~6s): a window
    # past the job duration injects nothing — the summary counts make a
    # kill-free (vacuous) phase visible to the caller
    rollups_killed = 0
    for i in range(max(1, cycles - 1)):
        kill_after = 3.0 if i == 0 else rng.uniform(5.0, 10.0)
        if _run_with_random_kill(["--rollup", pq, rollup, rckpt], workdir,
                                 kill_after=kill_after):
            break
        rollups_killed += 1
    _run_to_completion(["--rollup", pq, rollup, rckpt], workdir)
    compacts_killed = 0
    for i in range(max(1, cycles - 1)):
        kill_after = 3.0 if i == 0 else rng.uniform(5.0, 9.0)
        if _run_with_random_kill(["--compact", rollup], workdir,
                                 kill_after=kill_after):
            break
        compacts_killed += 1
    _run_to_completion(["--compact", rollup], workdir)

    # -- verification -------------------------------------------------------
    import pyspark.sql.functions as F
    from pyspark.sql import SparkSession

    from nf2pq_spark.operators.rollup import query_rollup
    from nf2pq_spark.sources.ipfix import FLOW_SCHEMA, read_flow_files

    # getOrCreate may hand back a caller's session (the pytest variant's
    # shared fixture) — stopping THAT would brick every later test
    pre_existing = SparkSession.getActiveSession() is not None
    spark = _soak_session("soak-verify")
    try:
        # whole rows: every flow column as decoded, plus ts/date/hour
        # derived here from the golden ts_ms (session time zone UTC), so
        # a wrong type or zone in the writer fails like a lost row
        flow_cols = [f.name for f in FLOW_SCHEMA.fields]
        gold = sorted(
            tuple(r) + _utc_ts_date_hour(r.ts_ms)
            for r in read_flow_files(spark, cap_glob).collect())
        table = spark.read.parquet(pq)
        got = sorted(map(tuple, table.select(
            *flow_cols, F.unix_micros("ts"), "date", "hour").collect()))
        assert got == gold, (
            f"flows table diverged from golden decode: {len(got)} rows "
            f"vs {len(gold)} committed (dupes, loss or wrong values)")

        expect = sorted(map(tuple, (
            table.groupBy(F.date_trunc("hour", "ts").alias("bucket"),
                          F.col("pr").cast("string").alias("event_type"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("ibyt").cast("double")).alias("sum_value"),
                 F.min(F.col("ibyt").cast("double")).alias("min_value"),
                 F.max(F.col("ibyt").cast("double")).alias("max_value"))
        ).collect()))
        rolled = sorted(map(tuple, query_rollup(spark, rollup, "hour")
                            .collect()))
        assert rolled == expect, "rollup diverged from direct aggregate"
        batch_ids = {r[0] for r in spark.read.parquet(rollup)
                     .select("batch_id").distinct().collect()}
        assert batch_ids == {-1}, f"compaction left partials: {batch_ids}"

        return {
            "sent": sent,
            "committed": len(gold),
            "table_rows": len(got),
            "drains_killed": drains_killed,
            "rollups_killed": rollups_killed,
            "compacts_killed": compacts_killed,
        }
    finally:
        if not pre_existing:
            spark.stop()


def main() -> int:
    args = sys.argv[1:]
    if args and args[0] == "--bridge":
        _child_bridge(args[1], int(args[2]), float(args[3]), args[4])
        return 0
    if args and args[0] == "--drain":
        _child_drain(args[1], args[2], args[3])
        return 0
    if args and args[0] == "--rollup":
        _child_rollup(args[1], args[2], args[3])
        return 0
    if args and args[0] == "--compact":
        _child_compact(args[1])
        return 0

    import shutil

    cycles = int(args[args.index("--cycles") + 1]) if "--cycles" in args else 3
    datagrams = (int(args[args.index("--datagrams") + 1])
                 if "--datagrams" in args else 1500)
    workdir = tempfile.mkdtemp(prefix="nf2pq_soak_")
    t0 = time.time()
    try:
        summary = soak(workdir, cycles=cycles, datagrams=datagrams)
    except BaseException:
        # a failed soak keeps its captures, table and checkpoints
        print(f"SOAK FAILED: evidence kept in {workdir}", file=sys.stderr)
        raise
    shutil.rmtree(workdir)
    print(f"SOAK OK in {time.time() - t0:.0f}s: {summary}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
