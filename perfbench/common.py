"""Shared plumbing for the benchmark: the Spark session and its teardown,
process-tree CPU, statistics, spans, and readers for Spark's own status
stores (job/stage metrics and SQL plan metrics).

Everything here runs in the benchmark process; the package under test is
only called through its public functions.
"""

from __future__ import annotations

import os
import re
import shutil
import signal
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
#: scratch space of one run (captures, Parquet output, Spark local dirs,
#: temp files); emptied at the start and the end of every run
WORK_DIR = os.path.join(BENCH_DIR, ".work")
#: survives between runs of one checkout: the oracle hashes
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
#: spans of traced runs, one JSON file per run
TRACE_DIR = os.path.join(BENCH_DIR, ".traces")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    """Cores this process may run on — what ``nproc`` prints."""
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Point every scratch location that can be redirected at WORK_DIR and
    make the package importable in Python workers. Must run before the
    JVM starts."""
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    local = os.path.join(WORK_DIR, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")


def start_session():
    """The package's own session builder on local[nproc]."""
    from nf2pq_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cores())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants() -> list[int]:
    from bench import _tree_cpu_snapshot

    return [p for p in _tree_cpu_snapshot() if p != os.getpid()]


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this run
    started (JVM, Python workers) has exited."""
    kids = _descendants()
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a hung JVM is killed below
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while True:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(") ", 1)[1].startswith("Z")
    except OSError:
        return True


def remove_package_tmp_dirs() -> None:
    """Importing the package seeds two per-process fixture directories
    under /tmp (``plans.collector``); remove this process's pair."""
    pid = os.getpid()
    for base in ("/tmp/nf2pq_csv_customer", "/tmp/nf2pq_json_events"):
        shutil.rmtree(f"{base}_{pid}", ignore_errors=True)
        try:
            os.remove(f"{base}_{pid}.lock")
        except OSError:
            pass


@contextmanager
def cpu_meter(out: list):
    """Append the process-tree CPU seconds (JVM + Python workers) burned
    inside the block to ``out``."""
    from bench import _cpu_delta, _tree_cpu_snapshot

    before = _tree_cpu_snapshot()
    try:
        yield
    finally:
        out.append(_cpu_delta(before, _tree_cpu_snapshot()))


def median(xs) -> float:
    return float(statistics.median(xs))


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    trace: int
    name: str
    start: float
    end: float
    parent: int | None
    id: int

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans around calls into the package's layers. A span's
    parent is passed explicitly, because foreachBatch bodies run on a
    py4j callback thread, not on the thread that opened the parent."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._next = 0

    @contextmanager
    def span(self, name: str, trace: int, parent: int | None = None):
        with self._lock:
            sid = self._next
            self._next += 1
        start = time.perf_counter()
        try:
            yield sid
        finally:
            span = Span(trace, name, start, time.perf_counter(), parent, sid)
            with self._lock:
                self.spans.append(span)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(self.children(span), key=lambda s: s.start):
            s, e = max(c.start, span.start), min(c.end, span.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.duration - covered

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        import json

        t0 = min((s.start for s in self.spans), default=0.0)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([{"id": s.id, "trace": s.trace, "name": s.name,
                        "parent": s.parent,
                        "start_s": round(s.start - t0, 6),
                        "end_s": round(s.end - t0, 6)}
                       for s in self.spans], fh)


# --------------------------------------------------------------------------
# Spark status stores
# --------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}
_FIRST_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)?")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value (``12,345``, ``1.5 MiB``, or the
    ``total (min, med, max ...)\\n<total> (...)`` form) → its total."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _FIRST_VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)


class SparkCounters:
    """Reads jobs, stages and SQL plan metrics that Spark records for every
    execution, between two marks."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._app = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._job = max(self._sc.statusTracker().getJobIdsForGroup(None),
                        default=-1)
        self._exec = -1

    def _flush(self) -> None:
        # status stores are fed by the asynchronous listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)

    def _last_job(self) -> int:
        """Highest job id so far. Ids are dense and global, and streaming
        jobs carry a job group, so probe upwards rather than list."""
        from py4j.protocol import Py4JJavaError

        while True:
            try:
                self._app.job(self._job + 1)
            except Py4JJavaError:
                return self._job
            self._job += 1

    def mark(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) so far."""
        self._flush()
        return (self._last_job(), self._last_exec())

    def jobs_since(self, mark) -> list[int]:
        self._flush()
        return list(range(mark[0] + 1, self._last_job() + 1))

    def stage_totals(self, mark) -> dict[str, float]:
        """Shuffle bytes written and bytes spilled to disk by the stages
        of every job since ``mark``, plus the job count."""
        jobs = self.jobs_since(mark)
        stage_ids = set()
        for j in jobs:
            info = self._sc.statusTracker().getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        from py4j.protocol import Py4JJavaError

        shuffle = spill = 0.0
        for sid in stage_ids:
            try:
                st = self._app.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages have no attempt
                continue
            shuffle += st.shuffleWriteBytes()
            spill += st.diskBytesSpilled()
        return {"jobs": float(len(jobs)), "shuffle_bytes": shuffle,
                "spill_bytes": spill}

    def _last_exec(self) -> int:
        while self._sql.execution(self._exec + 1).isDefined():
            self._exec += 1
        return self._exec

    def plan_nodes(self, mark, wanted=None) -> list[dict]:
        """Nodes of every SQL execution since ``mark`` as ``{exec, id,
        name, desc, children, metrics{name: total}}``; nodes whose name
        fails ``wanted`` are skipped (each read is a py4j round trip)."""
        out = []
        for eid in range(mark[1] + 1, self._last_exec() + 1):
            graph = self._sql.planGraph(eid)
            kids: dict[int, list[int]] = {}
            for edge in self._conv.asJava(graph.edges()):
                # edges run child -> parent
                kids.setdefault(edge.toId(), []).append(edge.fromId())
            values = None
            for node in self._conv.asJava(graph.allNodes()):
                name = node.name()
                if wanted is not None and not wanted(name):
                    continue
                if values is None:
                    values = self._conv.asJava(self._sql.executionMetrics(eid))
                metrics = {}
                for m in self._conv.asJava(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v is not None:
                        metrics[m.name()] = parse_metric(v)
                out.append({"exec": eid, "id": node.id(), "name": name,
                            "desc": node.desc(),
                            "children": kids.get(node.id(), []),
                            "metrics": metrics})
        return out


def is_python_node(name: str) -> bool:
    """Plan nodes that ship rows to Python workers (MapInPandas,
    ArrowEvalPython, BatchEvalPython, FlatMapGroupsInPandas, ...)."""
    return "Python" in name or "Pandas" in name or "Arrow" in name


def python_bytes(nodes: list[dict]) -> tuple[float, float]:
    """(bytes sent to, bytes returned from) Python workers."""
    sent = sum(n["metrics"].get("data sent to Python workers", 0.0)
               for n in nodes)
    back = sum(n["metrics"].get("data returned from Python workers", 0.0)
               for n in nodes)
    return sent, back
