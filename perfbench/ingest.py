"""The ``ingest`` workload: seeded capture files drained by
``config.run_collector(spark, cfg, available_now=True)`` into
``batch_id=/date=/hour=`` Parquet, in two shapes.

- backfill: one backlog of BACKLOG_FLOWS flows (BACKLOG_ROTATIONS capture
  files per exporter) drained by one call into a fresh output and
  checkpoint. Decode and write kernels dominate.
- rounds: a closed loop; each round commits one rotation (one file per
  exporter, a seeded size around ROUND_FLOWS) and then drains it with the
  long-lived rounds checkpoint. Per-micro-batch fixed cost dominates.

Every drain's output is read back and compared flow by flow with the
generator's records, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

import numpy as np
import pandas as pd

from captures import (BASE_MS, expected_keys, exporters, failed_flows,
                      read_output, totals, write_rotation)
from common import (TRACE_DIR, WORK_DIR, SparkCounters, Tracer, cpu_meter,
                    log, median, python_bytes)

BACKLOG_FLOWS = 300_000
BACKLOG_ROTATIONS = 10
#: the backlog spans three hours of traffic
BACKLOG_ROTATION_MS = 18 * 60_000
ROUND_FLOWS = 12_000
ROTATION_MS = 60_000
HOUR_MS = 3_600_000
#: rounds per backfill drain in the measured loop
ROUNDS_PER_CYCLE = 2

class Ingest:
    def __init__(self, spark, seed: int):
        self.spark = spark
        self.seed = seed
        self.root = os.path.join(WORK_DIR, "ingest")
        self.exps = exporters(seed)
        self.rng = np.random.default_rng([seed, 3])
        day = BASE_MS + (seed % 28) * 24 * HOUR_MS
        self.backlog_t0 = day
        self.round_t0 = day + BACKLOG_ROTATIONS * BACKLOG_ROTATION_MS
        self.rounds_done = 0
        self.rounds_expected: list[pd.DataFrame] = []
        self.attempted = 0
        self.failed = 0
        self.totals_ok = True
        self.tracer: Tracer | None = None
        self.counters = SparkCounters(spark)
        self._drains = 0
        self.drain_jobs: list[int] = []
        self.round_jobs: list[int] = []
        self.last_output = (0, 0)

    # ---------------------------------------------------------------- set-up

    def setup(self) -> None:
        """Write the backlog, then drain it twice and run one round, so
        Python worker start-up and JIT land in set-up, not in the samples
        (after one drain the next is still ~25 % slow; a warm-up on a
        smaller backlog leaves the first full drain ~60 % slow)."""
        cap = os.path.join(self.root, "backlog")
        frames = [write_rotation(cap, self.exps, f"{r:03d}",
                                 BACKLOG_FLOWS // BACKLOG_ROTATIONS,
                                 self.backlog_t0 + r * BACKLOG_ROTATION_MS,
                                 BACKLOG_ROTATION_MS)
                  for r in range(BACKLOG_ROTATIONS)]
        self.backlog = pd.concat(frames, ignore_index=True)
        self.backlog_keys = expected_keys(self.backlog)
        self.backlog_dir = cap
        t0 = time.perf_counter()
        self.backfill()
        self.backfill()
        self.round()
        log(f"ingest: warm-up drain and round {time.perf_counter() - t0:.1f}s")

    # ---------------------------------------------------------------- drains

    def _drain(self, capture_dir: str, out: str, ckpt: str) -> None:
        from nf2pq_spark.config import CollectorConfig, run_collector

        q = run_collector(self.spark, CollectorConfig(
            capture_dir=capture_dir, parquet_path=out, checkpoint=ckpt),
            available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    def _check(self, expected: pd.DataFrame, out: str, keys=None) -> None:
        self.attempted += len(expected)
        try:
            actual = read_output(out)
        except (OSError, ValueError) as ex:
            log(f"ingest: unreadable output {out}: {ex}")
            self.failed += len(expected)
            return
        bad = failed_flows(expected, actual, keys)
        if totals(expected) != totals(actual):
            self.totals_ok = False
            log(f"ingest: totals differ: {totals(expected)} != "
                f"{totals(actual)}")
        if bad:
            log(f"ingest: {bad} of {len(expected)} flows lost, duplicated "
                f"or wrong in {out}")
        self.failed += bad

    def backfill(self, traced: bool = False) -> tuple[float, float]:
        """Drain the whole backlog into a fresh output, check it and
        delete it; returns (wall s, CPU s)."""
        self._drains += 1
        base = os.path.join(self.root, f"backfill{self._drains}")
        out = os.path.join(base, "out")
        cpu: list[float] = []
        mark = self.counters.mark() if traced else None
        with self._spans(traced, "collector.drain"), cpu_meter(cpu):
            t0 = time.perf_counter()
            try:
                self._drain(self.backlog_dir, out, os.path.join(base, "ckpt"))
            except Exception as ex:  # noqa: BLE001 - counted as failed flows
                log(f"ingest: backfill drain failed: {ex}")
            wall = time.perf_counter() - t0
        if traced:
            self.drain_jobs.append(len(self.counters.jobs_since(mark)))
        self._check(self.backlog, out, self.backlog_keys)
        self.last_output = _parquet_files(out)
        shutil.rmtree(base, ignore_errors=True)
        return wall, cpu[0]

    def round(self, traced: bool = False) -> float:
        """Commit one rotation and drain it; returns freshness seconds
        (rotation committed -> Parquet and checkpoint committed)."""
        cap = os.path.join(self.root, "rounds", "cap")
        out = os.path.join(self.root, "rounds", "out")
        # a narrow seeded spread: the median freshness of a few rounds must
        # not depend on which sizes the seed happened to draw
        n = int(ROUND_FLOWS * self.rng.uniform(0.9, 1.1))
        r = self.rounds_done
        expected = write_rotation(cap, self.exps, f"{r:05d}", n,
                                  self.round_t0 + r * ROTATION_MS, ROTATION_MS)
        committed = time.perf_counter()
        self.rounds_done += 1
        mark = self.counters.mark() if traced else None
        with self._spans(traced, "collector.round"):
            try:
                self._drain(cap, out, os.path.join(self.root, "rounds", "ckpt"))
            except Exception as ex:  # noqa: BLE001 - counted as failed flows
                log(f"ingest: round drain failed: {ex}")
            fresh = time.perf_counter() - committed
        if traced:
            self.round_jobs.append(len(self.counters.jobs_since(mark)))
        self.rounds_expected.append(expected)
        return fresh

    def finish(self) -> None:
        """Check everything the rounds wrote (set-up round included), in
        one read at the end of the run."""
        self._check(pd.concat(self.rounds_expected, ignore_index=True),
                    os.path.join(self.root, "rounds", "out"))

    # --------------------------------------------------------------- tracing

    @contextmanager
    def _spans(self, traced: bool, name: str):
        """Root span of one drain, with the two package functions that
        run_collector looks up at call time swapped for span wrappers."""
        if not traced:
            yield None
            return
        import nf2pq_spark.sources.ipfix as ipfix
        import nf2pq_spark.streaming.sinks as sinks

        tracer = self.tracer
        trace = len(tracer.named("collector.drain")) + len(
            tracer.named("collector.round"))
        decode, writer_factory = (ipfix.decode_datagram_frame,
                                  sinks.idempotent_parquet_batch_writer)

        with tracer.span(name, trace) as root:
            def traced_decode(*a, **kw):
                with tracer.span("ipfix.harvest", trace, root):
                    return decode(*a, **kw)

            def traced_writer_factory(*a, **kw):
                write = writer_factory(*a, **kw)

                def traced_write(df, batch_id):
                    with tracer.span("sinks.write", trace, root):
                        write(df, batch_id)

                return traced_write

            ipfix.decode_datagram_frame = traced_decode
            sinks.idempotent_parquet_batch_writer = traced_writer_factory
            try:
                yield root
            finally:
                ipfix.decode_datagram_frame = decode
                sinks.idempotent_parquet_batch_writer = writer_factory

    def _layer_split(self, name: str) -> list[tuple[float, float, float]]:
        """(harvest, write, self) seconds of each traced drain."""
        out = []
        for root in self.tracer.named(name):
            kids = self.tracer.children(root)
            out.append((sum(k.duration for k in kids
                            if k.name == "ipfix.harvest"),
                        sum(k.duration for k in kids
                            if k.name == "sinks.write"),
                        self.tracer.self_time(root)))
        return out

    def probes(self) -> dict[str, float]:
        """Scan and decode of the backlog in isolation (noop sink)."""
        from nf2pq_spark.config import capture_source_glob
        from nf2pq_spark.sources.ipfix import decode_datagram_frame

        path = capture_source_glob(self.backlog_dir)
        scan, harvest, decoded, nodes = [], [], [], None
        for _ in range(2):
            t0 = time.perf_counter()
            raw = (self.spark.read.format("binaryFile").load(path)
                   .select("path", "content"))
            raw.write.format("noop").mode("overwrite").save()
            scan.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            frame = decode_datagram_frame(
                self.spark.read.format("binaryFile").load(path)
                .select("path", "content"))
            harvest.append(time.perf_counter() - t0)
            mark = self.counters.mark()
            t0 = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            decoded.append(time.perf_counter() - t0)
            nodes = self.counters.plan_nodes(
                mark, lambda name: name == "MapInPandas")
        sent, back = python_bytes(nodes)
        rows = sum(n["metrics"].get("number of output rows", 0.0)
                   for n in nodes)
        return {"ipfix.scan_s": median(scan), "ipfix.harvest_s": median(harvest),
                "ipfix.decode_s": median(decoded) - median(scan),
                "ipfix.flows_out_ratio": rows / BACKLOG_FLOWS,
                "ipfix.python_bytes_in": sent, "ipfix.python_bytes_out": back}


def _parquet_files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def run(spark, seed: int, seconds: float, trace: bool, setup_t0: float):
    """Returns (end-to-end or per-layer metrics, attempted, failed, correct,
    samples) for one run."""
    w = Ingest(spark, seed)
    w.setup()
    setup_s = time.perf_counter() - setup_t0
    if trace:
        metrics, samples = _traced(w, seconds)
    else:
        metrics, samples = _measured(w, seconds)
        metrics["setup_s"] = setup_s
    w.finish()
    correct = w.failed == 0 and w.totals_ok
    return metrics, w.attempted, w.failed, correct, samples


def _measured(w: Ingest, seconds: float):
    """Cycles of one backfill and ROUNDS_PER_CYCLE rounds while the next
    cycle is expected to end within ``seconds``; at least one."""
    walls, cpus, fresh = [], [], []
    start, cycle = time.perf_counter(), 0.0
    while not walls or time.perf_counter() - start + cycle <= seconds:
        t0 = time.perf_counter()
        wall, cpu = w.backfill()
        log(f"ingest: backfill {wall:.3f}s {cpu:.2f}s CPU")
        walls.append(wall)
        cpus.append(cpu)
        fresh.extend(w.round() for _ in range(ROUNDS_PER_CYCLE))
        cycle = time.perf_counter() - t0
    metrics = {"pass_s": median(walls), "cpu_s": median(cpus),
               "latency_s": median(fresh)}
    samples = {"pass_s": len(walls), "cpu_s": len(cpus),
               "latency_s": len(fresh)}
    log(f"ingest: backfill {BACKLOG_FLOWS} flows x {len(walls)}: "
        f"{BACKLOG_FLOWS / median(walls):,.0f} flows/s, "
        f"{median(cpus) / BACKLOG_FLOWS * 1e6:.2f} us CPU/flow, "
        f"{w.last_output[1] / BACKLOG_FLOWS:.1f} Parquet B/flow; "
        f"{len(fresh)} rounds of ~{ROUND_FLOWS} flows")
    return metrics, samples


def _traced(w: Ingest, seconds: float):
    """Untraced and traced backfill drains alternate (the difference is
    the tracing overhead); then isolated scan/decode probes and traced
    rounds."""
    w.tracer = Tracer()
    plain, cpus, traced = [], [], []
    for first_traced in (False, True):  # U T T U: drift cancels out
        for on in (first_traced, not first_traced):
            wall, cpu = w.backfill(traced=on)
            if on:
                traced.append(wall)
            else:
                plain.append(wall)
                cpus.append(cpu)
    files, size = w.last_output
    start = time.perf_counter()
    while (len(w.round_jobs) < 5
           or time.perf_counter() - start < seconds / 4):
        w.round(traced=True)
    split = w._layer_split("collector.drain")
    rsplit = w._layer_split("collector.round")
    m = {
        "sinks.write_s": median([s[1] for s in split]),
        "sinks.files_written": float(files),
        "sinks.bytes_per_flow": size / BACKLOG_FLOWS,
        "collector.batch_overhead_s": median([s[2] for s in split]),
        "collector.jobs_per_batch": median(w.drain_jobs),
        "collector.round_harvest_s": median([s[0] for s in rsplit]),
        "collector.round_write_s": median([s[1] for s in rsplit]),
        "collector.round_overhead_s": median([s[2] for s in rsplit]),
        "collector.round_jobs_per_batch": median(w.round_jobs),
        "ingest.backfill_flows_per_s": BACKLOG_FLOWS / median(plain),
        "ingest.cpu_us_per_flow": median(cpus) / BACKLOG_FLOWS * 1e6,
        "ingest.trace_overhead_s": median(traced) - median(plain),
    }
    m.update(w.probes())
    w.tracer.dump(os.path.join(TRACE_DIR, f"ingest-{w.seed}.json"))
    return m, {"traced_drains": len(traced), "traced_rounds": len(rsplit)}
