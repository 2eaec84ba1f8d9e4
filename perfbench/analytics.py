"""The query workloads: seeded-order passes over registered queries at the
sf0.1 fixtures, each result checked against its DuckDB oracle.

- olap: 10 JVM-only queries (scan, join, aggregate, as-of, range-join and
  rollup operators).
- curation: 7 LLM-curation and graph queries (Python/Arrow UDFs,
  pairwise-similarity kernels, iterative checkpoints).
- analytics: both lists in one session and one shuffled pass.

One client: the benchmark's thread runs one query at a time (closed
loop). Results are collected to pandas inside the timed region and hashed
outside it.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from common import (CACHE_DIR, TRACE_DIR, SparkCounters, Tracer, cores,
                    cpu_meter, is_python_node, log, median, python_bytes,
                    remove_package_tmp_dirs)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: warm-up runs every query once on the sf0.01 fixtures next to SF_DIR:
#: the same code paths (JIT, codegen, Python workers) at a fraction of the
#: cost of a warm-up at SF_DIR, which the run budget has no room for
WARMUP_SF_DIR = os.path.join(os.path.dirname(os.path.normpath(SF_DIR)),
                             "sf0.01")
#: queries that keep a cache of SF_DIR under /tmp; warm-up builds it by
#: running them once on SF_DIR itself
CACHED = ("rl1_hypertable_rollup",)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# One query per operator family, so that a run (session start, warm-up and
# one pass) fits the run budget; perfbench/README.md lists the queries left
# out and why.
#: scan/aggregate, shuffle and broadcast joins, rollup, window top-k, time
#: buckets, range join, as-of join, continuous aggregate, SQL subquery
OLAP = ("q1_pricing_summary j1_inner_join j5_star_broadcast a7_rollup "
        "w4_topk_per_group t1_tumbling_hour j17_interval_overlap_join "
        "j8_asof_join rl1_hypertable_rollup sql13_dominant_suppliers").split()
#: exact and near-duplicate removal, cosine and IVF top-k, SRP semantic
#: dedup, a pandas UDF, iterative PageRank
CURATION = ("l1_exact_dedup_stats l2d_neardup_components l3_cosine_topk "
            "l3d_ivf_topk l25_semdedup_srp mm1_media_features "
            "g1_nation_pagerank").split()
WORKLOADS = {"olap": OLAP, "curation": CURATION, "analytics": OLAP + CURATION}
#: the oracle fingerprints, keyed by fixture contents and oracle SQL;
#: ``python3 perfbench/analytics.py`` rewrites it
ORACLE_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "oracles.json")

#: similarity stages whose pair yield the traced run reads: the candidate
#: join is recognised by its key column
PAIR_JOIN_KEY = {"l2d_neardup_components": ("l2d", "__b#"),
                 "l3d_ivf_topk": ("l3d", "__cell#"),
                 "l25_semdedup_srp": ("l25", "bucket#")}


def _group(name: str) -> str:
    return "olap" if name in OLAP else "curation"


# --------------------------------------------------------------------------
# result hashes
# --------------------------------------------------------------------------


def fingerprint(pdf) -> list:
    """Row count, column names and the order-insensitive value hash the
    repository's oracle sweeps use."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if str(pdf[c].dtype).startswith("datetime64"):
            pdf[c] = pdf[c].astype("datetime64[us]")
    lines = sorted(",".join(repr(v.tolist() if hasattr(v, "tolist") else v)
                            for v in row)
                   for row in pdf.itertuples(index=False))
    return [len(pdf), list(pdf.columns),
            hashlib.md5("\n".join(lines).encode()).hexdigest()]


def _oracle_key(names: list[str]) -> str:
    """Fixture file contents and oracle SQL: what the fingerprints depend
    on. A changed fixture or oracle gives another key."""
    from nf2pq_spark import plans

    key = hashlib.sha256()
    for t in TABLES:
        with open(f"{SF_DIR}/{t}.parquet", "rb") as fh:
            key.update(f"{t}:".encode() + hashlib.sha256(fh.read()).digest())
    for n in names:
        key.update(f"{n}:{plans.REGISTRY[n].oracle}".encode())
    return key.hexdigest()


def _build_oracles(names: list[str]) -> dict[str, list]:
    import duckdb

    from nf2pq_spark import plans

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    out = {n: fingerprint(con.execute(plans.REGISTRY[n].oracle).fetchdf())
           for n in names}
    con.close()
    return out


def _write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, path)


def oracle_fingerprints() -> tuple[dict[str, list], float]:
    """DuckDB oracle fingerprints of every query with an oracle, and the
    seconds spent building them (0 unless they had to be built).

    ORACLE_FILE, committed with the benchmark, holds them for the fixture
    contents and oracle SQL it was made from. For any other key they are
    built with DuckDB (~50 s, dominated by the ``l2d`` oracle) and cached
    in CACHE_DIR."""
    from nf2pq_spark import plans

    names = [n for n in WORKLOADS["analytics"] if plans.REGISTRY[n].oracle]
    key = _oracle_key(names)
    cached = os.path.join(CACHE_DIR, f"oracles-{key[:16]}.json")
    for path in (ORACLE_FILE, cached):
        if os.path.exists(path):
            with open(path) as fh:
                doc = json.load(fh)
            if doc["key"] == key:
                return doc["fingerprints"], 0.0
    t0 = time.perf_counter()
    out = _build_oracles(names)
    built = time.perf_counter() - t0
    _write_json(cached, {"key": key, "fingerprints": out})
    log(f"analytics: fixtures or oracles differ from {ORACLE_FILE}; built "
        f"{len(out)} oracle fingerprints in {built:.1f}s (once per checkout)")
    return out, built


def rollup_cache_dirs() -> list[str]:
    """rl1's continuous-aggregate caches of both fixture sets, fixed /tmp
    paths in the package."""
    return [f"/tmp/nf2pq_rollup_{os.path.basename(os.path.normpath(d))}"
            for d in (SF_DIR, WARMUP_SF_DIR)]


def reset_rollup_cache() -> None:
    """Every run starts with rl1's caches absent (warm-up builds them) and
    leaves them absent."""
    for path in rollup_cache_dirs():
        shutil.rmtree(path, ignore_errors=True)
        try:
            os.remove(path + ".lock")
        except OSError:
            pass


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


class Queries:
    def __init__(self, spark, names: list[str], seed: int, oracles: dict):
        from nf2pq_spark import plans

        self.spark = spark
        self.names = names
        self.oracles = {n: oracles.get(n) for n in names}
        self.fns = {n: plans.REGISTRY[n].fn for n in names}
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.seen: dict[str, list] = {}  # no-oracle results, across passes

    def setup(self) -> None:
        """Warm-up: every query once on WARMUP_SF_DIR, concurrently (JIT,
        codegen, Python workers), then the CACHED queries on SF_DIR. There
        is no oracle at WARMUP_SF_DIR: an execution there fails only if it
        raises."""
        reset_rollup_cache()
        t0 = time.perf_counter()
        with ThreadPoolExecutor(cores()) as pool:
            results = list(pool.map(
                lambda n: self._execute(n, WARMUP_SF_DIR), self.names))
        for name, (_wall, _pdf, err) in zip(self.names, results):
            self.attempted += 1
            if err is not None:
                log(f"analytics: {name} failed in warm-up: {str(err)[:300]}")
                self.failed += 1
        for name in CACHED:
            if name in self.names:
                _wall, pdf, err = self._execute(name)
                self._check(name, pdf, err)
        log(f"analytics: warm-up of {len(self.names)} queries "
            f"{time.perf_counter() - t0:.1f}s")

    def _execute(self, name: str, sf_dir: str = SF_DIR):
        t0 = time.perf_counter()
        try:
            pdf = self.fns[name](self.spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001 - an erroring query is a failure
            return time.perf_counter() - t0, None, ex
        return time.perf_counter() - t0, pdf, None

    def _check(self, name: str, pdf, err) -> None:
        self.attempted += 1
        if err is None:
            got = fingerprint(pdf)
            want = self.oracles[name]
            if want is None:
                # no oracle: non-empty, and the same result every time
                want = self.seen.setdefault(name, got) if got[0] else None
            if got == want:
                return
            log(f"analytics: {name} result {got} != expected {want}")
        else:
            log(f"analytics: {name} failed: {str(err)[:300]}")
        self.failed += 1

    def one_pass(self, traced: set[str] = frozenset(),
                 counters: SparkCounters | None = None,
                 tracer: Tracer | None = None) -> dict:
        """One pass in a freshly shuffled order: per query wall and CPU
        seconds. Queries in ``traced`` run inside a span and have Spark's
        counters read after them; their ``unit`` time includes the reads."""
        order = list(self.names)
        self.rng.shuffle(order)
        rows = {}
        for name in order:
            t0 = time.perf_counter()
            on = name in traced
            mark = counters.mark() if on else None
            cpu: list[float] = []
            with cpu_meter(cpu):
                if on:
                    with tracer.span(f"query.{name}", self.names.index(name)):
                        wall, pdf, err = self._execute(name)
                else:
                    wall, pdf, err = self._execute(name)
            row = {"wall": wall, "cpu": cpu[0]}
            if on:
                row.update(counters.stage_totals(mark))
                # SQL plan metrics feed curation's Python bytes and pair
                # yields only; reading them costs ~0.3 s a query
                if name in PAIR_JOIN_KEY:
                    row["nodes"] = counters.plan_nodes(mark)
                elif _group(name) == "curation":
                    row["nodes"] = counters.plan_nodes(mark, is_python_node)
            row["unit"] = time.perf_counter() - t0
            self._check(name, pdf, err)
            rows[name] = row
        return rows


def pair_yield(nodes: list[dict], key: str) -> float:
    """Rows kept by the similarity stage / candidate rows it scored: the
    candidate join (largest join on ``key``) and the first row-counting
    operator above it. 0 when adaptive execution removed the branch
    because it came out empty."""
    joins = [n for n in nodes if "Join" in n["name"] and key in n["desc"]
             and "number of output rows" in n["metrics"]]
    if not joins:
        return 0.0
    join = max(joins, key=lambda n: n["metrics"]["number of output rows"])
    by_id = {n["id"]: n for n in nodes if n["exec"] == join["exec"]}
    parent = {c: n["id"] for n in by_id.values() for c in n["children"]}
    node = join
    while node["id"] in parent:
        node = by_id[parent[node["id"]]]
        if "number of output rows" in node["metrics"]:
            candidates = join["metrics"]["number of output rows"]
            return node["metrics"]["number of output rows"] / candidates
    return 1.0


def run(spark, names: list[str], seed: int, seconds: float, trace: bool,
        setup_t0: float, oracles: dict):
    w = Queries(spark, names, seed, oracles)
    try:
        w.setup()
        setup_s = time.perf_counter() - setup_t0
        if trace:
            metrics, samples = _traced(w, seed)
        else:
            metrics, samples = _measured(w, seconds)
            metrics["setup_s"] = setup_s
    finally:
        reset_rollup_cache()
    return metrics, w.attempted, w.failed, w.failed == 0, samples


def _measured(w: Queries, seconds: float):
    """Passes until the next one would end after ``seconds``; at least one."""
    start = time.perf_counter()
    passes = []
    while not passes or (time.perf_counter() - start
                         + sum(r["wall"] for r in passes[-1].values())
                         <= seconds):
        passes.append(w.one_pass())
    for p in passes:
        log(f"analytics: pass of {len(p)} queries, "
            f"{sum(r['cpu'] for r in p.values()):.2f}s CPU; wall/CPU s: "
            + " ".join(f"{n}={r['wall']:.3f}/{r['cpu']:.2f}"
                       for n, r in p.items()))
    walls = [sum(r["wall"] for r in p.values()) for p in passes]
    cpus = [sum(r["cpu"] for r in p.values()) for p in passes]
    # geometric mean: every query weighs the same whatever its length, and
    # the noise of all of them averages out, where the median of a handful
    # of unlike queries jumps from one query to another
    geo = [math.exp(statistics.fmean(math.log(r["wall"]) for r in p.values()))
           for p in passes]
    return ({"pass_s": median(walls), "cpu_s": median(cpus),
             "latency_s": median(geo)},
            {"pass_s": len(walls), "cpu_s": len(cpus),
             "latency_s": sum(len(p) for p in passes)})


def _traced(w: Queries, seed: int):
    """Two passes; each traces a seeded half of the queries and runs the
    other half untraced, so every query has one traced and one untraced
    execution and pass-to-pass drift cancels. Tracing overhead = traced
    units (query + counter reads) - untraced executions."""
    half = set(random.Random(seed).sample(w.names, len(w.names) // 2))
    counters, tracer = SparkCounters(w.spark), Tracer()
    first = w.one_pass(half, counters, tracer)
    rest = set(w.names) - half
    second = w.one_pass(rest, counters, tracer)
    traced = {n: (first if n in half else second)[n] for n in w.names}
    plain = {n: (second if n in half else first)[n] for n in w.names}
    tracer.dump(os.path.join(TRACE_DIR, f"queries-{seed}.json"))
    m: dict[str, float] = {}
    for group in ("olap", "curation"):
        mine = [n for n in w.names if _group(n) == group]
        if not mine:
            continue
        m[f"{group}.pass_s"] = sum(plain[n]["wall"] for n in mine)
        m[f"{group}.cpu_s"] = sum(plain[n]["cpu"] for n in mine)
        m[f"{group}.jobs_per_pass"] = sum(traced[n]["jobs"] for n in mine)
        m[f"{group}.spill_bytes"] = sum(traced[n]["spill_bytes"] for n in mine)
        m[f"{group}.trace_overhead_s"] = (
            sum(traced[n]["unit"] for n in mine) - m[f"{group}.pass_s"])
    for n in w.names:
        group = _group(n)
        m[f"{group}.q.{n}_s"] = tracer.named(f"query.{n}")[0].duration
        m[f"{group}.q.{n}.shuffle_bytes"] = traced[n]["shuffle_bytes"]
        if group == "curation":
            m[f"curation.q.{n}.python_bytes"] = sum(
                python_bytes(traced[n]["nodes"]))
        if n in PAIR_JOIN_KEY:
            tag, key = PAIR_JOIN_KEY[n]
            m[f"curation.pair_yield.{tag}"] = pair_yield(traced[n]["nodes"], key)
    return m, {"traced_executions": len(traced),
               "untraced_executions": len(plain)}


if __name__ == "__main__":
    # rewrite ORACLE_FILE from the fixtures at $SPARK_GRAFT_SF_DIR
    sys.path.insert(0, os.path.dirname(os.path.dirname(ORACLE_FILE)))
    from nf2pq_spark import plans

    todo = [n for n in WORKLOADS["analytics"] if plans.REGISTRY[n].oracle]
    _write_json(ORACLE_FILE, {"key": _oracle_key(todo),
                              "fingerprints": _build_oracles(todo)})
    remove_package_tmp_dirs()
    print(f"wrote {len(todo)} oracle fingerprints to {ORACLE_FILE}")
