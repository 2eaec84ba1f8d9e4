"""Collector-path + auxiliary-source queries (SURVEY §2.1 S4/S6, §3.2/§3.3).

The NetFlow/IPFIX decode queries are the reference-faithful core: flow
datagrams are synthesized deterministically from the events fixture (so the
DuckDB oracle can recompute every decoded field arithmetically), packed with
the real wire encoders, decoded by the engine's mapInPandas decoder, and
aggregated — a full binary round-trip under the hash gate.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd

from pyspark.sql import functions as F

from ..scratch import scratch_dir
from ..sources.ipfix import (_VARLEN, encode_ipfix, encode_netflow_v5,
                             encode_netflow_v9, read_flow_files,
                             write_capture_file)
from ..sources.tables import load_table
from .registry import register

# Per-PROCESS S4 scan directories (r8 concurrent-grading drill): unlike
# the build-once /tmp caches (flock-serialized check-and-rebuild), these
# dirs are REWRITTEN by their query fns on every run — two concurrent
# graders sharing a fixed path raced each other's mode("overwrite"), and
# one grader's oracle globbed a directory the other had just deleted
# ("No files found") or half-rewritten (hash mismatch). A pid-suffixed
# path makes each grading process self-consistent (its query fn and its
# oracle SQL — interpolated below — see the same private dir) and makes
# concurrent graders collision-free by construction. Dead siblings are
# garbage-collected at import.
_CSV_SCAN_DIR = f"/tmp/nf2pq_csv_customer_{os.getpid()}"
_JSON_SCAN_DIR = f"/tmp/nf2pq_json_events_{os.getpid()}"


def _gc_stale_scan_dirs(bases: tuple[str, ...] = (
        "/tmp/nf2pq_csv_customer", "/tmp/nf2pq_json_events")) -> None:
    """Best-effort removal of per-process S4 dirs (and their lock files)
    whose owning pid is gone — plus the legacy un-suffixed shared names.
    Only trees older than an hour are touched, so a recycled pid cannot
    delete a LIVE concurrent grader's dir out from under it."""
    import glob as _glob
    import time as _time

    cutoff = _time.time() - 3600.0
    for base in bases:
        for p in _glob.glob(base + "_*") + [base]:
            if p.endswith(".lock") or p in (_CSV_SCAN_DIR, _JSON_SCAN_DIR):
                continue
            suffix = p.rsplit("_", 1)[-1]
            if suffix.isdigit():
                try:
                    os.kill(int(suffix), 0)
                    continue  # pid alive — not ours to touch
                except ProcessLookupError:
                    pass
                except PermissionError:
                    continue  # alive, other user
            try:
                if os.path.getmtime(p) > cutoff:
                    continue
                shutil.rmtree(p, ignore_errors=True)
                if os.path.exists(p + ".lock"):
                    os.remove(p + ".lock")
            except OSError:
                pass


_gc_stale_scan_dirs()

# deterministic flow synthesis from event_id (oracle-expressible arithmetic;
# the same scheme as f7_flownet)
_FLOW_SQL = """
    SELECT CASE WHEN event_id % 3 = 0 THEN 6
                WHEN event_id % 3 = 1 THEN 17 ELSE 1 END AS pr,
           CAST(event_id % 64 AS INT) AS flg,
           CAST(event_id % 1024 AS INT) AS sp,
           CAST((event_id * 7) % 1024 AS INT) AS dp,
           CAST(event_id % 100 + 1 AS BIGINT) AS ipkt,
           CAST(event_id % 5000 + 40 AS BIGINT) AS ibyt,
           concat(CAST(event_id % 223 + 10 AS VARCHAR), '.',
                  CAST((event_id // 7) % 256 AS VARCHAR), '.',
                  CAST((event_id // 11) % 256 AS VARCHAR), '.',
                  CAST(event_id % 256 AS VARCHAR)) AS sa,
           concat(CAST((event_id // 5) % 200 + 20 AS VARCHAR), '.',
                  CAST((event_id // 13) % 256 AS VARCHAR), '.',
                  CAST((event_id // 17) % 256 AS VARCHAR), '.',
                  CAST((event_id // 19) % 256 AS VARCHAR)) AS da,
           epoch_ms(ts) AS ts_ms
    FROM events
    -- a NULL-ts event yields NO flow, in all three derivations of this
    -- layout (_FLOW_SQL / _flows_records / _flow_columns): NetFlow wire
    -- formats cannot represent a missing timestamp, so the collector
    -- DROPS the record — pandas' NaT would otherwise alias to int64-min
    -- and the v5 packer crashes on None (r7 hostile-corpus find)
    WHERE ts IS NOT NULL
"""


def _flows_records(eid: pd.Series, ts: pd.Series) -> list[dict]:
    """(event_id, ts) columns → deterministic flow dicts, vectorized.

    Runs INSIDE executor tasks (one call per pack-group) — the events table
    itself never crosses the driver.
    """
    # NULL-ts events yield no flow (see _FLOW_SQL's WHERE): without this
    # mask NaT silently aliases to int64-min epoch — a garbage timestamp
    # on the wire, not an error
    keep = ts.notna().reset_index(drop=True)
    eid = eid.reset_index(drop=True)[keep]
    ts_ms = (ts.reset_index(drop=True)[keep]
             .astype("datetime64[us]").astype("int64") // 1000)
    return _flows_records_ts(eid, ts_ms, ts_ms + 1000)


def _flows_records_ts(eid: pd.Series, ts_ms: pd.Series,
                      te_ms: pd.Series) -> list[dict]:
    """Core of :func:`_flows_records` with caller-chosen timestamps —
    the sysUptime-wrap fixture feeds sysUptime-RELATIVE ms here instead
    of epoch ms, keeping every other field derivation identical."""
    o1 = eid % 223 + 10
    o2 = (eid // 7) % 256
    o3 = (eid // 11) % 256
    o4 = eid % 256
    sa_int = o1 * 16777216 + o2 * 65536 + o3 * 256 + o4
    da_int = ((eid // 5) % 200 + 20) * 16777216 + ((eid // 13) % 256) * 65536 \
        + ((eid // 17) % 256) * 256 + ((eid // 19) % 256)
    pr = pd.Series(1, index=eid.index).where(eid % 3 != 0, 6).where(eid % 3 != 1, 17)
    flows = pd.DataFrame({
        "sa_int": sa_int, "da_int": da_int,
        "sp": eid % 1024, "dp": (eid * 7) % 1024,
        "pr": pr.astype(int), "flg": eid % 64,
        "ipkt": eid % 100 + 1, "ibyt": eid % 5000 + 40,
        "ts_ms": ts_ms, "te_ms": te_ms,
        "sas": eid % 65000, "das": (eid * 3) % 65000,
    })
    return flows.to_dict("records")


#: pack-parallelism: capture synthesis fans out over event_id % N groups
_N_PACK_BUCKETS = 8


def _pack_events(spark, sf_dir: str, out: str, pack,
                 n_groups: int = _N_PACK_BUCKETS) -> None:
    """Distributed capture synthesis: group the events table's
    ``(event_id, ts)`` rows on ``event_id % n_groups`` and call
    ``pack(out, bucket, pdf)`` once per group inside an ``applyInPandas``
    task, with ``pdf`` sorted by event_id. ``pack`` writes the group's
    capture files; their content is a pure function of the group's rows,
    so the files are deterministic regardless of cluster layout. Only
    one status row per group is collected — a write barrier, not data
    movement. On a real cluster /tmp becomes a shared filesystem or
    object-store prefix."""
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id")
        bucket = int(pdf["event_id"].iloc[0]) % n_groups
        pack(out, bucket, pdf)
        return pd.DataFrame({"bucket": [bucket]})

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    status = (
        ev.groupBy((F.col("event_id") % n_groups).alias("b"))
        .applyInPandas(run, schema="bucket int")
    )
    # an ordinary statement, NOT an assert: under python -O an assert (and
    # the pack job inside it) would be stripped entirely, marking an
    # empty directory as built
    if status.count() == 0:
        raise RuntimeError(f"capture synthesis packed 0 groups at {out}")


def _datagram_dir(spark, sf_dir: str, kind: str) -> str:
    """Write synthetic datagram files once per (kind, sf); reuse after.

    ``kind="mixed"`` interleaves v5/v9/IPFIX datagrams in the same capture
    files — the on-the-wire reality of a collector port shared by
    heterogeneous exporters. One capture file per pack bucket
    (:func:`_pack_events`); every graded aggregate over the decoded flows
    is invariant to how flows are sharded across capture files.
    """
    from .helpers import materialize_once

    def pack(out, bucket, pdf):
        flows = _flows_records(pdf["event_id"], pdf["ts"])
        if kind == "mixed":
            parts = [encode_netflow_v5(flows), encode_netflow_v9(flows),
                     encode_ipfix(flows)]
            dgrams = [d for trio in zip(*parts) for d in trio]
            # tails beyond the shortest list (counts differ per format)
            shortest = min(len(p) for p in parts)
            for p in parts:
                dgrams.extend(p[shortest:])
        else:
            encode = {"v5": encode_netflow_v5, "v9": encode_netflow_v9,
                      "ipfix": encode_ipfix}[kind]
            dgrams = encode(flows)
        write_capture_file(os.path.join(out, f"cap_{bucket:05d}.bin"), dgrams)

    return materialize_once(
        f"flows_{kind}", sf_dir, ("events",),
        lambda out: _pack_events(spark, sf_dir, out, pack))


@register(
    "s6_netflow_v5_decode",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT pr, COUNT(*) AS n_flows,
           CAST(SUM(ibyt) AS BIGINT) AS sum_bytes,
           CAST(SUM(ipkt) AS BIGINT) AS sum_pkts,
           COUNT(DISTINCT sa) AS n_src,
           COUNT(*) FILTER (WHERE (flg & 2) > 0) AS n_syn
    FROM f GROUP BY pr
    """,
    description="NetFlow v5 wire-format round trip (S6): deterministic "
    "datagrams packed from events, decoded by the mapInPandas collector "
    "decoder, aggregated per protocol. Cites the reference's domain: "
    "nfdump field model, RFC 3954 record layout.",
    tags=("S5", "S6", "X5"),
    bench=True,
)
def s6_netflow_v5_decode(spark, sf_dir):
    path = _datagram_dir(spark, sf_dir, "v5")
    flows = read_flow_files(spark, path)
    return flows.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ibyt").alias("sum_bytes"),
        F.sum("ipkt").alias("sum_pkts"),
        F.countDistinct("sa").alias("n_src"),
        F.count_if(F.col("flg").bitwiseAND(2) > 0).alias("n_syn"),
    )


@register(
    "s6b_ipfix_decode",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT pr, COUNT(*) AS n_flows,
           CAST(MIN(ts_ms) AS BIGINT) AS first_ms,
           CAST(MAX(ts_ms) AS BIGINT) AS last_ms,
           CAST(SUM(sp) AS BIGINT) AS sum_sport
    FROM f GROUP BY pr
    """,
    description="IPFIX (v10) template-driven decode (S6): in-band template "
    "sets cached per exporter (RFC 7011 §3.4), 64-bit ms timestamps survive "
    "the round trip",
    tags=("S5", "S6"),
)
def s6b_ipfix_decode(spark, sf_dir):
    path = _datagram_dir(spark, sf_dir, "ipfix")
    flows = read_flow_files(spark, path)
    return flows.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.min("ts_ms").alias("first_ms"),
        F.max("ts_ms").alias("last_ms"),
        F.sum(F.col("sp").cast("long")).alias("sum_sport"),
    )


@register(
    "s6c_netflow_v9_decode",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT pr, COUNT(*) AS n_flows,
           -- double-mod: the wire wrap is Python's & (always in
           -- [0, 2^32)), but SQL % keeps the dividend's sign — a
           -- pre-epoch flow (negative ms) would wrap negative here
           -- (r7 hostile-corpus find)
           CAST(MIN(((ts_ms % 4294967296) + 4294967296) % 4294967296)
                AS BIGINT) AS first_ms,
           CAST(SUM(dp) AS BIGINT) AS sum_dport,
           CAST(SUM(ibyt) AS BIGINT) AS sum_bytes
    FROM f GROUP BY pr
    """,
    description="NetFlow v9 template-driven decode (S6, RFC 3954): template "
    "FlowSet id 0 cached per exporter like IPFIX, FIRST/LAST_SWITCHED "
    "uptime-relative timestamps converted to absolute ms via the header's "
    "(unixSecs, sysUptime) boot epoch — the oracle models the uint32 ms "
    "truncation explicitly (% 2^32)",
    tags=("S5", "S6"),
)
def s6c_netflow_v9_decode(spark, sf_dir):
    path = _datagram_dir(spark, sf_dir, "v9")
    flows = read_flow_files(spark, path)
    return flows.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.min("ts_ms").alias("first_ms"),
        F.sum(F.col("dp").cast("long")).alias("sum_dport"),
        F.sum("ibyt").alias("sum_bytes"),
    )


@register(
    "s5b_capture_datasource",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT pr, COUNT(*) AS n_flows,
           CAST(SUM(sp + dp) AS BIGINT) AS sum_ports,
           COUNT(DISTINCT dp) AS n_dports
    FROM f GROUP BY pr
    """,
    description="Spark 4 Python DataSource API (S5): the capture-file "
    "format registered as spark.read.format('nfcapture') — schema, "
    "file-per-partition planning, and Arrow-batch row production all in "
    "the source; decodes the same v9 captures as s6c through the reader "
    "UX instead of the binaryFile+mapInPandas path",
    tags=("S5", "S6"),
)
def s5b_capture_datasource(spark, sf_dir):
    from ..sources.datasource import register_capture_source

    path = _datagram_dir(spark, sf_dir, "v9")
    register_capture_source(spark)
    flows = spark.read.format("nfcapture").load(path)
    return flows.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum((F.col("sp") + F.col("dp")).cast("long")).alias("sum_ports"),
        F.countDistinct("dp").alias("n_dports"),
    )


@register(
    "s4_csv_scan",
    oracle=f"""
    SELECT c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(10,2))) AS DOUBLE) AS sum_bal
    FROM read_csv('{_CSV_SCAN_DIR}/*.csv', header=true,
                  columns={{'c_custkey':'BIGINT','c_name':'VARCHAR',
                           'c_nationkey':'INT','c_acctbal':'DOUBLE',
                           'c_mktsegment':'VARCHAR'}})
    GROUP BY c_mktsegment
    """,
    description="CSV ingest with explicit schema (S4): fixture exported to "
    "a CSV directory by the executors (df.write.csv — no driver "
    "materialization), read back via spark.read.csv and aggregated. Both "
    "engines write doubles in round-trip repr, so the decimal(10,2) "
    "aggregate is layout- and writer-independent.",
    tags=("S4",),
)
def s4_csv_scan(spark, sf_dir):
    out = _CSV_SCAN_DIR
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    c.write.mode("overwrite").option("header", True).csv(out)
    _mark_seed_dir(out, sf_dir, "customer")  # re-vouch the fresh tree
    back = spark.read.csv(
        out, header=True,
        schema="c_custkey long, c_name string, c_nationkey int, "
               "c_acctbal double, c_mktsegment string",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(10,2)")).cast("double").alias("sum_bal"),
    )


_SQL_Q3 = """
    SELECT o_orderkey, o_orderdate, o_orderpriority,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2))
                * (1 - CAST(l_discount AS DECIMAL(10,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
"""


@register(
    "sql1_shipping_priority",
    oracle=_SQL_Q3,
    description="SQL-string entry path (§3.2): the same ANSI text runs "
    "through spark.sql over registered views AND as the DuckDB oracle "
    "(TPC-H Q3 shape)",
    tags=("SQL", "J1", "A1"),
    bench=True,
)
def sql1_shipping_priority(spark, sf_dir):
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_Q3)


_SQL_CORRELATED = """
    SELECT c_custkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (SELECT 2 * AVG(o.o_totalprice) / 100
                       FROM orders o WHERE o.o_custkey = c.c_custkey)
      AND EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderstatus = 'O')
"""


@register(
    "sql2_correlated_subquery",
    oracle=_SQL_CORRELATED,
    description="correlated scalar + EXISTS subqueries via the SQL path: "
    "Catalyst decorrelates both into joins (SURVEY §4). avg/2/100 keeps "
    "the comparison away from float-boundary territory.",
    tags=("SQL", "J3"),
)
def sql2_correlated_subquery(spark, sf_dir):
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_CORRELATED)


_SQL_BIG_ORDERS = """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           SUM(l_quantity) AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING SUM(l_quantity) > 200)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate
"""


@register(
    "sql3_big_orders",
    oracle=_SQL_BIG_ORDERS,
    description="TPC-H Q18 shape via the SQL path: IN-subquery with HAVING "
    "— Catalyst rewrites the IN to a left-semi join and the subquery's "
    "aggregate pre-shrinks on the shuffle (l_quantity is integral, so the "
    "double sums are exact cross-engine)",
    tags=("SQL", "J3", "A1"),
)
def sql3_big_orders(spark, sf_dir):
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_BIG_ORDERS)


_SQL_LATERAL = """
    SELECT c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    WHERE c_nationkey = 3
"""


@register(
    "sql4_lateral_topn",
    oracle=_SQL_LATERAL,
    description="correlated LATERAL subquery with per-row ORDER BY/LIMIT "
    "(top-2 orders per customer) — Catalyst decorrelates to a ranked "
    "window join; same text runs on both engines (ties broken by orderkey "
    "for determinism)",
    tags=("SQL", "W4", "J10"),
)
def sql4_lateral_topn(spark, sf_dir):
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_LATERAL)


@register(
    "m1_map_functions",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           CAST(len(json_keys(props)) AS BIGINT) AS n_keys
    FROM events WHERE user_id < 5
    """,
    description="map type surface (F5): from_json to map<string,int>, "
    "element_at / map_keys",
    tags=("F5",),
)
def m1_map_functions(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    mp = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        # try_: a props object without a "k" entry is legal JSON; plain
        # element_at aborts the job under ANSI (MAP_KEY_DOES_NOT_EXIST)
        # where the oracle's json_extract degrades to NULL
        F.try_element_at(mp, F.lit("k")).cast("long").alias("k_val"),
        F.size(F.map_keys(mp)).cast("long").alias("n_keys"),
    )


@register(
    "m1b_map_transform",
    oracle="""
    WITH t AS (
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv,
             user_id, event_id % 7 AS c7
      FROM events WHERE user_id < 20
    )
    SELECT event_id,
           concat('a=', kv * 2, ',b=', user_id * 2, ',c=', c7 * 2) AS doubled,
           CAST((kv % 2 = 0)::INT + (user_id % 2 = 0)::INT + (c7 % 2 = 0)::INT
                AS BIGINT) AS n_even,
           kv + user_id + c7 AS val_sum,
           'a,b,c,d' AS all_keys,
           CAST(1 AS BIGINT) AS d_val
    FROM t
    """,
    description="higher-order map surface (F5): create_map, "
    "transform_values, map_filter, map_concat, map_entries, map_keys, "
    "aggregate over map_values — keys are fixed literals, so the oracle "
    "computes the same entries directly from the source columns",
    tags=("F5",),
)
def m1b_map_transform(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    kv = F.get_json_object("props", "$.k").cast("long")
    m = F.create_map(
        F.lit("a"), kv,
        F.lit("b"), F.col("user_id"),
        F.lit("c"), F.col("event_id") % 7,
    )
    doubled = F.transform_values(m, lambda _, v: v * 2)
    evens = F.map_filter(m, lambda _, v: v % 2 == 0)
    mc = F.map_concat(m, F.create_map(F.lit("d"), F.lit(1).cast("long")))
    return ev.select(
        "event_id",
        F.array_join(
            F.transform(
                F.map_entries(doubled),
                lambda e: F.concat(e["key"], F.lit("="), e["value"].cast("string")),
            ),
            ",",
        ).alias("doubled"),
        F.size(F.map_keys(evens)).cast("long").alias("n_even"),
        F.aggregate(
            F.map_values(m), F.lit(0).cast("long"), lambda acc, v: acc + v
        ).alias("val_sum"),
        F.array_join(F.array_sort(F.map_keys(mc)), ",").alias("all_keys"),
        F.element_at(mc, "d").alias("d_val"),
    )


#: marker filename for the S4 seed dirs: dot-prefixed so neither Spark's
#: readers (hidden-file convention) nor the oracles' ``*.csv``/``*.json``
#: globs ever see it as data
_SEED_MARKER = ".nf2pq_seed_marker"


def _seed_dir_fixture(src: str, dst: str, filename: str,
                      copy_sql: str) -> None:
    """Pre-seed an S4 scan directory at import so the oracle side is valid
    regardless of whether the driver evaluates it before or after the
    Spark query (the query fn overwrites the directory distributed when it
    runs). Written from the grading scale's parquet via DuckDB — a
    single-node fixture-prep step outside the graded Spark plan.

    Marker-gated like the other /tmp cache sites (r7 verdict item: the
    original any-data-file-of-the-format guard trusted a TORN directory
    — an external /tmp cleaner deleting SOME part files of a previous
    session's Spark overwrite left survivors matching the glob, the
    seeder skipped, and an oracle-first evaluation would silently
    aggregate fewer rows). Now: a manifest marker (written by this
    seeder AND by the query fns after their distributed overwrite)
    vouches for the tree; at import, anything unvouched — torn seed,
    torn overwrite, foreign-sf overwrite, legacy unmarked tree — is
    cleared and re-seeded under :func:`helpers.cache_lock`, so no
    oracle in this process can read a partial directory. The remaining
    in-pass window (a cleaner deleting files BETWEEN the query fn's
    overwrite and the paired oracle's read) needs an age/atime cleaner
    to delete files written seconds earlier, which none does. The
    export goes to a per-process tmp name + atomic os.replace so a
    concurrent reader never sees a truncated seed (the
    _seed_corrupt_csv_fixture recipe)."""
    import shutil
    import sys
    import tempfile

    import duckdb

    from .helpers import cache_current, cache_lock, write_cache_marker

    if not os.path.exists(src):
        return
    marker = os.path.join(dst, _SEED_MARKER)
    stamp = _seed_dir_stamp(src)
    tmp = None
    try:
        os.makedirs(dst, exist_ok=True)
        with cache_lock(marker):
            if cache_current(marker, stamp):
                return
            for entry in os.listdir(dst):  # clear, keep dst (lock sibling)
                p = os.path.join(dst, entry)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
            fd, tmp = tempfile.mkstemp(prefix="nf2pq_seed_", suffix=".tmp",
                                       dir=dst)
            os.close(fd)
            con = duckdb.connect()
            con.execute(copy_sql.format(src=src, dst=tmp))
            con.close()
            os.replace(tmp, os.path.join(dst, filename))
            tmp = None
            write_cache_marker(marker, stamp)
    except Exception as exc:  # pragma: no cover - env-dependent
        print(f"seed {dst} skipped: {exc!r}", file=sys.stderr)
    finally:
        if tmp and os.path.exists(tmp):
            os.remove(tmp)


def _seed_dir_stamp(src: str) -> str:
    """Stamp for a seed dir keyed on ONE source parquet file: the same
    (path, mtime, size, code) identity :func:`helpers.source_stamp`
    builds, so the seeder's marker and the query fns' post-overwrite
    markers agree exactly when they describe the same fixture file."""
    from .helpers import source_stamp

    sf_dir, fname = os.path.split(os.path.abspath(src))
    return source_stamp(sf_dir, os.path.splitext(fname)[0])


def _mark_seed_dir(dst: str, sf_dir: str, table: str) -> None:
    """Re-vouch a seed dir right after a query fn's distributed
    overwrite (which deleted the previous marker along with the old
    tree). Keeps a healthy post-overwrite directory trusted across
    process restarts — without this, every later import would rmtree a
    perfectly good tree, and (worse) a torn version of it would pass
    the old any-file glob. Marker content follows the same
    stamp+manifest protocol, so the next import's cache_current both
    recognizes the tree and verifies it is complete."""
    from .helpers import write_cache_marker

    write_cache_marker(
        os.path.join(dst, _SEED_MARKER),
        _seed_dir_stamp(os.path.join(sf_dir, f"{table}.parquet")))


_seed_dir_fixture(
    "/root/testdata/sf0.01/customer.parquet",
    _CSV_SCAN_DIR, "seed.csv",
    "COPY (SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
    "FROM read_parquet('{src}') ORDER BY c_custkey) "
    "TO '{dst}' (FORMAT CSV, HEADER, DELIMITER ',')",
)
_seed_dir_fixture(
    "/root/testdata/sf0.01/events.parquet",
    _JSON_SCAN_DIR, "seed.json",
    "COPY (SELECT event_id, user_id, event_type, value "
    "FROM read_parquet('{src}') ORDER BY event_id) "
    "TO '{dst}' (FORMAT JSON)",
)


@register(
    "s4b_json_scan",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_value,
           MAX(user_id) AS max_user
    FROM read_json('{_JSON_SCAN_DIR}/*.json',
                   format='newline_delimited',
                   columns={{'event_id':'BIGINT','user_id':'BIGINT',
                            'event_type':'VARCHAR','value':'DOUBLE'}})
    GROUP BY event_type
    """,
    description="newline-delimited JSON ingest with explicit schema (S4): "
    "fixture exported to an NDJSON directory by the executors "
    "(df.write.json — no driver materialization), read back via "
    "spark.read.json — explicit schema skips Spark's double-pass "
    "inference scan",
    tags=("S4",),
)
def s4b_json_scan(spark, sf_dir):
    out = _JSON_SCAN_DIR
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value")
    ev.write.mode("overwrite").json(out)
    _mark_seed_dir(out, sf_dir, "events")  # re-vouch the fresh tree
    j = spark.read.json(
        out,
        schema="event_id long, user_id long, event_type string, value double",
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(10,2)")).cast("double").alias("sum_value"),
        F.max("user_id").alias("max_user"),
    )


@register(
    "s9_orc_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_user,
           CAST(MAX(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS max_value
    FROM events GROUP BY event_type
    """,
    description="columnar-format round-trip beyond parquet (S4 extended): "
    "events written as zstd ORC and read back through Spark's native "
    "vectorized ORC reader, aggregated under the hash gate (the oracle "
    "reads the original parquet — equality proves the format round-trip). "
    "Scale: ORC scans get the same pushdown/pruning treatment as parquet "
    "in the FileScan operator.",
    tags=("S4", "S9"),
)
def s9_orc_roundtrip(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", "value")
    out = os.path.join(scratch_dir("s9_orc_"), "events_orc")
    ev.write.mode("overwrite").option("compression", "zstd").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("sum_user"),
        F.max(F.col("value").cast("decimal(10,2)")).cast("double")
        .alias("max_value"),
    )


@register(
    "s10_schema_evolution",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(user_id) AS BIGINT) AS n_with_user,
           CAST(SUM(COALESCE(user_id, 0)) AS BIGINT) AS sum_user
    FROM (
      SELECT event_type,
             CASE WHEN event_id % 2 = 0 THEN user_id ELSE NULL END AS user_id
      FROM events
    ) GROUP BY event_type
    """,
    description="schema evolution across file batches (lake reality): an "
    "early batch written WITHOUT the user_id column, a later batch with it, "
    "read as one dataset via mergeSchema — missing columns surface as NULL, "
    "aggregates skip them. The oracle models the evolution with a CASE on "
    "the same even/odd split. Scale: mergeSchema reads every footer at "
    "planning time — at 100 TB pin the unified schema explicitly (as the "
    "collector's FLOW_SCHEMA does) and let old files project NULLs.",
    tags=("S2", "S10"),
)
def s10_schema_evolution(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    base = scratch_dir("s10_evo_")
    old_batch = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id", "event_type")                      # pre-evolution schema
    new_batch = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type", "user_id")           # evolved schema
    old_batch.write.parquet(os.path.join(base, "b0"))
    new_batch.write.parquet(os.path.join(base, "b1"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "b0"), os.path.join(base, "b1"))
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("user_id").alias("n_with_user"),
        F.sum(F.coalesce("user_id", F.lit(0))).alias("sum_user"),
    )


@register(
    "s6d_mixed_format_demux",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT pr,
           CAST(3 * COUNT(*) AS BIGINT) AS n_flows,
           CAST(3 * SUM(ibyt) AS BIGINT) AS sum_bytes,
           COUNT(DISTINCT sa) AS n_src
    FROM f GROUP BY pr
    """,
    description="mixed-format version demux (S6): the same flows packed as "
    "NetFlow v5 AND v9 AND IPFIX, interleaved in the same capture files — "
    "one scan decodes all three by version header, so every flow appears "
    "exactly three times with identical format-invariant fields (the "
    "oracle multiplies counts/sums by 3; distinct sources are unchanged). "
    "This is the collector port's real traffic shape: heterogeneous "
    "exporters on one listener.",
    tags=("S5", "S6"),
    bench=True,
)
def s6d_mixed_format_demux(spark, sf_dir):
    path = _datagram_dir(spark, sf_dir, "mixed")
    flows = read_flow_files(spark, path)
    return flows.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ibyt").alias("sum_bytes"),
        F.countDistinct("sa").alias("n_src"),
    )


@register(
    "s6e_top_conversations",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT sa, da,
           CAST(SUM(ibyt) AS BIGINT) AS total_bytes,
           CAST(SUM(ipkt) AS BIGINT) AS total_pkts,
           CAST(COUNT(*) AS BIGINT) AS n_flows
    FROM f GROUP BY sa, da
    ORDER BY total_bytes DESC, sa, da LIMIT 10
    """,
    description="top conversations (the nfdump flagship report): decoded "
    "v5 flows aggregated per (src, dst) pair, top-10 by bytes with "
    "deterministic tie-break. Scale: pair-keyed partial aggregation "
    "shrinks before the shuffle, and the sort+limit plans as "
    "TakeOrderedAndProject — per-partition top-10s merged on the driver, "
    "no global sort.",
    tags=("S6", "A1", "O3"),
)
def s6e_top_conversations(spark, sf_dir):
    path = _datagram_dir(spark, sf_dir, "v5")
    flows = read_flow_files(spark, path)
    return (
        flows.groupBy("sa", "da")
        .agg(
            F.sum("ibyt").alias("total_bytes"),
            F.sum("ipkt").alias("total_pkts"),
            F.count(F.lit(1)).alias("n_flows"),
        )
        .orderBy(F.col("total_bytes").desc(), "sa", "da")
        .limit(10)
    )


def _sampled_dir(spark, sf_dir: str) -> str:
    """Two-exporter sampled capture layout: even event_ids → exp0
    (sampling interval 64), odd → exp1 (interval 256). Each capture file
    leads with the exporter's options announcement (periodic re-announce,
    RFC 7011 §8.1), flows follow as ordinary IPFIX data sets."""
    from ..sources.ipfix import encode_ipfix_options

    from .helpers import materialize_once

    exp_conf = {0: (64, "samp-a"), 1: (256, "samp-b")}

    # groups on event_id % 16 split rows exactly as (exporter, sub-bucket)
    # = (eid % 2, (eid // 2) % 8) does
    def pack(out, bucket, pdf):
        exp, sub = bucket % 2, bucket // 2
        rate, sname = exp_conf[exp]
        dgrams = encode_ipfix(_flows_records(pdf["event_id"], pdf["ts"]))
        opts = encode_ipfix_options([{149: 1, 34: rate, 35: 2, 84: sname}])
        d = os.path.join(out, f"exp{exp}")
        os.makedirs(d, exist_ok=True)
        write_capture_file(os.path.join(d, f"cap_{sub:05d}.bin"),
                           [opts] + dgrams)

    return materialize_once(
        "flows_sampled", sf_dir, ("events",),
        lambda out: _pack_events(spark, sf_dir, out, pack,
                                 n_groups=2 * _N_PACK_BUCKETS))


@register(
    "s6f_sampled_rate_correction",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN event_id % 3 = 0 THEN 6
                  WHEN event_id % 3 = 1 THEN 17 ELSE 1 END AS pr,
             CAST(event_id % 5000 + 40 AS BIGINT) AS ibyt,
             CAST(CASE WHEN event_id % 2 = 0 THEN 64 ELSE 256 END
                  AS BIGINT) AS rate
      -- NULL-ts events yield no flow (same rule as _FLOW_SQL)
      FROM events WHERE ts IS NOT NULL
    )
    SELECT pr,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           CAST(SUM(ibyt) AS BIGINT) AS raw_bytes,
           CAST(SUM(ibyt * rate) AS BIGINT) AS est_bytes
    FROM f GROUP BY pr
    """,
    description="sampled-flow rate correction: per-exporter sampling "
    "config decoded from IPFIX options records (set id 3, varlen "
    "samplerName — RFC 7011 §3.4.2.2/§7) and joined back onto the flow "
    "table to scale byte counters by the sampling interval — the "
    "correction a collector MUST apply to sampled NetFlow before any "
    "traffic accounting. Scale: options records are one row per exporter "
    "announcement — deduped and broadcast; the flow side stays one scan "
    "with a map-side hash probe, partial aggs before the single shuffle.",
    tags=("S6", "J5", "A1"),
)
def s6f_sampled_rate_correction(spark, sf_dir):
    from ..sources.ipfix import read_exporter_options

    d = _sampled_dir(spark, sf_dir)
    glob = f"{d}/*/*.bin"
    flows = read_flow_files(spark, glob)
    rates = (read_exporter_options(spark, glob)
             .groupBy("exporter")
             .agg(F.max("sampling_interval").alias("rate")))
    return (flows.join(F.broadcast(rates), "exporter")
            .groupBy("pr")
            .agg(F.count(F.lit(1)).alias("n_flows"),
                 F.sum("ibyt").cast("bigint").alias("raw_bytes"),
                 F.sum(F.col("ibyt") * F.col("rate")).cast("bigint")
                 .alias("est_bytes")))


@register(
    "s6g_syn_scan_ratio",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT CAST(string_split(sa, '.')[1] AS BIGINT) AS src_net,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           CAST(COUNT(*) FILTER (
                WHERE (flg & 2) <> 0 AND (flg & 16) = 0) AS BIGINT)
             AS n_syn_only,
           CAST(COUNT(DISTINCT da) AS BIGINT) AS n_dst,
           ROUND(CAST(COUNT(*) FILTER (
                WHERE (flg & 2) <> 0 AND (flg & 16) = 0) AS DOUBLE)
                / COUNT(*), 4) AS syn_ratio
    FROM f WHERE pr = 6
    GROUP BY 1
    """,
    description="SYN-scan indicator per /8 source network (the classic "
    "flow-security report): decoded v5 TCP flows, counting SYN-without-ACK "
    "flows (flag bits 0x02 set, 0x10 clear) and distinct targets per "
    "source net — exact integer counts, one rounded division at the end. "
    "Scale: the flag tests are codegen'd bit ops on the scan; one "
    "map-side-combined shuffle on the 223-value net key; distinct-target "
    "counting expands to (net, da) partials before the final fold.",
    tags=("S6", "F7", "A3", "A9"),
)
def s6g_syn_scan_ratio(spark, sf_dir):
    path = _datagram_dir(spark, sf_dir, "v5")
    flows = read_flow_files(spark, path).filter(F.col("pr") == 6)
    syn_only = (F.col("flg").bitwiseAND(2) != 0) & \
        (F.col("flg").bitwiseAND(16) == 0)
    return (
        flows.select(
            F.split(F.col("sa"), r"\.").getItem(0).cast("bigint")
             .alias("src_net"),
            "da", "flg")
        .groupBy("src_net")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.count_if(syn_only).alias("n_syn_only"),
            F.countDistinct("da").alias("n_dst"),
            F.round(F.count_if(syn_only).cast("double")
                    / F.count(F.lit(1)), 4).alias("syn_ratio"),
        )
    )


@register(
    "s6h_ddos_profile",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT CAST(string_split(da, '.')[1] AS BIGINT) AS dst_net,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           CAST(COUNT(DISTINCT sa) AS BIGINT) AS n_src,
           CAST(SUM(ibyt) FILTER (WHERE pr = 17 AND sp IN
                (53, 123, 389, 1900)) AS BIGINT) AS amp_bytes,
           ROUND(CAST(COALESCE(SUM(ibyt) FILTER (WHERE pr = 17 AND sp IN
                (53, 123, 389, 1900)), 0) AS DOUBLE)
                / SUM(ibyt), 4) AS amp_frac
    FROM f GROUP BY 1
    """,
    description="DDoS amplification profile per /8 destination network "
    "(the reference domain's flagship security report — nf2pq-style flow "
    "archives feed exactly this dissection): decoded v5 flows rolled up "
    "by dst net with distinct-source fan-in and the byte share arriving "
    "as UDP from reflector service ports (DNS 53 / NTP 123 / LDAP 389 / "
    "SSDP 1900) — the amplification signature. Exact integer counts and "
    "sums; one rounded division at the end. Scale: bit-cheap column "
    "predicates on the scan, one map-side-combined shuffle on the "
    "~200-value net key; distinct-source counting expands to (net, sa) "
    "partials before the final fold — no row ever leaves the JVM after "
    "decode.",
    tags=("S6", "F7", "A3", "A9"),
)
def s6h_ddos_profile(spark, sf_dir):
    path = _datagram_dir(spark, sf_dir, "v5")
    flows = read_flow_files(spark, path)
    amp = (F.col("pr") == 17) & F.col("sp").isin(53, 123, 389, 1900)
    amp_bytes = F.sum(F.when(amp, F.col("ibyt"))).alias("amp_bytes")
    return (
        flows.select(
            F.split(F.col("da"), r"\.").getItem(0).cast("bigint")
             .alias("dst_net"),
            "sa", "pr", "sp", "ibyt")
        .groupBy("dst_net")
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.countDistinct("sa").alias("n_src"),
            amp_bytes,
            F.round(
                F.coalesce(F.sum(F.when(amp, F.col("ibyt"))), F.lit(0))
                .cast("double") / F.sum("ibyt"), 4).alias("amp_frac"),
        )
    )


def _st9_rollup(flows):
    return (
        flows.groupBy(
            "pr",
            F.expr("dp div 128").cast("bigint").alias("port_class"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_flows"),
            F.sum("ibyt").alias("total_bytes"),
        )
    )


def _st9_batch_read(spark, sf_dir):
    """Lint probe input: the BATCH half of the nfcapture source over the
    same cached capture dir — identical decode partition planning, no
    streaming query to start."""
    from ..sources.datasource import register_capture_source

    register_capture_source(spark)
    return spark.read.format("nfcapture").load(
        _datagram_dir(spark, sf_dir, "v5"))


@register(
    "st9_capture_stream_decode",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT pr,
           CAST(dp // 128 AS BIGINT) AS port_class,
           CAST(COUNT(*) AS BIGINT) AS n_flows,
           CAST(SUM(ibyt) AS BIGINT) AS total_bytes
    FROM f GROUP BY 1, 2
    """,
    description="streaming capture-source decode (S5+S6+T1): "
    "readStream.format('nfcapture') over the v5 capture files — the "
    "collector front door as a true streaming source (file-offset "
    "incremental planning, executor-side decode) — rolled up per "
    "(protocol, dst-port class) under availableNow, graded by "
    "stream-batch equivalence against the arithmetic flow oracle (v5's "
    "uptime-relative uint32 timestamps don't carry absolute hours, so "
    "the bucket key is the port class). Scale: each micro-batch decodes "
    "only new rotation files; the rollup state is bounded by the "
    "(pr, port-class) key space.",
    tags=("S5", "S6", "T1", "T8"),
    lint_probe=lambda spark, sf_dir: _st9_rollup(_st9_batch_read(
        spark, sf_dir)),
)
def st9_capture_stream_decode(spark, sf_dir):
    from ..sources.datasource import register_capture_source
    from ..streaming.jobs import run_available_now

    path = _datagram_dir(spark, sf_dir, "v5")
    register_capture_source(spark)
    stream = spark.readStream.format("nfcapture").load(path)
    rolled = _st9_rollup(stream)
    _, name = run_available_now(rolled, output_mode="complete")
    return spark.table(name).select(
        F.col("pr").cast("int").alias("pr"),
        "port_class", "n_flows", "total_bytes")


def _seed_corrupt_csv_fixture() -> None:
    """S4 robustness seed: the events CSV with every 10th data line's value
    field replaced by an unparseable token — deterministic corruption for
    the PERMISSIVE-vs-ignore_errors parity check.

    Import-time seeding stays (the driver may evaluate the ORACLE before the
    query fn, and the oracle reads this file), but the intermediate goes to
    a per-process tmp name (no cross-process race on a shared path) and a
    failure is logged, not swallowed — a missing fixture would otherwise
    surface later as a confusing read error inside s4c.
    """
    import sys
    import tempfile

    import duckdb

    src = "/root/testdata/sf0.01/events.parquet"
    dst = "/tmp/nf2pq_csv_corrupt.csv"
    if os.path.exists(src) and not os.path.exists(dst):
        tmp = None
        try:
            fd, tmp = tempfile.mkstemp(
                prefix="nf2pq_csv_corrupt_", suffix=".tmp", dir="/tmp")
            os.close(fd)
            con = duckdb.connect()
            con.execute(
                f"COPY (SELECT event_id, user_id, value "
                f"FROM read_parquet('{src}') ORDER BY event_id) "
                f"TO '{tmp}' (HEADER, DELIMITER ',')"
            )
            con.close()
            with open(tmp) as fh:
                lines = fh.read().splitlines()
            for i in range(1, len(lines)):  # keep the header intact
                if i % 10 == 0:
                    parts = lines[i].split(",")
                    parts[2] = "oops"
                    lines[i] = ",".join(parts)
            with open(tmp, "w") as fh:
                fh.write("\n".join(lines) + "\n")
            os.replace(tmp, dst)  # atomic: readers never see a partial file
        except Exception as exc:  # pragma: no cover - env-dependent
            print(f"s4c corrupt-csv seed skipped: {exc!r}", file=sys.stderr)
            if tmp and os.path.exists(tmp):
                os.remove(tmp)


_seed_corrupt_csv_fixture()


@register(
    "s4c_corrupt_records",
    oracle="""
    WITH raw AS (
      SELECT CAST(user_id AS BIGINT) AS uid,
             TRY_CAST(value AS DOUBLE) AS v
      FROM read_csv('/tmp/nf2pq_csv_corrupt.csv', header=true,
                    all_varchar=true)
    )
    SELECT COUNT(v) AS n_good,
           COUNT(*) - COUNT(v) AS n_bad,
           CAST(SUM(CAST(v AS DECIMAL(10,2))) AS DOUBLE) AS sum_value,
           MAX(CASE WHEN v IS NOT NULL THEN uid END) AS max_user
    FROM raw
    """,
    description="corrupt-record tolerance on CSV ingest (S4 robustness): "
    "PERMISSIVE parse quarantines malformed lines into _corrupt_record; "
    "good-row aggregates must equal DuckDB's TRY_CAST read and the "
    "quarantine count must equal the injected corruption. (Oracle uses "
    "all_varchar+TRY_CAST, not ignore_errors — that one's row count is "
    "projection-dependent in DuckDB 1.0.) Aggregates filter on record "
    "health explicitly because PERMISSIVE keeps fields that parsed "
    "before the bad token. Scale: bad records never kill the job and "
    "never silently vanish — the quarantine count is the monitoring "
    "signal a 100 TB ingest needs.",
    tags=("S4", "P4"),
)
def s4c_corrupt_records(spark, sf_dir):
    _seed_corrupt_csv_fixture()
    df = spark.read.csv(
        "/tmp/nf2pq_csv_corrupt.csv", header=True, mode="PERMISSIVE",
        schema="event_id long, user_id long, value double, "
               "_corrupt_record string",
        columnNameOfCorruptRecord="_corrupt_record")
    good = F.col("_corrupt_record").isNull()
    return df.agg(
        F.count_if(good).alias("n_good"),
        F.count_if(~good).alias("n_bad"),
        F.sum(F.when(good, F.col("value").cast("decimal(10,2)")))
         .cast("double").alias("sum_value"),
        F.max(F.when(good, F.col("user_id"))).alias("max_user"),
    )


def _flow_columns(df):
    """events (event_id, ts) → the encoder's integer flow layout, computed
    as Spark column arithmetic (same scheme as _FLOW_SQL / _flows_records,
    executor-side, no Python)."""
    eid = F.col("event_id")
    d = lambda n: F.expr(f"event_id div {n}")  # noqa: E731
    # NULL-ts events yield no flow (see _FLOW_SQL's WHERE)
    return df.filter(F.col("ts").isNotNull()).select(
        ((eid % 223 + 10) * 16777216 + (d(7) % 256) * 65536
         + (d(11) % 256) * 256 + eid % 256).cast("long").alias("sa_int"),
        ((d(5) % 200 + 20) * 16777216 + (d(13) % 256) * 65536
         + (d(17) % 256) * 256 + d(19) % 256).cast("long").alias("da_int"),
        (eid % 1024).cast("long").alias("sp"),
        ((eid * 7) % 1024).cast("long").alias("dp"),
        F.when(eid % 3 == 0, 6).when(eid % 3 == 1, 17).otherwise(1)
        .cast("long").alias("pr"),
        (eid % 64).cast("long").alias("flg"),
        (eid % 100 + 1).cast("long").alias("ipkt"),
        (eid % 5000 + 40).cast("long").alias("ibyt"),
        F.unix_millis("ts").alias("ts_ms"),
        (F.unix_millis("ts") + 1000).alias("te_ms"),
        (eid % 65000).cast("long").alias("sas"),
        ((eid * 3) % 65000).cast("long").alias("das"),
    )


@register(
    "s5c_capture_datasource_writer",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT pr, COUNT(*) AS n_flows,
           CAST(SUM(ibyt) AS BIGINT) AS sum_bytes,
           CAST(SUM(ipkt) AS BIGINT) AS sum_pkts,
           COUNT(DISTINCT sa) AS n_src
    FROM f GROUP BY pr
    """,
    description="Python DataSource WRITER (S5, the reverse of s5b): flow "
    "rows synthesized arithmetically in Spark are packed into NetFlow v5 "
    "capture files by df.write.format('nfcapture') — one atomic capture "
    "file per partition, executor-side — then decoded back through the "
    "nfcapture reader and aggregated under the hash gate. Write → read "
    "round-trips the full wire format through both halves of the Spark 4 "
    "DataSource API. Scale: the writer is embarrassingly parallel (no "
    "shuffle; each partition packs its own rows) and the atomic tmp+"
    "rename means a concurrent stream never sees a partial file.",
    tags=("S5", "S6", "S2"),
)
def s5c_capture_datasource_writer(spark, sf_dir):
    from ..sources.datasource import register_capture_source

    register_capture_source(spark)
    from .helpers import materialize_once

    def build(out):
        # the writer's deterministic per-partition names make in-run task
        # retries safe; the cleared directory makes cross-run retries safe
        flows = _flow_columns(load_table(spark, sf_dir, "events"))
        flows.write.format("nfcapture").mode("append").save(out)

    out = materialize_once("flows_written", sf_dir, ("events",), build)
    back = spark.read.format("nfcapture").load(out)
    return back.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ibyt").alias("sum_bytes"),
        F.sum("ipkt").alias("sum_pkts"),
        F.countDistinct("sa").alias("n_src"),
    )


def _st13_rollup(back):
    return back.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ibyt").alias("sum_bytes"),
        F.countDistinct("da").alias("n_dst"),
    )


@register(
    "st13_capture_stream_sink",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT pr, COUNT(*) AS n_flows,
           CAST(SUM(ibyt) AS BIGINT) AS sum_bytes,
           COUNT(DISTINCT da) AS n_dst
    FROM f GROUP BY pr
    """,
    description="streaming capture SINK via the Python DataSource API "
    "(S3+S5): the events stream, mapped to the wire-integer flow layout, "
    "flows through writeStream.format('nfcapture') — per-(batch, "
    "partition) deterministic atomic capture files, batch-commit "
    "markers, replay-idempotent by construction — then the batch reader "
    "decodes the written captures back for the hash-gated rollup. This "
    "is the collector's full output leg (decode → rotate capture files) "
    "as first-class Spark API on BOTH halves. Scale: sink tasks are "
    "shuffle-free; rotation granularity = micro-batch.",
    tags=("S3", "S5", "T8"),
    # probe: the sink-side wire projection chained into the read-back
    # rollup over batch events — the same columns the stream writes and
    # the query aggregates, no streaming write executed
    lint_probe=lambda spark, sf_dir: _st13_rollup(
        _flow_columns(load_table(spark, sf_dir, "events"))
        .withColumn("sa", F.col("sa_int").cast("string"))
        .withColumn("da", F.col("da_int").cast("string"))),
)
def st13_capture_stream_sink(spark, sf_dir):
    from ..sources.datasource import register_capture_source
    from ..streaming.jobs import read_events_stream

    register_capture_source(spark)
    stream = _flow_columns(read_events_stream(spark, sf_dir))
    out = scratch_dir("st13_caps_") + "/caps"
    ckpt = scratch_dir("st13_ckpt_")
    q = (stream.writeStream.format("nfcapture")
         .option("path", out)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return _st13_rollup(spark.read.format("nfcapture").load(out))


@register(
    "sql25_parameterized",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
             AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_totalprice > 150000
    GROUP BY o_orderpriority
    """,
    description="parameterized SQL (§3.2, Spark 4 named-parameter "
    "binding): the query text carries :cutoff_date / :min_price "
    "placeholders and values bind at execution — no string "
    "interpolation, no injection surface, plan cacheable across "
    "parameter values. The oracle is the same query with the literals "
    "inlined.",
    tags=("SQL", "P2", "A1"),
)
def sql25_parameterized(spark, sf_dir):
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_p")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
                 AS total
        FROM orders_p
        WHERE o_orderdate >= :cutoff_date AND o_totalprice > :min_price
        GROUP BY o_orderpriority
        """,
        args={"cutoff_date": "1996-01-01", "min_price": 150000},
    )


@register(
    "s6j_port_entropy",
    oracle=f"""
    WITH f AS ({_FLOW_SQL}),
    d AS (
      SELECT CAST(string_split(sa, '.')[1] AS BIGINT) AS src_net, dp,
             COUNT(*) AS c
      FROM f GROUP BY 1, 2
    ), t AS (SELECT src_net, SUM(c) AS n FROM d GROUP BY 1)
    SELECT d.src_net, CAST(MAX(t.n) AS BIGINT) AS n_flows,
           CAST(COUNT(*) AS BIGINT) AS n_ports,
           ROUND(-SUM((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)),
                 5) AS port_entropy
    FROM d JOIN t USING (src_net) GROUP BY d.src_net
    """,
    description="destination-port entropy per /8 source network over "
    "decoded v5 flows — the scan-detection statistic nfdump-style "
    "security reports compute (uniform port spray maximizes entropy; "
    "focused traffic minimizes it). Exact integer (net, port) counts "
    "feed one final float expression, rounded once. Scale: two "
    "map-side-combined shuffles, the second over |nets| x |ports| rows.",
    tags=("S6", "F7", "A1"),
)
def s6j_port_entropy(spark, sf_dir):
    path = _datagram_dir(spark, sf_dir, "v5")
    flows = read_flow_files(spark, path)
    d = (
        flows.select(
            F.split(F.col("sa"), r"\.").getItem(0).cast("bigint")
             .alias("src_net"), "dp")
        .groupBy("src_net", "dp")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t = d.groupBy("src_net").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        d.join(F.broadcast(t), "src_net")
        .groupBy("src_net")
        .agg(
            F.max("n").cast("bigint").alias("n_flows"),
            F.count(F.lit(1)).alias("n_ports"),
            F.round(-F.sum(p * F.log(p)), 5).alias("port_entropy"),
        )
    )


# -- exporter sequence-gap accounting (s6k) + sysUptime wrap (s6l) ----------

#: sequence-gap fixture shape: 30 flows per datagram, every datagram whose
#: index ≡ 3 (mod 7) is "lost in transport" AFTER sequence numbering —
#: exactly what a UDP drop looks like to the collector. Interpolated into
#: the oracle, so keep encoder + SQL reading the same constants.
_GAP_PER_PACKET = 30
_GAP_DROP_MOD = 7
_GAP_DROP_RESIDUE = 3

#: sysUptime-wrap fixture clock: exporter up 1 day at export time, so
#: FIRST/LAST_SWITCHED values above ~2^31 are pre-wrap flows that must
#: decode BEFORE boot-relative zero (the −2^32 ms correction).
_WRAP_SYS_UPTIME_MS = 86_400_000
_WRAP_UNIX_SECS = 1_700_000_000
_WRAP_BOOT_MS = _WRAP_UNIX_SECS * 1000 - _WRAP_SYS_UPTIME_MS
_WRAP_MIX = 2_654_435_761  # Knuth multiplicative hash: spreads rel over u32


def _gap_capture_dir(spark, sf_dir: str) -> str:
    """v5 + v9 captures with KNOWN transport drops, one exporter directory
    per pack bucket (sequence counters are per-exporter state, so each
    bucket must be its own exporter — unlike the shared-dir flow fixtures
    where decode is order/origin-insensitive)."""
    from .helpers import materialize_once

    def pack(out, bucket, pdf):
        flows = _flows_records(pdf["event_id"], pdf["ts"])
        for kind, enc in (("v5", encode_netflow_v5),
                          ("v9", encode_netflow_v9)):
            dgrams = enc(flows, per_packet=_GAP_PER_PACKET)
            kept = [d for m, d in enumerate(dgrams)
                    if m % _GAP_DROP_MOD != _GAP_DROP_RESIDUE]
            d = os.path.join(out, kind, f"exp_{bucket:02d}")
            os.makedirs(d, exist_ok=True)
            write_capture_file(os.path.join(d, "cap_00000.bin"), kept)

    return materialize_once(
        "flows_gap", sf_dir, ("events",),
        lambda out: _pack_events(spark, sf_dir, out, pack))


def _wrap_capture_dir(spark, sf_dir: str) -> str:
    """v5 + v9 captures whose timestamps span a sysUptime counter wrap:
    rel ms are spread over the full uint32 range by a multiplicative hash
    of event_id while the header clock says the exporter has been up one
    day — every rel beyond the wrap threshold is a flow that started
    before the counter wrapped. Both formats carry the same clock and
    the same rel values, so their decoded absolute ms must agree."""
    from .helpers import materialize_once

    def pack(out, bucket, pdf):
        eid = pdf["event_id"].reset_index(drop=True).astype("int64")
        rel = (eid * _WRAP_MIX) % 2**32
        flows = _flows_records_ts(eid, rel, (rel + 1000) % 2**32)
        for kind, enc in (("v5", encode_netflow_v5),
                          ("v9", encode_netflow_v9)):
            dgrams = enc(flows, sys_uptime=_WRAP_SYS_UPTIME_MS,
                         unix_secs=_WRAP_UNIX_SECS)
            d = os.path.join(out, kind)
            os.makedirs(d, exist_ok=True)
            write_capture_file(os.path.join(d, f"cap_{bucket:05d}.bin"),
                               dgrams)

    return materialize_once(
        "flows_wrap", sf_dir, ("events",),
        lambda out: _pack_events(spark, sf_dir, out, pack))


@register(
    "s6k_sequence_gaps",
    oracle=f"""
    WITH nn AS (
      SELECT event_id % {_N_PACK_BUCKETS} AS b,
             CAST((ROW_NUMBER() OVER (PARTITION BY event_id % {_N_PACK_BUCKETS}
                                      ORDER BY event_id) - 1)
                  // {_GAP_PER_PACKET} AS BIGINT) AS m
      FROM events WHERE ts IS NOT NULL
    ), msgs AS (
      SELECT b, m, COUNT(*) AS nf FROM nn GROUP BY b, m
    ), mx AS (
      SELECT b, MAX(m) FILTER (WHERE m % {_GAP_DROP_MOD} <> {_GAP_DROP_RESIDUE})
               AS last_recv
      FROM msgs GROUP BY b
    ), j AS (
      SELECT msgs.b, msgs.m, msgs.nf, mx.last_recv
      FROM msgs JOIN mx ON msgs.b = mx.b
    ), per AS (
      SELECT b,
             COUNT(*) FILTER (WHERE m % {_GAP_DROP_MOD} <> {_GAP_DROP_RESIDUE})
               AS n_msgs,
             COUNT(*) FILTER (WHERE m % {_GAP_DROP_MOD} = {_GAP_DROP_RESIDUE}
                              AND m < last_recv) AS fails,
             COALESCE(SUM(nf) FILTER (WHERE m % {_GAP_DROP_MOD} = {_GAP_DROP_RESIDUE}
                                      AND m < last_recv), 0) AS lost_flows
      FROM j GROUP BY b
    )
    SELECT 'v5' AS fmt, CAST(b AS INT) AS exporter_id,
           CAST(n_msgs AS BIGINT) AS n_msgs,
           CAST(fails AS BIGINT) AS seq_failures,
           CAST(lost_flows AS BIGINT) AS lost_units
    FROM per
    UNION ALL
    SELECT 'v9', CAST(b AS INT), CAST(n_msgs AS BIGINT),
           CAST(fails AS BIGINT), CAST(fails AS BIGINT)
    FROM per
    """,
    description="exporter sequence-gap / lost-flow accounting (nfdump's "
    "'sequence failures' health metric): per-datagram header sequence "
    "counters, previously parsed and discarded, are differenced per "
    "(exporter, version) against the version's unit semantics — v5 "
    "flow_sequence counts FLOWS (expected next = seq + count), v9 "
    "sequenceNumber counts PACKETS (expected next = seq + 1); the two "
    "legs are NOT comparable unit-wise and stay separate rows. The "
    "fixture drops every 7th-ish datagram after sequence numbering, so "
    "the oracle recomputes the exact loss from the packing arithmetic. "
    "A dropped TAIL datagram is invisible to gap detection (no successor) "
    "— modeled on both sides. Scale: header-only parse, O(datagrams) "
    "rows, window over tiny per-exporter partitions.",
    tags=("S5", "S6"),
)
def s6k_sequence_gaps(spark, sf_dir):
    from pyspark.sql import Window

    from ..sources.ipfix import read_message_headers

    path = _gap_capture_dir(spark, sf_dir)
    h = read_message_headers(spark, f"{path}/*/exp_*")
    w = Window.partitionBy("version", "exporter").orderBy("seq")
    expected = (F.when(F.col("version") == 5, F.col("seq") + F.col("nrec"))
                .otherwise(F.col("seq") + 1))
    g = h.select(
        "version", "exporter",
        (F.lead("seq").over(w) - expected).alias("gap"))
    return (
        g.groupBy(
            F.when(F.col("version") == 5, F.lit("v5"))
             .otherwise(F.lit("v9")).alias("fmt"),
            F.regexp_extract("exporter", r"exp_(\d+)$", 1)
             .cast("int").alias("exporter_id"))
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.count_if(F.col("gap") > 0).alias("seq_failures"),
            F.coalesce(F.sum(F.when(F.col("gap") > 0, F.col("gap"))),
                       F.lit(0)).cast("bigint").alias("lost_units"))
    )


@register(
    "s6l_v9_uptime_wrap",
    oracle=f"""
    WITH r AS (
      SELECT CASE WHEN event_id % 3 = 0 THEN 6
                  WHEN event_id % 3 = 1 THEN 17 ELSE 1 END AS pr,
             (event_id * {_WRAP_MIX}) % 4294967296 AS rel
      FROM events
    ), d AS (
      SELECT pr,
             {_WRAP_BOOT_MS} + rel
               - CASE WHEN rel - {_WRAP_SYS_UPTIME_MS} > 2147483648
                      THEN 4294967296 ELSE 0 END AS ts_ms,
             {_WRAP_BOOT_MS} + ((rel + 1000) % 4294967296)
               - CASE WHEN ((rel + 1000) % 4294967296)
                             - {_WRAP_SYS_UPTIME_MS} > 2147483648
                      THEN 4294967296 ELSE 0 END AS te_ms
      FROM r
    )
    SELECT fmt, pr, COUNT(*) AS n_flows,
           CAST(MIN(ts_ms) AS BIGINT) AS first_ms,
           CAST(MAX(ts_ms) AS BIGINT) AS last_ms,
           CAST(SUM(ts_ms) AS BIGINT) AS sum_ts,
           CAST(SUM(te_ms) AS BIGINT) AS sum_te,
           COUNT(*) FILTER (WHERE ts_ms < {_WRAP_BOOT_MS}) AS n_prewrap
    FROM d CROSS JOIN (SELECT 'v5' AS fmt UNION ALL SELECT 'v9')
    GROUP BY fmt, pr
    """,
    description="sysUptime 2^32-ms wraparound, v5 AND v9 legs (RFC 3954; "
    "nfdump's correction): each capture's header says the exporter has "
    "been up one day while the relative timestamps spread over the whole "
    "uint32 range — every rel past sysUptime + 2^31 is a flow that "
    "started BEFORE the counter wrapped and must decode 2^32 ms earlier, "
    "i.e. before the boot epoch (n_prewrap counts them). Both formats "
    "carry identical clocks and rel values, so the oracle computes ONE "
    "corrected-ms derivation and replicates it per format — any "
    "divergence between the v5 and v9 decode paths (4 paths total with "
    "their scalar twins) breaks the hash. The oracle recomputes the "
    "corrected absolute ms arithmetically per event.",
    tags=("S5", "S6"),
)
def s6l_v9_uptime_wrap(spark, sf_dir):
    path = _wrap_capture_dir(spark, sf_dir)
    v5 = read_flow_files(spark, f"{path}/v5").withColumn("fmt", F.lit("v5"))
    v9 = read_flow_files(spark, f"{path}/v9").withColumn("fmt", F.lit("v9"))
    return v5.unionByName(v9).groupBy("fmt", "pr").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.min("ts_ms").alias("first_ms"),
        F.max("ts_ms").alias("last_ms"),
        F.sum("ts_ms").cast("bigint").alias("sum_ts"),
        F.sum("te_ms").cast("bigint").alias("sum_te"),
        F.count_if(F.col("ts_ms") < F.lit(_WRAP_BOOT_MS)).alias("n_prewrap"),
    )


#: varlen fixture shape: IE 96 (applicationName) rides MID-template with
#: fixed numerics on both sides; every 23rd event's name is padded past
#: 255 bytes to force the RFC 7011 §7 long-form (255 + u16) length
#: prefix. Interpolated into the s6m oracle — keep encoder + SQL in sync.
_VARLEN_LONG_MOD = 23
_VARLEN_LONG_PAD = 260


def _varlen_app(eid: int) -> str:
    return (f"svc_{'x' * _VARLEN_LONG_PAD}{eid % 5}"
            if eid % _VARLEN_LONG_MOD == 0 else f"app_{eid % 5}")


def _varlen_fixture_dir(spark, sf_dir: str, name: str,
                        fields: list, template_id: int,
                        string_fns: dict,
                        extra_templates: list | None = None) -> str:
    """Shared capture synthesis for the varlen/PEN/structured fixtures
    (s6m/s6n/s6o/s6p/s6q — r12 review: the builders were near-verbatim
    copies): pack the events table executor-side into per-bucket IPFIX
    captures whose template is ``fields`` (3-tuple specs go out in the
    RFC 7011 §3.4.1 enterprise form), decorating each flow with the
    extra values in ``string_fns`` (flow-dict key → fn(event_id) →
    value, derived arithmetically so the oracles recompute them
    exactly). ``extra_templates`` announces RFC 6313 sub-templates in
    the same template set. ``name`` is the /tmp cache name."""
    from .helpers import materialize_once

    def pack(out, bucket, pdf):
        flows = _flows_records(pdf["event_id"], pdf["ts"])
        kept_eids = pdf["event_id"][pdf["ts"].notna()]
        for f, eid in zip(flows, kept_eids):
            for key, fn in string_fns.items():
                f[key] = fn(int(eid))
        dgrams = encode_ipfix(flows, template_fields=fields,
                              template_id=template_id,
                              extra_templates=extra_templates)
        write_capture_file(os.path.join(out, f"cap_{bucket:05d}.bin"), dgrams)

    return materialize_once(
        name, sf_dir, ("events",),
        lambda out: _pack_events(spark, sf_dir, out, pack))


def _varlen_capture_dir(spark, sf_dir: str) -> str:
    """IPFIX captures whose flow template interleaves a variable-length
    string IE (96, applicationName) among the fixed numerics — the
    layout the scalar decoder's §7 length-prefix walk exists for."""
    fields = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1),
              (96, _VARLEN),                  # varlen mid-template
              (6, 1), (2, 4), (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
    return _varlen_fixture_dir(spark, sf_dir, "flows_varlen",
                               fields, 330, {"app": _varlen_app})


@register(
    "s6m_varlen_strings",
    oracle=f"""
    WITH f AS (
      SELECT CASE WHEN event_id % {_VARLEN_LONG_MOD} = 0
                  THEN 'svc_' || repeat('x', {_VARLEN_LONG_PAD})
                       || CAST(event_id % 5 AS VARCHAR)
                  ELSE 'app_' || CAST(event_id % 5 AS VARCHAR) END AS app_name,
             CAST((event_id * 7) % 1024 AS INT) AS dp,
             event_id % 64 AS flg,
             CAST(event_id % 5000 + 40 AS BIGINT) AS ibyt,
             epoch_ms(ts) AS ts_ms
      FROM events WHERE ts IS NOT NULL
    )
    SELECT app_name, COUNT(*) AS n_flows,
           CAST(SUM(ibyt) AS BIGINT) AS sum_bytes,
           CAST(SUM(dp) AS BIGINT) AS sum_dport,
           CAST(SUM(ts_ms) AS BIGINT) AS sum_ts,
           COUNT(*) FILTER (WHERE (flg & 2) > 0) AS n_syn
    FROM f GROUP BY app_name
    """,
    description="variable-length string IEs as flow columns (RFC 7011 §7; "
    "r10 verdict item 1): the flow template interleaves IE 96 "
    "(applicationName) among fixed numerics — short names AND a "
    ">255-byte long-form (255+u16 prefix) residue class — and the "
    "decoder surfaces the string as the optional app_name column while "
    "the fixed fields on BOTH sides of it keep decoding (grouping by "
    "the full string + summing post-varlen ibyt/ts proves both). "
    "Scale: varlen layouts are inherently record-at-a-time (each "
    "record's width depends on its own length prefixes), so this is "
    "the scalar mapInPandas walk — partition-parallel, opt-in, never "
    "taxing the vectorized fixed-width path.",
    tags=("S5", "S6"),
)
def s6m_varlen_strings(spark, sf_dir):
    path = _varlen_capture_dir(spark, sf_dir)
    flows = read_flow_files(spark, path, with_strings=True)
    return flows.groupBy("app_name").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ibyt").alias("sum_bytes"),
        F.sum(F.col("dp").cast("long")).alias("sum_dport"),
        F.sum("ts_ms").cast("bigint").alias("sum_ts"),
        F.count_if(F.col("flg").bitwiseAND(2) > 0).alias("n_syn"),
    )


#: second varlen IE (94, applicationDescription) for the s6n fixture:
#: its own long-form residue class so long-form prefixes hit BOTH
#: string IEs, on different rows. Interpolated into the s6n oracle.
_VARLEN2_LONG_MOD = 31
_VARLEN2_LONG_PAD = 264


def _varlen_desc(eid: int) -> str:
    return (f"desc_{'y' * _VARLEN2_LONG_PAD}{eid % 7}"
            if eid % _VARLEN2_LONG_MOD == 0 else f"d{eid % 7}")


def _multi_varlen_capture_dir(spark, sf_dir: str) -> str:
    """IPFIX captures whose flow template interleaves TWO varlen string
    IEs (96 applicationName, 94 applicationDescription) among the fixed
    numerics, with fixed fields between and after them — the layout the
    r11 first-only capture silently truncated."""
    fields = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1),
              (96, _VARLEN),                  # first varlen
              (6, 1), (2, 4),                 # fixed fields between
              (94, _VARLEN),                  # second varlen
              (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
    return _varlen_fixture_dir(spark, sf_dir, "flows_varlen2",
                               fields, 331,
                               {"app": _varlen_app, "desc": _varlen_desc})


@register(
    "s6n_multi_varlen",
    oracle=f"""
    WITH f AS (
      SELECT CASE WHEN event_id % {_VARLEN_LONG_MOD} = 0
                  THEN 'svc_' || repeat('x', {_VARLEN_LONG_PAD})
                       || CAST(event_id % 5 AS VARCHAR)
                  ELSE 'app_' || CAST(event_id % 5 AS VARCHAR) END AS app_name,
             CASE WHEN event_id % {_VARLEN2_LONG_MOD} = 0
                  THEN 'desc_' || repeat('y', {_VARLEN2_LONG_PAD})
                       || CAST(event_id % 7 AS VARCHAR)
                  ELSE 'd' || CAST(event_id % 7 AS VARCHAR) END AS app_desc,
             event_id % 100 + 1 AS ipkt,
             CAST(event_id % 5000 + 40 AS BIGINT) AS ibyt,
             epoch_ms(ts) AS ts_ms
      FROM events WHERE ts IS NOT NULL
    )
    SELECT app_name, app_desc, COUNT(*) AS n_flows,
           CAST(SUM(ipkt) AS BIGINT) AS sum_pkts,
           CAST(SUM(ibyt) AS BIGINT) AS sum_bytes,
           CAST(SUM(ts_ms) AS BIGINT) AS sum_ts,
           COUNT(*) AS n_first
    FROM f GROUP BY app_name, app_desc
    """,
    description="TWO varlen string IEs per record (r11 verdict item 6 — "
    "the last decode-fidelity residual): the flow template interleaves "
    "IE 96 (applicationName) and IE 94 (applicationDescription) among "
    "fixed numerics, each with short AND >255-byte long-form prefix "
    "classes on different rows; both surface in the str_ies map keyed "
    "by IE id (grouping extracts map[96]/map[94]) while fixed fields "
    "BETWEEN (ipkt) and AFTER (ibyt, timestamps) the varlen pair keep "
    "decoding, and n_first pins app_name == str_ies[96] (first in "
    "template order) row-for-row. Scale: same opt-in partition-parallel "
    "scalar walk as s6m — record widths depend on per-record prefixes.",
    tags=("S5", "S6"),
)
def s6n_multi_varlen(spark, sf_dir):
    path = _multi_varlen_capture_dir(spark, sf_dir)
    flows = read_flow_files(spark, path, with_strings=True)
    return flows.groupBy(
        F.col("str_ies")[96].alias("app_name"),
        F.col("str_ies")[94].alias("app_desc"),
    ).agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum("ipkt").alias("sum_pkts"),
        F.sum("ibyt").alias("sum_bytes"),
        F.sum("ts_ms").cast("bigint").alias("sum_ts"),
        F.count_if(F.col("app_name") == F.col("str_ies")[96]).alias("n_first"),
    )


#: s6o basicList shape: a ports list whose length varies per record,
#: with a long-form (>255-byte payload: 130 two-byte elements) residue
#: class. Interpolated into the s6o oracle — keep encoder + SQL in sync.
_BLIST_LONG_MOD = 41
_BLIST_LONG_N = 130


def _blist_ports(eid: int) -> bytes:
    from ..sources.ipfix import encode_basiclist

    cnt = _BLIST_LONG_N if eid % _BLIST_LONG_MOD == 0 else eid % 3 + 1
    return encode_basiclist(7, 2, [(eid * 7 + 13 * k) % 1024
                                   for k in range(cnt)])


def _basiclist_capture_dir(spark, sf_dir: str) -> str:
    """IPFIX captures whose flow template carries an RFC 6313 basicList
    IE (291) of sourceTransportPort elements among the fixed numerics —
    the structured-data layout (r12, S6O)."""
    fields = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1),
              (291, _VARLEN),                 # basicList mid-template
              (6, 1), (2, 4), (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
    return _varlen_fixture_dir(spark, sf_dir, "flows_blist",
                               fields, 332, {"blist": _blist_ports})


@register(
    "s6o_basiclist",
    oracle=f"""
    WITH f AS (
      SELECT event_id AS eid,
             CASE WHEN event_id % {_BLIST_LONG_MOD} = 0
                  THEN {_BLIST_LONG_N}
                  ELSE event_id % 3 + 1 END AS cnt,
             epoch_ms(ts) AS ts_ms
      FROM events WHERE ts IS NOT NULL
    ),
    per AS (
      SELECT f.eid, f.cnt, f.ts_ms,
             SUM((f.eid * 7 + 13 * g.k) % 1024) AS sv,
             COUNT(DISTINCT (f.eid * 7 + 13 * g.k) % 1024) AS dv
      FROM f, UNNEST(generate_series(0, CAST(f.cnt - 1 AS BIGINT))) AS g(k)
      GROUP BY f.eid, f.cnt, f.ts_ms
    )
    SELECT CAST(cnt AS BIGINT) AS n_ports, COUNT(*) AS n_flows,
           CAST(SUM(sv) AS BIGINT) AS sum_ports,
           CAST(SUM(dv) AS BIGINT) AS n_distinct,
           CAST(SUM(ts_ms) AS BIGINT) AS sum_ts
    FROM per GROUP BY cnt
    """,
    description="RFC 6313 structured data — basicList IEs (r12): the "
    "flow template interleaves IE 291 carrying a variable-COUNT list "
    "of sourceTransportPort values (2-byte elements; semantic byte + "
    "field spec + packed values inside one §7 varlen value), with a "
    ">255-byte long-form residue class (130 elements). The decoder "
    "surfaces the list in the list_ies map keyed by the ELEMENT IE; "
    "grouping by list length and summing the elements (higher-order "
    "F.aggregate, JVM-side) pins every value, array_distinct pins "
    "per-record content shape, and sum_ts pins the fixed fields AFTER "
    "the list. Unsupported shapes (enterprise PEN elements, zero/"
    "oversized widths, truncated headers) skip the list, never the "
    "record — pinned by unit tests. Scale: same opt-in partition-"
    "parallel scalar walk as s6m/s6n.",
    tags=("S5", "S6"),
)
def s6o_basiclist(spark, sf_dir):
    path = _basiclist_capture_dir(spark, sf_dir)
    flows = read_flow_files(spark, path, with_strings=True)
    ports = F.col("list_ies")[7]
    return flows.groupBy(F.size(ports).cast("long").alias("n_ports")).agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum(F.aggregate(ports, F.lit(0).cast("long"),
                          lambda a, x: a + x)).alias("sum_ports"),
        F.sum(F.size(F.array_distinct(ports)).cast("long"))
         .alias("n_distinct"),
        F.sum("ts_ms").cast("bigint").alias("sum_ts"),
    )


#: s6p PEN template: vendor IEs (RFC 7011 §3.4.1 enterprise bit)
#: interleaved FIRST / MID / LAST among the standard fixed numerics, at
#: widths the IANA path can't vectorize (3/6 bytes) plus plain 4/2 —
#: every one must be walked AROUND (consumed, never surfaced) without
#: misaligning a single surrounding field. Values are arbitrary
#: deterministic ints; the oracle never references them.
_PEN_FIELDS = [
    (0x101, 4, 9),       # vendor 9 (cisco-class), FIRST field
    (8, 4), (12, 4), (7, 2), (11, 2),
    (0x102, 3, 29305),   # 3-byte vendor field mid-template
    (4, 1), (6, 1), (2, 4), (1, 4),
    (0x103, 6, 3729),    # 6-byte (MAC-shaped) vendor field
    (152, 8), (153, 8), (16, 4), (17, 4),
    (0x104, 2, 9),       # LAST field — pins the record stride
]

_PEN_VALUE_FNS = {
    "e9_257": lambda eid: eid % 65536,          # 0x101
    "e29305_258": lambda eid: eid % (1 << 24),  # 0x102
    "e3729_259": lambda eid: eid % (1 << 48),   # 0x103
    "e9_260": lambda eid: (eid * 13) % 65536,   # 0x104
}


def _pen_capture_dir(spark, sf_dir: str) -> str:
    """IPFIX captures whose flow template interleaves enterprise-numbered
    field specs (8-byte specs on the wire) among the standard fixed
    numerics — the layout that misaligned the 4-byte field walk before
    r13 and silently decoded wrong records."""
    return _varlen_fixture_dir(spark, sf_dir, "flows_pen",
                               _PEN_FIELDS, 333, _PEN_VALUE_FNS)


@register(
    "s6p_enterprise_ies",
    oracle=f"""
    WITH f AS ({_FLOW_SQL})
    SELECT pr, COUNT(*) AS n_flows,
           CAST(SUM(sp) AS BIGINT) AS sum_sport,
           CAST(SUM(dp) AS BIGINT) AS sum_dport,
           CAST(SUM(ipkt) AS BIGINT) AS sum_pkts,
           CAST(SUM(ibyt) AS BIGINT) AS sum_bytes,
           CAST(SUM(ts_ms) AS BIGINT) AS sum_ts,
           COUNT(DISTINCT sa) AS n_src
    FROM f GROUP BY pr
    """,
    description="enterprise-numbered IEs in the flow template (RFC 7011 "
    "§3.4.1 — r12 verdict item 1, the one wrong-answer path on "
    "RFC-valid input): field specs with the enterprise bit are EIGHT "
    "bytes (4-byte PEN follows), so reading them as fixed 4-byte pairs "
    "misaligned every subsequent field and silently decoded garbage. "
    "The fixture interleaves vendor IEs FIRST, MID (3- and 6-byte "
    "widths), and LAST among the standard numerics; the graded "
    "aggregates pin every IANA field on all sides of them, plus the "
    "record stride via per-datagram record counts. Scale: PEN fields "
    "ride the vectorized frombuffer path as opaque padding columns — "
    "vendor IEs (routine in real deployments) never knock a message "
    "off the fast path (pinned by unit test).",
    tags=("S5", "S6"),
)
def s6p_enterprise_ies(spark, sf_dir):
    path = _pen_capture_dir(spark, sf_dir)
    flows = read_flow_files(spark, path)
    return flows.groupBy("pr").agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum(F.col("sp").cast("long")).alias("sum_sport"),
        F.sum(F.col("dp").cast("long")).alias("sum_dport"),
        F.sum("ipkt").alias("sum_pkts"),
        F.sum("ibyt").alias("sum_bytes"),
        F.sum("ts_ms").cast("bigint").alias("sum_ts"),
        F.countDistinct("sa").alias("n_src"),
    )


#: s6q structured-data shapes: one subTemplateList (sub-template 345,
#: two columns) with a long-form (>255-byte payload: 60 six-byte
#: sub-records) residue class, and one subTemplateMultiList whose three
#: segments cover two sub-templates with a repeat (346 twice — the
#: concatenation contract). Interpolated into the s6q oracle — keep
#: encoder + SQL in sync.
_STL_SUB = [(7, 2), (1, 4)]     # sourceTransportPort, octetDeltaCount
_STML_SUB_A = [(11, 2)]         # destinationTransportPort
_STML_SUB_B = [(2, 4)]          # packetDeltaCount
_STL_LONG_MOD = 37
_STL_LONG_N = 60


def _stl_payload(eid: int) -> bytes:
    from ..sources.ipfix import encode_subtemplatelist

    cnt = _STL_LONG_N if eid % _STL_LONG_MOD == 0 else eid % 3 + 1
    recs = [{7: (eid * 5 + 11 * k) % 1024, 1: (eid + 7 * k) % 512}
            for k in range(cnt)]
    return encode_subtemplatelist(345, _STL_SUB, recs)


def _stml_payload(eid: int) -> bytes:
    from ..sources.ipfix import encode_subtemplatemultilist

    seg_a = [{11: (eid * 3 + 5 * k) % 1024} for k in range(eid % 2 + 1)]
    seg_b = [{2: (eid + k) % 100} for k in range(2)]
    seg_c = [{11: (eid * 9) % 1024}]  # same sub-template as A: concat
    return encode_subtemplatemultilist([
        (346, _STML_SUB_A, seg_a),
        (347, _STML_SUB_B, seg_b),
        (346, _STML_SUB_A, seg_c),
    ])


def _subtemplate_capture_dir(spark, sf_dir: str) -> str:
    """IPFIX captures whose flow template carries RFC 6313
    subTemplateList (292) and subTemplateMultiList (293) IEs, with the
    three referenced sub-templates announced in the same template set."""
    fields = [(8, 4), (12, 4), (4, 1),
              (292, _VARLEN),                 # subTemplateList
              (6, 1),
              (293, _VARLEN),                 # subTemplateMultiList
              (2, 4), (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
    return _varlen_fixture_dir(
        spark, sf_dir, "flows_stl", fields, 334,
        {"stl": _stl_payload, "stml": _stml_payload},
        extra_templates=[(345, _STL_SUB), (346, _STML_SUB_A),
                         (347, _STML_SUB_B)])


@register(
    "s6q_subtemplate_lists",
    oracle=f"""
    WITH f AS (
      SELECT event_id AS eid,
             CASE WHEN event_id % {_STL_LONG_MOD} = 0 THEN {_STL_LONG_N}
                  ELSE event_id % 3 + 1 END AS cnt,
             event_id % 2 + 1 AS cnt_a,
             epoch_ms(ts) AS ts_ms
      FROM events WHERE ts IS NOT NULL
    ),
    stl AS (
      SELECT f.eid,
             SUM((f.eid * 5 + 11 * g.k) % 1024) AS s_sp,
             SUM((f.eid + 7 * g.k) % 512) AS s_bt
      FROM f, UNNEST(generate_series(0, CAST(f.cnt - 1 AS BIGINT))) AS g(k)
      GROUP BY f.eid
    ),
    stml_a AS (
      SELECT f.eid, SUM((f.eid * 3 + 5 * g.k) % 1024) AS s_dp
      FROM f, UNNEST(generate_series(0, CAST(f.cnt_a - 1 AS BIGINT))) AS g(k)
      GROUP BY f.eid
    )
    SELECT CAST(f.cnt AS BIGINT) AS n_sub, COUNT(*) AS n_flows,
           CAST(SUM(stl.s_sp) AS BIGINT) AS sum_sub_sport,
           CAST(SUM(stl.s_bt) AS BIGINT) AS sum_sub_bytes,
           CAST(SUM(stml_a.s_dp + (f.eid * 9) % 1024) AS BIGINT)
             AS sum_sub_dport,
           CAST(SUM(f.cnt_a + 1) AS BIGINT) AS n_sub_dport,
           CAST(SUM((f.eid % 100) + ((f.eid + 1) % 100)) AS BIGINT)
             AS sum_sub_pkts,
           CAST(SUM(f.ts_ms) AS BIGINT) AS sum_ts
    FROM f JOIN stl ON f.eid = stl.eid JOIN stml_a ON f.eid = stml_a.eid
    GROUP BY f.cnt
    """,
    description="RFC 6313 subTemplateList + subTemplateMultiList (the "
    "two structured-data siblings basicList opened in r12): the flow "
    "template carries IE 292 — sub-records of an announced two-column "
    "sub-template, variable count per record with a >255-byte long-form "
    "class — and IE 293, whose three segments span two sub-templates "
    "with a repeated one (concatenation in wire order). Sub-records "
    "flatten column-wise into list_ies keyed by element IE; grouping by "
    "stl length and summing every flattened column (higher-order "
    "F.aggregate, JVM-side) pins all values, n_sub_dport pins the "
    "cross-segment concat length, and sum_ts pins the fixed fields "
    "after both lists. Unknown sub-templates / malformed segments skip "
    "the field, never the record — pinned by unit tests. Scale: same "
    "opt-in partition-parallel scalar walk as s6m-s6o.",
    tags=("S5", "S6"),
)
def s6q_subtemplate_lists(spark, sf_dir):
    path = _subtemplate_capture_dir(spark, sf_dir)
    flows = read_flow_files(spark, path, with_strings=True)
    sub_sp = F.col("list_ies")[7]
    sub_bt = F.col("list_ies")[1]
    sub_dp = F.col("list_ies")[11]
    sub_pk = F.col("list_ies")[2]

    def arr_sum(col):
        return F.aggregate(col, F.lit(0).cast("long"), lambda a, x: a + x)

    return flows.groupBy(F.size(sub_sp).cast("long").alias("n_sub")).agg(
        F.count(F.lit(1)).alias("n_flows"),
        F.sum(arr_sum(sub_sp)).alias("sum_sub_sport"),
        F.sum(arr_sum(sub_bt)).alias("sum_sub_bytes"),
        F.sum(arr_sum(sub_dp)).alias("sum_sub_dport"),
        F.sum(F.size(sub_dp).cast("long")).alias("n_sub_dport"),
        F.sum(arr_sum(sub_pk)).alias("sum_sub_pkts"),
        F.sum("ts_ms").cast("bigint").alias("sum_ts"),
    )


@register(
    "s7b_clickhouse_ddl",
    oracle="""
    SELECT column_name AS col,
           CASE WHEN column_name = 'event_id' THEN m
                ELSE 'Nullable(' || m || ')' END AS ch_type
    FROM (
      SELECT column_name,
             CASE data_type
               WHEN 'BIGINT' THEN 'Int64'
               WHEN 'DOUBLE' THEN 'Float64'
               WHEN 'VARCHAR' THEN 'String'
               WHEN 'TIMESTAMP' THEN 'DateTime64(6)'
               WHEN 'TIMESTAMP_NS' THEN 'DateTime64(6)'
               WHEN 'TIMESTAMP WITH TIME ZONE' THEN 'DateTime64(6)'
             END AS m
      FROM information_schema.columns WHERE table_name = 'events'
    )
    """,
    description="ClickHouse sink DDL type mapping under the hash gate (the "
    "verifiable half of S7 — no server exists in this environment, but "
    "the schema→MergeTree column mapping is pure logic): the REAL "
    "generator (streaming/sinks.clickhouse_ddl, order key non-nullable, "
    "everything else Nullable) is run against the events table and its "
    "emitted column lines parsed back; the oracle independently derives "
    "the same mapping from information_schema over the raw parquet — two "
    "codepaths, one contract. Catches a silent type-map drift that would "
    "otherwise only surface as a server-side insert failure.",
    tags=("S7",),
)
def s7b_clickhouse_ddl(spark, sf_dir):
    from ..streaming.sinks import clickhouse_ddl

    ev = load_table(spark, sf_dir, "events")
    ddl = clickhouse_ddl(ev, "events_ch", order_by=["event_id"],
                         partition_by="toDate(ts)")
    rows = []
    for line in ddl.splitlines():
        ls = line.strip().rstrip(",")
        if ls.startswith("`"):
            name, ch = ls.split("` ", 1)
            rows.append((name.lstrip("`"), ch))
    return spark.createDataFrame(rows, "col string, ch_type string")
