"""The nf2pq.conf analog: config parsing + the full config-driven pipeline
(capture files -> decode -> partitioned parquet) run hermetically."""

from __future__ import annotations

import glob
import os
import re

import pytest

from nf2pq_spark.config import load_config, run_collector

CONF_TEMPLATE = """
[collector]
capture_dir = {cap}
listen_port = 9995          ; non-default, with inline comment
rotation_seconds = 30

[parquet]
path = {out}
checkpoint = {ckpt}

[clickhouse]
url = jdbc:clickhouse://ch.example:8123/flows
table = flows
user = ingest
password = hunter2
"""


def test_load_config(tmp_path):
    conf = tmp_path / "nf2pq.conf"
    conf.write_text(CONF_TEMPLATE.format(
        cap=tmp_path / "caps", out=tmp_path / "flows",
        ckpt=tmp_path / "ckpt"))
    cfg = load_config(str(conf))
    assert cfg.listen_port == 9995
    assert cfg.rotation_seconds == 30
    assert cfg.clickhouse is not None
    assert cfg.clickhouse.jdbc_properties == {"user": "ingest",
                                              "password": "hunter2"}


def test_config_driven_pipeline(spark, tmp_path):
    """End-to-end: conf file -> run_collector(availableNow) -> partitioned
    parquet rows equal the encoded flows (no ClickHouse section -> parquet
    only)."""
    from nf2pq_spark.sources.ipfix import (encode_netflow_v5,
                                           write_capture_file)

    cap = tmp_path / "caps"
    os.makedirs(cap)
    # v5 carries uint32 ms on the wire, so stay below 2^32 (1970-01-02T01:00)
    base_ms = 90_000_000
    flows = [{"sa_int": (10 << 24) + i, "da_int": 2, "sp": i, "dp": 80,
              "pr": 6, "flg": 16, "ipkt": 1, "ibyt": 100,
              "ts_ms": base_ms + i * 3_600_000,  # one per hour
              "te_ms": base_ms + i * 3_600_000 + 500, "sas": 0, "das": 0}
             for i in range(4)]
    write_capture_file(str(cap / "cap_0.bin"), encode_netflow_v5(flows))

    conf = tmp_path / "nf2pq.conf"
    conf.write_text("""
[collector]
capture_dir = {cap}

[parquet]
path = {out}
checkpoint = {ckpt}
""".format(cap=cap, out=tmp_path / "flows", ckpt=tmp_path / "ckpt"))

    cfg = load_config(str(conf))
    q = run_collector(spark, cfg, available_now=True)
    q.awaitTermination()

    out = spark.read.parquet(str(tmp_path / "flows"))
    rows = out.orderBy("sp").collect()
    assert len(rows) == 4
    # partitioned layout: hour column carries the rotation partitioning
    assert sorted(r.hour for r in rows) == [1, 2, 3, 4]
    assert {r.date.isoformat() for r in rows} == {"1970-01-02"}
    assert rows[0].sa == "10.0.0.0" and rows[3].sp == 3
    # replay-idempotent layout (r8): each micro-batch owns a batch_id=N
    # dir, date/hour partitioning nested inside it
    flows_dir = str(tmp_path / "flows")
    batch_dirs = [d for d in os.listdir(flows_dir) if d.startswith("batch_id=")]
    assert batch_dirs, "collector output must be batch_id-partitioned"
    # guard the per-batch date dir: with multiple micro-batches each
    # batch holds only a subset of dates, and a bare listdir would
    # crash instead of failing the layout assertion
    hour_dirs = {
        d
        for b in batch_dirs
        if os.path.isdir(os.path.join(flows_dir, b, "date=1970-01-02"))
        for d in os.listdir(os.path.join(flows_dir, b, "date=1970-01-02"))
    }
    assert {"hour=1", "hour=2", "hour=3", "hour=4"} <= hour_dirs


def test_packaging_entry_point_resolves(tmp_path, spark):
    """r7 verdict item 8: the pyproject console entry must resolve to a
    working CLI. The sandbox lacks the `wheel` package (and network), so
    `pip install -e .` cannot run here — this pins the same contract
    directly: the declared target imports, parses args, and a --drain
    invocation against a real capture dir runs the full pipeline.
    (main() reuses the active session via get_spark's getOrCreate.)"""
    import contextlib
    import io
    import tomllib

    from nf2pq_spark.sources.ipfix import encode_netflow_v5, write_capture_file

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "pyproject.toml"), "rb") as fh:
        meta = tomllib.load(fh)
    mod_name, fn_name = meta["project"]["scripts"]["nf2pq-collector"].split(":")
    import importlib

    target = getattr(importlib.import_module(mod_name), fn_name)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        try:
            target(["--help"])
        except SystemExit as e:
            assert e.code == 0
    assert "--drain" in buf.getvalue()

    cap = tmp_path / "caps"
    os.makedirs(cap)
    flows = [{"sa_int": (10 << 24) + i, "da_int": 2, "sp": i, "dp": 80,
              "pr": 6, "flg": 16, "ipkt": 1, "ibyt": 100,
              "ts_ms": 90_000_000 + i, "te_ms": 90_000_500 + i,
              "sas": 0, "das": 0} for i in range(3)]
    write_capture_file(str(cap / "cap_0.bin"), encode_netflow_v5(flows))
    conf = tmp_path / "nf2pq.conf"
    conf.write_text(f"""
[collector]
capture_dir = {cap}

[parquet]
path = {tmp_path / 'flows'}
checkpoint = {tmp_path / 'ckpt'}
""")
    assert target([str(conf), "--drain"]) == 0
    out = spark.read.parquet(str(tmp_path / "flows"))
    assert out.count() == 3


def test_config_pipeline_reads_bridge_subdirectory_layout(spark, tmp_path):
    """The UDP bridge writes capture_dir/<exporter-ip>/cap_*.bin and
    Spark's binaryFile source does not recurse — the collector must glob
    one level down or a bridge-fed deployment silently streams zero
    files (r10 review). Also exercises start_bridge, the wiring for the
    [collector] listener fields."""
    import socket
    import time

    from nf2pq_spark.config import start_bridge
    from nf2pq_spark.sources.ipfix import encode_netflow_v5

    cap = tmp_path / "caps"
    os.makedirs(cap)
    conf = tmp_path / "nf2pq.conf"
    conf.write_text("""
[collector]
capture_dir = {cap}
listen_host = 127.0.0.1
listen_port = 0
rotation_seconds = 1

[parquet]
path = {out}
checkpoint = {ckpt}
""".format(cap=cap, out=tmp_path / "flows", ckpt=tmp_path / "ckpt"))
    cfg = load_config(str(conf))

    bridge = start_bridge(cfg)
    try:
        flows = [{"sa_int": (10 << 24) + i, "da_int": 2, "sp": i, "dp": 80,
                  "pr": 6, "flg": 16, "ipkt": 1, "ibyt": 100,
                  "ts_ms": 90_000_000 + i, "te_ms": 90_000_500 + i,
                  "sas": 0, "das": 0} for i in range(6)]
        sender = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        for dgram in encode_netflow_v5(flows, per_packet=3):
            sender.sendto(dgram, bridge.addr)
        deadline = time.time() + 10
        while bridge.datagrams_received < 2 and time.time() < deadline:
            time.sleep(0.05)
        assert bridge.datagrams_received == 2
    finally:
        bridge.stop()  # finalizes the open captures under caps/127.0.0.1/

    assert os.path.isdir(cap / "127.0.0.1")  # the layout under test
    q = run_collector(spark, cfg, available_now=True)
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "flows"))
    assert sorted(r.sp for r in out.collect()) == list(range(6))


def test_capture_source_glob_heuristic(tmp_path):
    """The one-level glob append must key on the LAST path segment and
    on whether the path is a real directory — a directory literally
    named with a glob char previously skipped the append and the
    collector silently streamed zero files again (r10 advice)."""
    from nf2pq_spark.config import capture_source_glob

    assert capture_source_glob("/data/caps") == "/data/caps/*"
    assert capture_source_glob("/data/caps/") == "/data/caps/*"
    # explicit glob in the last segment: verbatim (crash_soak passes
    # cap/* and must keep working)
    assert capture_source_glob("/data/caps/*") == "/data/caps/*"
    assert capture_source_glob("/data/caps/exp_??") == "/data/caps/exp_??"
    # Hadoop alternation glob in the last segment: also verbatim — '{'
    # was missing from the detection set while PRESENT in the escape
    # set, so the braces got backslash-escaped and zero files streamed
    # (r11 advice)
    assert capture_source_glob("/data/caps/{e1,e2}") == "/data/caps/{e1,e2}"
    # an EXISTING directory is never "already a glob", whatever its
    # name — and its metachars are ESCAPED so Hadoop's globber reads
    # them literally instead of as a character class (r11 review: the
    # unescaped form was PATH_NOT_FOUND, and "what?/*" matched sibling
    # dirs)
    weird = tmp_path / "cap[1]"
    weird.mkdir()
    assert capture_source_glob(str(weird)) == \
        str(tmp_path) + "/cap\\[1\\]/*"
    # glob chars in a PARENT of a not-yet-created dir don't disable the
    # append either (and get escaped on the way out)
    assert capture_source_glob("/data/cap[1]/sub") == \
        "/data/cap\\[1\\]/sub/*"


def test_capture_source_glob_escaped_dir_streams_files(spark, tmp_path):
    """End-to-end: a capture_dir literally named with glob metachars
    must actually stream its files through Spark's reader — the escaped
    glob is what the binaryFile source receives."""
    import os

    from nf2pq_spark.config import capture_source_glob

    d = tmp_path / "cap[1]" / "10.0.0.1"
    os.makedirs(d)
    (d / "f.bin").write_bytes(b"x" * 10)
    # decoy sibling a naive unescaped glob could match
    d2 = tmp_path / "capX1" / "10.0.0.1"
    os.makedirs(d2)
    (d2 / "g.bin").write_bytes(b"y" * 10)
    path = capture_source_glob(str(tmp_path / "cap[1]"))
    got = spark.read.format("binaryFile").load(path)
    assert [os.path.basename(r.path) for r in got.collect()] == ["f.bin"]


def test_config_decode_strings_pipeline(spark, tmp_path):
    """decode_strings = true (r12): the config-driven collector surfaces
    varlen string and basicList IEs in its parquet output — previously
    the streaming path had no route to the FLOW_STR_SCHEMA columns at
    all. Off (the default) keeps the fixed 13-column frame."""
    import os

    from nf2pq_spark.sources.ipfix import (_VARLEN, encode_basiclist,
                                           encode_ipfix,
                                           write_capture_file)

    cap = tmp_path / "caps"
    os.makedirs(cap)
    fields = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1),
              (96, _VARLEN), (6, 1), (2, 4), (291, _VARLEN),
              (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
    flows = [{"sa_int": (10 << 24) + i, "da_int": 2, "sp": i, "dp": 80,
              "pr": 6, "flg": 16, "app": f"svc{i}",
              "blist": encode_basiclist(7, 2, [10 * i, 10 * i + 1]),
              "ipkt": 1, "ibyt": 100,
              "ts_ms": 1_700_000_000_000 + i,
              "te_ms": 1_700_000_000_500 + i, "sas": 0, "das": 0}
             for i in range(3)]
    write_capture_file(str(cap / "cap_0.bin"),
                       encode_ipfix(flows, template_fields=fields,
                                    template_id=350))

    conf = tmp_path / "nf2pq.conf"
    conf.write_text("""
[collector]
capture_dir = {cap}
decode_strings = true

[parquet]
path = {out}
checkpoint = {ckpt}
""".format(cap=cap, out=tmp_path / "flows", ckpt=tmp_path / "ckpt"))

    cfg = load_config(str(conf))
    assert cfg.decode_strings is True
    q = run_collector(spark, cfg, available_now=True)
    q.awaitTermination()

    out = spark.read.parquet(str(tmp_path / "flows"))
    rows = {r.sp: r for r in out.collect()}
    assert len(rows) == 3
    for i in range(3):
        assert rows[i].app_name == f"svc{i}"
        assert rows[i].str_ies == {96: f"svc{i}"}
        assert rows[i].list_ies == {7: [10 * i, 10 * i + 1]}
        assert rows[i].ibyt == 100  # fixed fields around the varlens


def test_clickhouse_leg_ships_pinned_columns(spark, tmp_path, monkeypatch):
    """The ClickHouse insert column set is PINNED configuration (r12
    advice): dropping complex columns by TYPE made `decode_strings`
    toggle the insert list (app_name appeared/disappeared), so inserts
    into a table DDL'd under the other setting failed at runtime. The
    default ships the stable base flow surface regardless of
    decode_strings; `columns = ...` opts into more; the parquet leg
    keeps the full surface."""
    import os

    from nf2pq_spark.sources.ipfix import (_VARLEN, encode_basiclist,
                                           encode_ipfix,
                                           write_capture_file)
    from nf2pq_spark.streaming import sinks as sinks_mod

    delivered = []

    def fake_jdbc_writer(url, table, properties=None,
                         dedup_token_prefix=None):
        def write_batch(batch_df, batch_id):
            delivered.append(batch_df)
        return write_batch

    monkeypatch.setattr(sinks_mod, "jdbc_batch_writer", fake_jdbc_writer)

    cap = tmp_path / "caps"
    os.makedirs(cap)
    fields = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1),
              (96, _VARLEN), (6, 1), (2, 4), (291, _VARLEN),
              (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
    flows = [{"sa_int": 10, "da_int": 2, "sp": 1, "dp": 80, "pr": 6,
              "flg": 16, "app": "svc", "blist": encode_basiclist(7, 2, [9]),
              "ipkt": 1, "ibyt": 100, "ts_ms": 1_700_000_000_000,
              "te_ms": 1_700_000_000_500, "sas": 0, "das": 0}]
    write_capture_file(str(cap / "cap_0.bin"),
                       encode_ipfix(flows, template_fields=fields,
                                    template_id=351))
    conf = tmp_path / "nf2pq.conf"
    conf.write_text("""
[collector]
capture_dir = {cap}
decode_strings = true

[parquet]
path = {out}
checkpoint = {ckpt}

[clickhouse]
url = jdbc:clickhouse://nowhere:8123/flows
table = flows
""".format(cap=cap, out=tmp_path / "flows", ckpt=tmp_path / "ckpt"))

    cfg = load_config(str(conf))
    q = run_collector(spark, cfg, available_now=True)
    q.awaitTermination()

    assert delivered, "the ClickHouse leg never ran"
    from nf2pq_spark.sources.ipfix import FLOW_SCHEMA

    # default: the STABLE base surface — identical with decode_strings
    # on or off, so a table DDL'd under either setting keeps working
    assert delivered[0].columns == [f.name for f in FLOW_SCHEMA.fields] + ["ts"]
    # the parquet leg keeps the full surface
    out = spark.read.parquet(str(tmp_path / "flows"))
    assert {"str_ies", "list_ies", "app_name"} <= set(out.columns)


def test_clickhouse_explicit_columns_and_validation(spark, tmp_path,
                                                    monkeypatch):
    """`columns = ...` in [clickhouse] pins the insert list (the
    app_name-after-table-migration path); names outside the decoded
    surface or with JDBC-unmappable map/array types fail at STREAM
    BUILD, not as a runtime insert error batches later."""
    import os

    import pytest

    from nf2pq_spark.sources.ipfix import (_VARLEN, encode_ipfix,
                                           write_capture_file)
    from nf2pq_spark.streaming import sinks as sinks_mod

    delivered = []

    def fake_jdbc_writer(url, table, properties=None,
                        dedup_token_prefix=None):
        def write_batch(batch_df, batch_id):
            delivered.append(batch_df)
        return write_batch

    monkeypatch.setattr(sinks_mod, "jdbc_batch_writer", fake_jdbc_writer)

    cap = tmp_path / "caps"
    os.makedirs(cap)
    fields = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1),
              (96, _VARLEN), (6, 1), (2, 4),
              (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
    flows = [{"sa_int": 10, "da_int": 2, "sp": 1, "dp": 80, "pr": 6,
              "flg": 16, "app": "svc", "ipkt": 1, "ibyt": 100,
              "ts_ms": 1_700_000_000_000, "te_ms": 1_700_000_000_500,
              "sas": 0, "das": 0}]
    write_capture_file(str(cap / "cap_0.bin"),
                       encode_ipfix(flows, template_fields=fields,
                                    template_id=352))
    base = """
[collector]
capture_dir = {cap}
decode_strings = true

[parquet]
path = {out}
checkpoint = {ckpt}

[clickhouse]
url = jdbc:clickhouse://nowhere:8123/flows
table = flows
columns = {cols}
"""

    def cfg_with(cols, tag):
        conf = tmp_path / f"nf2pq_{tag}.conf"
        conf.write_text(base.format(cap=cap, out=tmp_path / f"flows_{tag}",
                                    ckpt=tmp_path / f"ckpt_{tag}",
                                    cols=cols))
        return load_config(str(conf))

    cfg = cfg_with("sa, da, ibyt, app_name, ts", "ok")
    assert cfg.clickhouse.columns == ("sa", "da", "ibyt", "app_name", "ts")
    q = run_collector(spark, cfg, available_now=True)
    q.awaitTermination()
    assert delivered and delivered[0].columns == [
        "sa", "da", "ibyt", "app_name", "ts"]

    with pytest.raises(ValueError, match="not in the decoded surface"):
        run_collector(spark, cfg_with("sa, nonexistent", "bad"),
                      available_now=True)
    with pytest.raises(ValueError, match="map/array"):
        run_collector(spark, cfg_with("sa, str_ies", "cplx"),
                      available_now=True)
    # app_name needs decode_strings: pinned as a build-time error too
    cfg_off = cfg_with("sa, app_name", "off")
    cfg_off = type(cfg_off)(**{**cfg_off.__dict__, "decode_strings": False})
    with pytest.raises(ValueError, match="not in the decoded surface"):
        run_collector(spark, cfg_off, available_now=True)


def _v5_capture(cap, n: int = 4) -> None:
    """One v5 capture file of ``n`` flows, one per hour, sp = 0..n-1."""
    from nf2pq_spark.sources.ipfix import encode_netflow_v5, write_capture_file

    os.makedirs(cap)
    base_ms = 90_000_000  # v5 carries uint32 ms on the wire
    flows = [{"sa_int": (10 << 24) + i, "da_int": 2, "sp": i, "dp": 80,
              "pr": 6, "flg": 16, "ipkt": 1, "ibyt": 100,
              "ts_ms": base_ms + i * 3_600_000,
              "te_ms": base_ms + i * 3_600_000 + 500, "sas": 0, "das": 0}
             for i in range(n)]
    write_capture_file(str(cap / "cap_0.bin"), encode_netflow_v5(flows))


def _drain(spark, tmp_path, cap, **kw):
    from nf2pq_spark.config import CollectorConfig

    q = run_collector(spark, CollectorConfig(
        capture_dir=str(cap), parquet_path=str(tmp_path / "flows"),
        checkpoint=str(tmp_path / "ckpt"), **kw), available_now=True)
    q.awaitTermination()
    assert q.exception() is None
    return str(tmp_path / "flows")


def _parquet_files(out: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out, "batch_id=*", "date=*",
                                         "hour=*", "*")))


def test_clickhouse_leg_reuses_the_batch_decode(spark, tmp_path,
                                                monkeypatch):
    """With [clickhouse] set, each batch runs the phase-2 decoder once:
    the ClickHouse leg reads the batch's committed Parquet back instead
    of evaluating the lazy decoded frame a second time."""
    from nf2pq_spark.sources import ipfix
    from nf2pq_spark.streaming import sinks as sinks_mod

    runs = str(tmp_path / "decoder_runs")
    os.makedirs(runs)
    make_decoder = ipfix.make_decoder

    def counting_make_decoder(*a, **kw):
        decode = make_decoder(*a, **kw)

        def counted(batches):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            open(os.path.join(runs, f"{ctx.stageId()}-{ctx.partitionId()}-"
                                    f"{ctx.attemptNumber()}"), "w").close()
            yield from decode(batches)

        return counted

    shipped = []

    def fake_jdbc_writer(url, table, properties=None,
                         dedup_token_prefix=None):
        def write_batch(batch_df, batch_id):
            shipped.append((batch_id, sorted(r.sp for r in batch_df.collect())))
        return write_batch

    monkeypatch.setattr(ipfix, "make_decoder", counting_make_decoder)
    monkeypatch.setattr(sinks_mod, "jdbc_batch_writer", fake_jdbc_writer)
    cap = tmp_path / "caps"
    _v5_capture(cap)
    conf = tmp_path / "nf2pq.conf"
    conf.write_text("""
[collector]
capture_dir = {cap}

[parquet]
path = {out}
checkpoint = {ckpt}

[clickhouse]
url = jdbc:clickhouse://nowhere:8123/flows
table = flows
""".format(cap=cap, out=tmp_path / "flows", ckpt=tmp_path / "ckpt"))
    q = run_collector(spark, load_config(str(conf)), available_now=True)
    q.awaitTermination()

    assert shipped == [(0, [0, 1, 2, 3])]
    stages = {name.split("-")[0] for name in os.listdir(runs)}
    assert len(stages) == 1, f"phase-2 decode ran in stages {sorted(stages)}"


_FLOW_PHYSICAL = [
    ("ts_ms", "INT64"), ("te_ms", "INT64"), ("sa", "BYTE_ARRAY"),
    ("da", "BYTE_ARRAY"), ("sp", "INT32"), ("dp", "INT32"), ("pr", "INT32"),
    ("flg", "INT32"), ("ipkt", "INT64"), ("ibyt", "INT64"), ("sas", "INT32"),
    ("das", "INT32"), ("exporter", "BYTE_ARRAY")]
_STR_PHYSICAL = [
    ("app_name", "BYTE_ARRAY"), ("str_ies.key_value.key", "INT32"),
    ("str_ies.key_value.value", "BYTE_ARRAY"),
    ("list_ies.key_value.key", "INT32"),
    ("list_ies.key_value.value.list.element", "INT64")]
_FLOW_READ = ("ts_ms:bigint,te_ms:bigint,sa:string,da:string,sp:int,dp:int,"
              "pr:int,flg:int,ipkt:bigint,ibyt:bigint,sas:int,das:int,"
              "exporter:string")
_STR_READ = ("app_name:string,str_ies:map<int,string>,"
             "list_ies:map<int,array<bigint>>")


@pytest.mark.parametrize("decode_strings", [False, True])
def test_collector_files_keep_the_spark_layout(spark, tmp_path,
                                               decode_strings):
    """The collector's files read back with the schema Spark's writer
    gave them, and every file keeps Spark's Parquet physical types
    (``ts`` INT96), snappy compression and deterministic names."""
    import pyarrow.parquet as pq

    from nf2pq_spark.sources.ipfix import (_VARLEN, encode_basiclist,
                                           encode_ipfix, write_capture_file)

    cap = tmp_path / "caps"
    os.makedirs(cap)
    fields = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1),
              (96, _VARLEN), (6, 1), (2, 4), (291, _VARLEN),
              (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
    flows = [{"sa_int": 10 + i, "da_int": 2, "sp": i, "dp": 80, "pr": 6,
              "flg": 16, "app": f"svc{i}",
              "blist": encode_basiclist(7, 2, [i, i + 1]), "ipkt": 1,
              "ibyt": 100, "ts_ms": 1_700_000_000_000 + i * 1_000_000,
              "te_ms": 1_700_000_000_500, "sas": 0, "das": 0}
             for i in range(8)]
    write_capture_file(str(cap / "cap_0.bin"),
                       encode_ipfix(flows, template_fields=fields,
                                    template_id=353))
    out = _drain(spark, tmp_path, cap, decode_strings=decode_strings)

    read = _FLOW_READ + ("," + _STR_READ if decode_strings else "")
    assert spark.read.parquet(out).schema.simpleString() == (
        f"struct<{read},ts:timestamp,batch_id:int,date:date,hour:int>")
    physical = (_FLOW_PHYSICAL + (_STR_PHYSICAL if decode_strings else [])
                + [("ts", "INT96")])
    files = _parquet_files(out)
    assert len(files) == 3  # hours 22 and 23 UTC, then 0 the next day
    for path in files:
        assert re.fullmatch(r"part-\d{5}\.c000\.snappy\.parquet",
                            os.path.basename(path)), path
        meta = pq.ParquetFile(path).metadata
        assert [(meta.schema.column(i).path,
                 meta.schema.column(i).physical_type)
                for i in range(meta.num_columns)] == physical
        assert {meta.row_group(g).column(i).compression
                for g in range(meta.num_row_groups)
                for i in range(meta.num_columns)} == {"SNAPPY"}
    assert not glob.glob(os.path.join(out, "**", "_SUCCESS"),
                         recursive=True)
    rows = spark.read.parquet(out).orderBy("sp").collect()
    assert [r.sp for r in rows] == list(range(8))
    if decode_strings:
        assert rows[3].str_ies == {96: "svc3"}
        assert rows[3].list_ies == {7: [3, 4]}


@pytest.mark.parametrize("zone", ["Asia/Kolkata", "+05:30"])
def test_collector_partitions_in_the_session_time_zone(spark, tmp_path,
                                                       zone):
    """date=/hour= follow ``with_partition_columns`` in a session time
    zone with a half-hour offset (a region or a fixed offset), across a
    local midnight."""
    from nf2pq_spark.sources.ipfix import encode_ipfix, write_capture_file
    from nf2pq_spark.streaming.sinks import with_partition_columns

    cap = tmp_path / "caps"
    os.makedirs(cap)
    t0 = 1_700_071_200_000  # 2023-11-15T18:00Z, 23:30 at +05:30
    flows = [{"sa_int": 10, "da_int": 2, "sp": i, "dp": 80, "pr": 6,
              "flg": 16, "ipkt": 1, "ibyt": 100,
              "ts_ms": t0 + i * 20 * 60_000, "te_ms": t0 + i * 20 * 60_000,
              "sas": 0, "das": 0} for i in range(9)]
    write_capture_file(str(cap / "cap_0.bin"), encode_ipfix(flows))
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", zone)
    try:
        out = spark.read.parquet(_drain(spark, tmp_path, cap))
        got = sorted(map(tuple, out.select("sp", "date", "hour").collect()))
        want = sorted(map(tuple, with_partition_columns(
            out.drop("batch_id", "date", "hour"), "ts")
            .select("sp", "date", "hour").collect()))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
    assert got == want
    assert len({(d, h) for _sp, d, h in got}) == 4
    assert len({d for _sp, d, _h in got}) == 2


def test_redelivered_batch_replaces_its_directory(spark, tmp_path):
    """A batch redelivered after a crash between its write and its
    checkpoint commit clears ``batch_id=N`` first: a stray file planted
    there is gone, and every flow appears exactly once."""
    import shutil

    cap = tmp_path / "caps"
    _v5_capture(cap)
    out = _drain(spark, tmp_path, cap)
    first = _parquet_files(out)
    stray = os.path.join(os.path.dirname(first[0]),
                         "part-09999.c000.snappy.parquet")
    shutil.copy(first[0], stray)
    # the batch ran, but its commit never landed
    for name in ("0", ".0.crc"):
        path = tmp_path / "ckpt" / "commits" / name
        if path.exists():
            path.unlink()
    _drain(spark, tmp_path, cap)

    assert not os.path.exists(stray)
    assert _parquet_files(out) == first
    assert sorted(os.listdir(out)) == ["batch_id=0"]
    sps = [r.sp for r in spark.read.parquet(out).select("sp").collect()]
    assert sorted(sps) == [0, 1, 2, 3]


def test_collector_keeps_the_spark_writer_off_the_local_filesystem(
        spark, tmp_path, monkeypatch):
    """Only a target that resolves to the local filesystem gets the
    in-task writer; the decision reads the path and ``fs.defaultFS``
    and contacts nothing."""
    from nf2pq_spark.config import CollectorConfig
    from nf2pq_spark.streaming import sinks

    assert sinks.local_target("hdfs://nn/x", "file:///") is None
    assert sinks.local_target("/data/x", "hdfs://nn:8020") is None
    assert sinks.local_target("file:/data/x", "hdfs://nn:8020") == "/data/x"
    assert sinks.local_target("file:///data/x", "file:///") == "/data/x"
    assert sinks.local_target("rel/x", "file:///") == os.path.abspath("rel/x")

    chosen = []

    def spark_writer(base, partition_by=None):
        chosen.append(base)
        return lambda df, batch_id: None

    def task_writer(*a, **kw):
        raise AssertionError("in-task writer chosen for a remote target")

    monkeypatch.setattr(sinks, "idempotent_parquet_batch_writer",
                        spark_writer)
    monkeypatch.setattr(sinks, "task_parquet_batch_writer", task_writer)
    os.makedirs(tmp_path / "caps")
    q = run_collector(spark, CollectorConfig(
        capture_dir=str(tmp_path / "caps"), parquet_path="hdfs://nn/x",
        checkpoint=str(tmp_path / "ckpt")), available_now=True)
    q.awaitTermination()
    assert chosen == ["hdfs://nn/x"]


def test_failed_write_attempt_leaves_no_file(spark, tmp_path):
    """A task attempt that fails after writing part of its rows removes
    its tmp files, and the error it reports is the decoder's."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType, TimestampType

    from nf2pq_spark.sources.ipfix import FLOW_SCHEMA
    from nf2pq_spark.streaming.sinks import task_parquet_batch_writer

    write = task_parquet_batch_writer(str(tmp_path), StructType(
        FLOW_SCHEMA.fields + [StructField("ts", TimestampType())]))
    row = {"ts_ms": 90_000_000, "te_ms": 90_000_500, "sa": "10.0.0.1",
           "da": "10.0.0.2", "sp": 1, "dp": 80, "pr": 6, "flg": 16,
           "ipkt": 1, "ibyt": 100, "sas": 0, "das": 0, "exporter": "e"}

    def frames(batches):
        for _ in batches:
            pass
        yield pd.DataFrame([row])
        raise ValueError("decoder failed mid-task")

    raw = spark.createDataFrame([("p", b"x")], "path string, content binary")
    with pytest.raises(Exception, match="decoder failed mid-task"):
        write(raw, frames, 0)
    left = [f for _d, _dirs, files in os.walk(tmp_path / "batch_id=0")
            for f in files]
    assert left == []


def _jobs_newest_first(spark):
    """(id, name) of every job in the status store, newest first.
    Streaming jobs carry a job group, so
    ``statusTracker().getJobIdsForGroup(None)`` would miss them."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(10_000)  # the store is fed async
    jobs = sc.statusStore().jobsList(None)
    for i in range(jobs.size()):
        yield jobs.apply(i).jobId(), jobs.apply(i).name()


@pytest.mark.parametrize("layout", ["40_files_one_exporter",
                                    "one_file_40_exporters"])
def test_drain_lists_its_files_on_the_driver(spark, tmp_path, layout):
    """A local session lists a batch's capture files on the driver: a
    drain of 40 files (more than Spark's 32-path listing threshold) runs
    the harvest job and the write job and nothing else, whether the files
    share one exporter directory or sit one per exporter directory."""
    import itertools

    from nf2pq_spark.sources.ipfix import encode_netflow_v5, write_capture_file

    cap = tmp_path / "caps"
    for i in range(40):
        d = cap / ("10.0.0.1" if layout == "40_files_one_exporter"
                   else f"10.0.0.{i + 1}")
        os.makedirs(d, exist_ok=True)
        flows = [{"sa_int": (10 << 24) + i, "da_int": 2, "sp": 2 * i + k,
                  "dp": 80, "pr": 6, "flg": 16, "ipkt": 1, "ibyt": 100,
                  "ts_ms": 90_000_000 + i, "te_ms": 90_000_500 + i,
                  "sas": 0, "das": 0} for k in range(2)]
        write_capture_file(str(d / f"cap_{i:02d}.bin"),
                           encode_netflow_v5(flows))

    last, _name = next(_jobs_newest_first(spark), (-1, None))
    out = _drain(spark, tmp_path, cap)
    drain_jobs = list(itertools.takewhile(lambda job: job[0] > last,
                                          _jobs_newest_first(spark)))

    assert len(drain_jobs) == 2, drain_jobs
    sps = [r.sp for r in spark.read.parquet(out).select("sp").collect()]
    assert sorted(sps) == list(range(80))


def test_drain_restarts_after_a_killed_first_offset_write(spark, tmp_path):
    """A collector killed while Spark wrote its first offset-log entry
    leaves the entry's dot-prefixed tmp file (and its ``.crc``) in
    ``<checkpoint>/offsets``, the state a kill -9 in the crash soak left.
    The next drain starts anyway and decodes every flow; once a batch is
    logged, a stray tmp of a later entry is left to Spark."""
    cap = tmp_path / "caps"
    _v5_capture(cap)
    offsets = tmp_path / "ckpt" / "offsets"
    os.makedirs(offsets)
    tmp = ".0.1fa6dc3b-9af8-4cea-b90e-3b4a425c3110.tmp"
    (offsets / tmp).write_text('v1\n{"batchWatermarkMs":0,')
    (offsets / f".{tmp}.crc").write_bytes(b"crc\x00")

    out = _drain(spark, tmp_path, cap)
    sps = [r.sp for r in spark.read.parquet(out).select("sp").collect()]
    assert sorted(sps) == [0, 1, 2, 3]
    assert not (offsets / tmp).exists()

    later = ".1.6a0f5e1c-0d7e-4b5b-9a43-2f1d3c4b5a69.tmp"
    (offsets / later).write_text("v1\n")
    _drain(spark, tmp_path, cap)
    assert (offsets / later).exists()
    assert "0" in os.listdir(offsets)


_CODEGEN_PROBE = r"""
import json
from pyspark.sql import functions as F
from nf2pq_spark.session import get_spark

spark = get_spark("codegen-cache", cpus=2)
compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME())

def plan(i):
    # the literal is inlined into the generated code: every i is a new
    # pair of classes (partial and final aggregate)
    return (spark.range(64).select((F.col("id") * i).alias("v"))
            .groupBy((F.col("v") % 7).alias("k")).agg(F.sum("v")))

plan(0).collect()
before_fill = compiles.getCount()
for i in range(1, 61):
    plan(i).collect()
before_rerun = compiles.getCount()
plan(0).collect()
print(json.dumps({
    "max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
    "fill": before_rerun - before_fill,
    "rerun": compiles.getCount() - before_rerun}))
"""


def test_codegen_cache_keeps_query_classes_across_queries(tmp_path):
    """A session from ``get_spark`` keeps a query's generated classes
    while more than Spark's default 100 other classes are compiled after
    it, so running the query again compiles nothing. The cache is
    JVM-wide and sized when the first session is built, so this runs in
    a fresh process."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", _CODEGEN_PROBE], env=env,
                         cwd=tmp_path, capture_output=True, text=True,
                         timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["max_entries"] == "4096"
    assert got["fill"] > 100  # enough to evict the first plan at 100
    assert got["rerun"] == 0
