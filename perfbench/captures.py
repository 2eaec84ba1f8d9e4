"""Seeded NetFlow v5 / v9 / IPFIX traffic for the ingest workload, and the
check of what the collector wrote.

The encoders here are the benchmark's own (vectorized numpy, written from
RFC 3954 / RFC 7011 and the Cisco v5 layout), so the generator costs little
set-up time and does not lean on the package's fixture encoders. Files are
written with ``sources.ipfix.write_capture_file``, the framing the UDP
bridge writes, one directory per exporter IP.

The traffic model (exporter mix, records per datagram, template refresh
interval, protocol and port mix, flow size ranges) is an assumption made
to size the workload, not a measured or published mix; perfbench/README.md
lists each parameter and the decode branches this traffic never reaches.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd

#: fixed exporter mix (assumed): decode cost differs by version, so the
#: seed picks addresses and traffic but never the share of each version
VERSIONS = (5, 5, 9, 9, 10, 10)
#: v5's maximum per datagram; the same count for v9/IPFIX is assumed
PER_PACKET = 30
#: in-band template refresh (RFC 7011 §8 sets no interval; assumed): every
#: tenth message, and the first message of every capture file
TEMPLATE_EVERY = 10
#: 2024-01-01T00:00:00Z
BASE_MS = 1_704_067_200_000
#: exporter clock for v5/v9: sysUptime ~23 days, so uptime-relative
#: timestamps of the whole capture window stay far from the 32-bit wrap
SYS_UPTIME_MS = 2_000_000_000

FLOW_COLUMNS = ["ts_ms", "te_ms", "sa", "da", "sp", "dp", "pr", "flg",
                "ipkt", "ibyt", "sas", "das", "exporter"]

_V5 = np.dtype([("sa", ">u4"), ("da", ">u4"), ("nexthop", ">u4"),
                ("input", ">u2"), ("output", ">u2"), ("pkts", ">u4"),
                ("octets", ">u4"), ("first", ">u4"), ("last", ">u4"),
                ("sp", ">u2"), ("dp", ">u2"), ("pad1", "u1"), ("flg", "u1"),
                ("pr", "u1"), ("tos", "u1"), ("sas", ">u2"), ("das", ">u2"),
                ("smask", "u1"), ("dmask", "u1"), ("pad2", ">u2")])
# v9 and IPFIX data records: IE ids with their on-wire dtypes
_V9_FIELDS = [(8, "sa", ">u4"), (12, "da", ">u4"), (7, "sp", ">u2"),
              (11, "dp", ">u2"), (4, "pr", "u1"), (6, "flg", "u1"),
              (2, "pkts", ">u4"), (1, "octets", ">u4"),
              (22, "first", ">u4"), (21, "last", ">u4"),
              (16, "sas", ">u2"), (17, "das", ">u2")]
_IPFIX_FIELDS = [(8, "sa", ">u4"), (12, "da", ">u4"), (7, "sp", ">u2"),
                 (11, "dp", ">u2"), (4, "pr", "u1"), (6, "flg", "u1"),
                 (2, "pkts", ">u4"), (1, "octets", ">u4"),
                 (152, "start", ">u8"), (153, "end", ">u8"),
                 (16, "sas", ">u4"), (17, "das", ">u4")]
_V9_TID, _IPFIX_TID = 260, 270

_OCTET = np.array([str(i) for i in range(256)], dtype=object)
_OCTET_DOT = np.array([str(i) + "." for i in range(256)], dtype=object)


def _dotted(u4: np.ndarray) -> np.ndarray:
    return (_OCTET_DOT[(u4 >> 24) & 255] + _OCTET_DOT[(u4 >> 16) & 255]
            + _OCTET_DOT[(u4 >> 8) & 255] + _OCTET[u4 & 255])


@dataclass
class Exporter:
    ip: str
    version: int
    rng: np.random.Generator
    seq: int = 0


def exporters(seed: int) -> list[Exporter]:
    rng = np.random.default_rng([seed, 1])
    hosts = rng.choice(np.arange(2, 250), size=len(VERSIONS), replace=False)
    order = rng.permutation(len(VERSIONS))
    return [Exporter(f"192.0.2.{int(h)}", VERSIONS[i],
                     np.random.default_rng([seed, 2, k]))
            for k, (h, i) in enumerate(zip(hosts, order))]


def flows(rng: np.random.Generator, n: int, t0_ms: int,
          window_ms: int) -> dict[str, np.ndarray]:
    """n seeded flow records starting in [t0, t0 + window); the protocol,
    port and size distributions are assumed."""
    pr = rng.choice(np.array([6, 17, 1], dtype=np.uint8), size=n,
                    p=[0.6, 0.3, 0.1])
    tcp, icmp = pr == 6, pr == 1
    ports = np.array([53, 80, 123, 443, 22, 25, 8080, 3389], dtype=np.uint16)
    dp = np.where(rng.random(n) < 0.7, rng.choice(ports, size=n),
                  rng.integers(1, 65536, size=n)).astype(np.uint16)
    sp = rng.integers(1024, 65536, size=n).astype(np.uint16)
    sp[icmp] = 0
    dp[icmp] = 2048  # echo request: type 8, code 0
    ipkt = rng.integers(1, 2000, size=n).astype(np.uint32)
    ts = t0_ms + rng.integers(0, window_ms, size=n).astype(np.int64)
    return {
        "sa": (0x0A000000 | rng.integers(0, 1 << 24, size=n)).astype(np.uint32),
        "da": rng.integers(0x01000000, 0xDF000000, size=n).astype(np.uint32),
        "sp": sp, "dp": dp, "pr": pr,
        "flg": np.where(tcp, rng.integers(1, 64, size=n), 0).astype(np.uint8),
        "pkts": ipkt,
        "octets": ipkt * rng.integers(40, 1500, size=n).astype(np.uint32),
        "ts": ts, "te": ts + rng.integers(0, 120_000, size=n),
        "sas": rng.integers(0, 65536, size=n).astype(np.uint16),
        "das": rng.integers(0, 65536, size=n).astype(np.uint16),
    }


def _record_array(f: dict, fields, boot_ms: int) -> np.ndarray:
    rec = np.zeros(len(f["sa"]), dtype=[(n, t) for _ie, n, t in fields])
    for _ie, name, _t in fields:
        if name == "first":
            rec[name] = f["ts"] - boot_ms
        elif name == "last":
            rec[name] = f["te"] - boot_ms
        elif name == "start":
            rec[name] = f["ts"]
        elif name == "end":
            rec[name] = f["te"]
        else:
            rec[name] = f[name]
    return rec


def _template_body(tid: int, fields) -> bytes:
    body = struct.pack(">HH", tid, len(fields))
    for ie, _n, t in fields:
        body += struct.pack(">HH", ie, np.dtype(t).itemsize)
    return body


def encode(exp: Exporter, f: dict, export_s: int) -> list[bytes]:
    """One capture file's datagrams for one exporter."""
    n = len(f["sa"])
    boot_ms = export_s * 1000 - SYS_UPTIME_MS
    out = []
    if exp.version == 5:
        rec = np.zeros(n, dtype=_V5)
        for k in ("sa", "da", "pkts", "octets", "sp", "dp", "flg", "pr",
                  "sas", "das"):
            rec[k] = f[k]
        rec["first"] = f["ts"] - boot_ms
        rec["last"] = f["te"] - boot_ms
        raw = rec.tobytes()
        for i in range(0, n, PER_PACKET):
            k = min(PER_PACKET, n - i)
            out.append(struct.pack(">HHIIIIBBH", 5, k, SYS_UPTIME_MS,
                                   export_s, 0, exp.seq, 0, 0, 0)
                       + raw[i * 48:(i + k) * 48])
            exp.seq += k
        return out
    fields = _V9_FIELDS if exp.version == 9 else _IPFIX_FIELDS
    tid = _V9_TID if exp.version == 9 else _IPFIX_TID
    rec = _record_array(f, fields, boot_ms)
    width = rec.dtype.itemsize
    raw = rec.tobytes()
    tmpl = _template_body(tid, fields)
    for msg_i, i in enumerate(range(0, n, PER_PACKET)):
        k = min(PER_PACKET, n - i)
        data = struct.pack(">HH", tid, 4 + k * width) + raw[i * width:(i + k) * width]
        with_tmpl = msg_i % TEMPLATE_EVERY == 0
        if exp.version == 9:
            body = (struct.pack(">HH", 0, 4 + len(tmpl)) + tmpl
                    if with_tmpl else b"") + data
            out.append(struct.pack(">HHIIII", 9, k + with_tmpl,
                                   SYS_UPTIME_MS, export_s, exp.seq, 1) + body)
            exp.seq += 1
        else:
            body = (struct.pack(">HH", 2, 4 + len(tmpl)) + tmpl
                    if with_tmpl else b"") + data
            out.append(struct.pack(">HHIII", 10, 16 + len(body), export_s,
                                   exp.seq, 1) + body)
            exp.seq += k
    return out


def expected_frame(exp: Exporter, f: dict) -> pd.DataFrame:
    """What the collector must write for these records."""
    return pd.DataFrame({
        "ts_ms": f["ts"], "te_ms": f["te"], "sa": _dotted(f["sa"]),
        "da": _dotted(f["da"]), "sp": f["sp"].astype(np.int64),
        "dp": f["dp"].astype(np.int64), "pr": f["pr"].astype(np.int64),
        "flg": f["flg"].astype(np.int64), "ipkt": f["pkts"].astype(np.int64),
        "ibyt": f["octets"].astype(np.int64),
        "sas": f["sas"].astype(np.int64), "das": f["das"].astype(np.int64),
        "exporter": exp.ip,
    })


def write_rotation(capture_dir: str, exps: list[Exporter], name: str,
                   n_flows: int, t0_ms: int, window_ms: int) -> pd.DataFrame:
    """One rotation: a capture file per exporter holding its share of
    ``n_flows`` records from [t0, t0 + window). Returns the expected rows."""
    from nf2pq_spark.sources.ipfix import write_capture_file

    export_s = (t0_ms + window_ms + 300_000) // 1000
    frames = []
    for i, exp in enumerate(exps):
        share = n_flows // len(exps) + (i < n_flows % len(exps))
        f = flows(exp.rng, share, t0_ms, window_ms)
        d = os.path.join(capture_dir, exp.ip)
        os.makedirs(d, exist_ok=True)
        write_capture_file(os.path.join(d, f"cap_{name}.bin"),
                           encode(exp, f, export_s))
        frames.append(expected_frame(exp, f))
    return pd.concat(frames, ignore_index=True)


# --------------------------------------------------------------------------
# checking the collector's output
# --------------------------------------------------------------------------


def read_output(path: str) -> pd.DataFrame:
    """Flow columns of every Parquet file under ``path`` (hive layout)."""
    import pyarrow.dataset as ds

    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=FLOW_COLUMNS)
    df = table.to_pandas()
    # the exporter column is the capture directory; its leaf is the IP
    leaf = {e: e.rstrip("/").rsplit("/", 1)[-1] for e in df["exporter"].unique()}
    df["exporter"] = df["exporter"].map(leaf)
    return df


def _row_keys(df: pd.DataFrame) -> np.ndarray:
    canon = df[FLOW_COLUMNS].copy()
    for c in FLOW_COLUMNS:
        if c not in ("sa", "da", "exporter"):
            canon[c] = canon[c].astype(np.int64)
    return pd.util.hash_pandas_object(canon, index=False).to_numpy()


def totals(df: pd.DataFrame) -> dict:
    g = df.groupby("pr").agg(n=("pr", "size"), pkts=("ipkt", "sum"),
                             byts=("ibyt", "sum"))
    return {"rows": len(df),
            "by_protocol": {int(k): tuple(int(x) for x in v)
                            for k, v in g.iterrows()}}


def expected_keys(expected: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """The expected rows as a multiset (distinct row hashes, counts)."""
    return np.unique(_row_keys(expected), return_counts=True)


def failed_flows(expected: pd.DataFrame, actual: pd.DataFrame,
                 keys: tuple[np.ndarray, np.ndarray] | None = None) -> int:
    """Flows lost, duplicated or wrong: the multiset distance between the
    expected and the written rows (a wrong row is one lost plus one extra,
    counted once). ``keys`` is ``expected_keys(expected)``, if at hand."""
    e_keys, e_n = keys if keys is not None else expected_keys(expected)
    a_keys, a_n = (np.unique(_row_keys(actual), return_counts=True)
                   if len(actual) else (np.array([], np.uint64),
                                        np.array([], np.int64)))
    _, ei, ai = np.intersect1d(e_keys, a_keys, assume_unique=True,
                               return_indices=True)
    matched = int(np.minimum(e_n[ei], a_n[ai]).sum())
    return max(len(expected) - matched, len(actual) - matched)
