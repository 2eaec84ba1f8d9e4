"""End-to-end collector test: UDP datagrams → bridge capture files →
Spark decode — the reference pipeline's full front half, over a real
localhost socket."""

from __future__ import annotations

import socket
import time

import pyspark.sql.functions as F

from nf2pq_spark.sources.ipfix import (encode_ipfix, encode_netflow_v5,
                                       read_flow_files)
from nf2pq_spark.sources.udp_bridge import UdpCaptureBridge


def _flows(n):
    return [
        {"sa_int": 0x0A000001 + i, "da_int": 0xC0A80001,
         "sp": 1000 + i, "dp": 53, "pr": 17, "flg": 0,
         "ipkt": 1 + i, "ibyt": 100 + i, "ts_ms": 1704067200000 + i,
         "te_ms": 1704067201000 + i, "sas": 65001, "das": 65002}
        for i in range(n)
    ]


def test_udp_to_spark_roundtrip(spark, new_dir):
    out = new_dir("bridge_out")
    bridge = UdpCaptureBridge("127.0.0.1", 0, out, rotate_seconds=60).start()
    try:
        sender = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        dgrams = encode_netflow_v5(_flows(90)) + encode_ipfix(_flows(60))
        for d in dgrams:
            sender.sendto(d, bridge.addr)
        deadline = time.time() + 10
        while bridge.datagrams_received < len(dgrams) and time.time() < deadline:
            time.sleep(0.05)
        assert bridge.datagrams_received == len(dgrams)
    finally:
        bridge.stop()

    flows = read_flow_files(spark, f"{out}/*")
    assert flows.count() == 150  # 90 v5 + 60 ipfix records
    by_pr = {r.pr: r.n for r in
             flows.groupBy("pr").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_pr == {17: 150}
    # IPFIX carries full 64-bit ms timestamps; v5 wraps them — check on dp
    assert flows.filter(F.col("dp") == 53).count() == 150


def test_idle_exporter_rotates_under_sustained_traffic(new_dir):
    """An idle exporter's last capture must rotate to a visible file even
    while ANOTHER exporter keeps the socket busy (the 0.2s recv timeout
    never fires under sustained traffic, so rotation must not depend on
    it). Linux delivers any 127.0.0.0/8 source address over loopback, so
    the idle exporter binds 127.0.0.2."""
    import os

    out = new_dir("bridge_busy")
    bridge = UdpCaptureBridge("127.0.0.1", 0, out, rotate_seconds=0.3).start()
    try:
        idle = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        try:
            idle.bind(("127.0.0.2", 0))
        except OSError:  # pragma: no cover - non-Linux loopback semantics
            import pytest

            pytest.skip("cannot bind a second loopback address")
        busy = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        dgram = encode_netflow_v5(_flows(1))[0]
        idle.sendto(dgram, bridge.addr)  # one datagram, then silence
        deadline = time.time() + 1.2
        finalized = False
        while time.time() < deadline:
            busy.sendto(dgram, bridge.addr)  # keep recvfrom returning
            time.sleep(0.02)
            d = os.path.join(out, "127.0.0.2")
            if os.path.isdir(d) and any(
                    not f.startswith(".") for f in os.listdir(d)):
                finalized = True
                break
        assert finalized, "idle exporter's capture stayed a hidden .tmp"
    finally:
        bridge.stop()


def test_bridge_rotation_produces_multiple_files(spark, new_dir):
    import os

    out = new_dir("bridge_rot")
    bridge = UdpCaptureBridge("127.0.0.1", 0, out, rotate_seconds=0.3).start()
    try:
        sender = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        for batch in range(3):
            for d in encode_netflow_v5(_flows(30)):
                sender.sendto(d, bridge.addr)
            time.sleep(0.4)  # force a rotation between batches
        deadline = time.time() + 10
        while bridge.datagrams_received < 3 and time.time() < deadline:
            time.sleep(0.05)
    finally:
        bridge.stop()
    exporter_dir = os.path.join(out, "127.0.0.1")
    files = [f for f in os.listdir(exporter_dir) if not f.startswith(".")]
    assert len(files) >= 2  # rotated at least once
    assert read_flow_files(spark, exporter_dir).count() == 90


def test_flush_error_does_not_abandon_current_exporter(new_dir):
    """An OSError raised while _flush_expired finalizes ANOTHER
    exporter's capture must not abandon the handle of the exporter whose
    datagram is being written — that orphaned a healthy capture as a
    never-committed .tmp (r10 advice). The failed rotation retries on a
    later datagram instead."""
    import os

    out = new_dir("bridge_flusherr")
    bridge = UdpCaptureBridge("127.0.0.1", 0, out, rotate_seconds=0.5).start()
    orig_finalize = bridge._finalize
    fails = []

    def flaky(exporter_ip):
        if exporter_ip == "127.0.0.2" and not fails:
            fails.append(exporter_ip)
            raise OSError("disk full during rotation")
        return orig_finalize(exporter_ip)

    try:
        idle = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        idle.bind(("127.0.0.2", 0))
        busy = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        dgrams = encode_netflow_v5(_flows(60), per_packet=3)

        idle.sendto(dgrams[0], bridge.addr)   # opens 127.0.0.2's capture
        deadline = time.time() + 10
        while bridge.datagrams_received < 1 and time.time() < deadline:
            time.sleep(0.05)
        bridge._finalize = flaky              # patch BEFORE rotation is due
        for d in dgrams[1:]:                  # sustained traffic: rotation
            busy.sendto(d, bridge.addr)       # fires on the datagram path,
            time.sleep(0.05)                  # hits the flaky finalize,
                                              # then retries
        deadline = time.time() + 10
        while bridge.datagrams_received < len(dgrams) and \
                time.time() < deadline:
            time.sleep(0.05)
        # every datagram was written — none dropped by the flush failure
        assert bridge.datagrams_received == len(dgrams)
        assert bridge.write_errors == 1 and fails == ["127.0.0.2"]
    finally:
        bridge.stop()

    # both exporters' captures committed (no abandoned .tmp anywhere)
    for exporter in ("127.0.0.1", "127.0.0.2"):
        names = os.listdir(os.path.join(out, exporter))
        assert any(n.startswith("cap_") for n in names), (exporter, names)
        assert not any(n.endswith(".tmp") for n in names), (exporter, names)


def test_rename_failure_retries_same_capture(monkeypatch, new_dir):
    """A transient rotation failure (rename raising) must NOT orphan the
    exporter's .tmp: _finalize keeps the entry until the rename SUCCEEDS,
    so a later scan retries committing the SAME capture and none of its
    buffered datagrams are lost (r11 advice — the old pop-first ordering
    dropped them permanently)."""
    import os as _os

    from nf2pq_spark.sources import udp_bridge as ub

    out = new_dir("bridge_renamefail")
    bridge = UdpCaptureBridge("127.0.0.1", 0, out, rotate_seconds=0.3).start()
    real_rename = _os.rename
    fails = []

    def flaky_rename(src, dst):
        if src.endswith(".tmp") and not fails:
            fails.append(src)
            raise OSError("transient fs error during rotation")
        return real_rename(src, dst)

    monkeypatch.setattr(ub.os, "rename", flaky_rename)
    try:
        sender = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        dgrams = encode_netflow_v5(_flows(30), per_packet=3)
        for d in dgrams:
            sender.sendto(d, bridge.addr)
        deadline = time.time() + 10
        while bridge.datagrams_received < len(dgrams) and \
                time.time() < deadline:
            time.sleep(0.05)
        assert bridge.datagrams_received == len(dgrams)
        # wait past the rotation deadline so the recv-timeout scan hits
        # the flaky rename, then the NEXT scan retries and commits
        deadline = time.time() + 10
        while (not fails or not any(
                n.startswith("cap_") for n in
                _os.listdir(_os.path.join(out, "127.0.0.1")))) \
                and time.time() < deadline:
            time.sleep(0.1)
    finally:
        bridge.stop()
    assert fails, "the flaky rename was never exercised"
    assert bridge.write_errors >= 1
    names = _os.listdir(_os.path.join(out, "127.0.0.1"))
    # the capture whose rename failed was committed on retry — no .tmp
    # left behind, and EVERY buffered datagram survives the round-trip
    assert not any(n.endswith(".tmp") for n in names), names
    total = 0
    for n in names:
        with open(_os.path.join(out, "127.0.0.1", n), "rb") as fh:
            data = fh.read()
        p = 4  # magic
        while p + 4 <= len(data):
            ln = int.from_bytes(data[p:p + 4], "big")
            p += 4 + ln
            total += 1
    assert total == len(dgrams)


def test_sink_for_never_returns_closed_handle(tmp_path, monkeypatch):
    """Review r12: after a write-error-path finalize attempt fails its
    rename, the retained entry holds a CLOSED fh with a recent opened
    time. _sink_for must treat that entry as due-for-finalize — handing
    the closed handle back made the next fh.write raise ValueError,
    which the loop's OSError catch missed, silently killing the receiver
    thread (the exact r10 failure mode the catch exists to prevent)."""
    import os as _os

    from nf2pq_spark.sources import udp_bridge as ub

    bridge = UdpCaptureBridge("127.0.0.1", 0, str(tmp_path),
                              rotate_seconds=60.0)
    fh = bridge._sink_for("10.0.0.9", now=100.0)
    fh.write(b"\x00\x00\x00\x01x")  # one buffered frame
    real_rename = _os.rename

    def boom(src, dst):
        raise OSError("transient fs error")

    monkeypatch.setattr(ub.os, "rename", boom)
    try:
        bridge._finalize("10.0.0.9")  # close succeeds, rename fails
    except OSError:
        pass
    entry = bridge._files["10.0.0.9"]
    assert entry[0].closed  # the poisoned state: closed fh, kept entry

    monkeypatch.setattr(ub.os, "rename", real_rename)
    # next datagram arrives WITHIN the rotate window: must not get the
    # closed handle back; the pending capture commits, a fresh one opens
    fh2 = bridge._sink_for("10.0.0.9", now=101.0)
    assert fh2 is not None and not fh2.closed and fh2 is not fh
    fh2.write(b"\x00\x00\x00\x01y")
    bridge._files["10.0.0.9"][0].close()
    names = sorted(_os.listdir(tmp_path / "10.0.0.9"))
    committed = [n for n in names if n.startswith("cap_")]
    assert len(committed) == 1  # the failed capture committed on retry
