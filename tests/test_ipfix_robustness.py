"""Adversarial wire-format inputs: crafted datagrams that previously hung
an executor forever (0-field templates, 0-length set headers), crashed the
task outside the packet-drop catch (0-itemsize dtype, 16-byte non-v6 IEs),
or silently mis-decoded (mid-message template layout changes, absolute v9
timestamps). Collector invariant under test: drop the PACKET, never the
pipeline — and when the vectorized path can't honor in-order semantics,
fall back to the scalar reference rather than guess.

All crafted at the byte level against the RFC 7011 / RFC 3954 layouts, no
Spark session needed except where noted.
"""

from __future__ import annotations

import struct

import pandas as pd
import pytest

from nf2pq_spark.sources.ipfix import (FLOW_SCHEMA, _decode_in_order,
                                       _decode_templated_vec,
                                       _iter_template_sets, _VecAccumulator)

_COLS = [f.name for f in FLOW_SCHEMA.fields]


def _ipfix_msg(*sets: bytes) -> bytes:
    body = b"".join(sets)
    return struct.pack(">HHIII", 10, 16 + len(body), 0, 0, 1) + body


def _tset(tid: int, fields: list[tuple[int, int]]) -> bytes:
    rec = struct.pack(">HH", tid, len(fields)) + b"".join(
        struct.pack(">HH", ie, ln) for ie, ln in fields)
    return struct.pack(">HH", 2, 4 + len(rec)) + rec


def _dset(tid: int, payload: bytes) -> bytes:
    return struct.pack(">HH", tid, 4 + len(payload)) + payload


def _vec_rows(msg: bytes, templates: dict | None = None,
              boots: dict | None = None) -> pd.DataFrame:
    templates = {} if templates is None else templates
    acc = _VecAccumulator()
    frames = _decode_templated_vec(msg, "e1", templates, acc, boots)
    frames.extend(acc.frames())
    frames = [f for f in frames if len(f)]
    if not frames:
        return pd.DataFrame(columns=_COLS)
    return pd.concat(frames, ignore_index=True)


_AB = [(8, 4), (12, 4)]  # src/dst v4 as u32


def test_zero_field_template_is_withdrawal_not_hang():
    """RFC 7011 §8.1: field count 0 withdraws the template. Previously an
    empty template yielded a 0-itemsize dtype (ZeroDivisionError outside
    the packet-drop catch) on the vectorized path and an infinite
    0-byte-step record loop on the scalar paths."""
    announce = _ipfix_msg(_tset(256, _AB),
                          _dset(256, struct.pack(">II", 1, 2)))
    withdraw = _ipfix_msg(_tset(256, []),
                          _dset(256, struct.pack(">II", 3, 4)))
    # scalar
    tmpl: dict = {}
    assert len(_decode_in_order(announce, "e1", tmpl)) == 1
    assert _decode_in_order(withdraw, "e1", tmpl) == []
    assert ("e1", 256) not in tmpl
    # vectorized
    tmpl2: dict = {}
    assert len(_vec_rows(announce, tmpl2)) == 1
    assert len(_vec_rows(withdraw, tmpl2)) == 0
    assert ("e1", 256) not in tmpl2


def test_zero_length_set_header_terminates_scalar():
    """A set header with set_len=0 (zero padding parsed as a set) must
    stop the walk, not spin forever — the v9 scalar and every vectorized
    loop had this guard; the IPFIX scalar (the exotic-width fallback
    target) did not."""
    msg = _ipfix_msg(struct.pack(">HH", 2, 0))
    assert _decode_in_order(msg, "e1", {}) == []


def test_mid_message_template_change_decodes_in_order():
    """[tmpl A][data-per-A][tmpl B][data-per-B]: the vectorized pre-scan
    harvests templates first, which would apply layout B retroactively to
    the A-encoded set (mis-framed records). Detected as an in-message
    conflict -> whole-message scalar fallback, which walks in order."""
    layout_b = [(8, 4)]
    msg = _ipfix_msg(
        _tset(256, _AB), _dset(256, struct.pack(">IIII", 1, 2, 3, 4)),
        _tset(256, layout_b), _dset(256, struct.pack(">II", 9, 10)),
    )
    scalar = _decode_in_order(msg, "e1", {})
    assert len(scalar) == 4  # 2 A-records + 2 B-records
    vec = _vec_rows(msg)
    assert len(vec) == 4
    assert sorted(vec["sa"]) == sorted(r[2] for r in scalar)
    # and the cache ends on layout B either way
    t: dict = {}
    _decode_in_order(msg, "e1", t)
    assert t[("e1", 256)] == layout_b


def test_truncated_datagram_never_fails_template_harvest():
    """The phase-1 harvest must drop garbled packets like the decode side
    does (previously only v5-looking garbage was survivable)."""
    for bad in (b"\x00\x0a\x00", b"\x00\x09" + b"\xff" * 6, b"\x00"):
        try:
            list(_iter_template_sets(bad))
        except (struct.error, IndexError, ValueError, KeyError):
            pass  # acceptable: the harvest wraps per-datagram
        # the wrapped harvest path itself:
    from nf2pq_spark.sources.ipfix import _extract_templates_pandas

    pdf = pd.DataFrame({
        "path": ["/caps/e1/a.bin", "/caps/e1/b.bin"],
        "content": [b"\x00\x0a\x00",
                    _ipfix_msg(_tset(256, _AB))],
    })
    out = pd.concat(list(_extract_templates_pandas(iter([pdf]))))
    assert list(out["tid"]) == [256]  # garbage dropped, good one harvested


def test_sixteen_byte_non_v6_ie_routes_to_scalar():
    """A 16-byte field for a non-address IE can't be rendered by the
    vectorized column pass (V16 -> int64 cast crashes in frames(), which
    runs OUTSIDE the packet-drop catch) — the dtype builder must send the
    template to the scalar path, which decodes it as a big-endian int."""
    from nf2pq_spark.sources.ipfix import _np_dtype_for

    assert _np_dtype_for([(1, 16), (8, 4)]) is None  # 16-byte octet count
    assert _np_dtype_for([(27, 16), (28, 16)]) is not None  # v6 addresses
    weird = _ipfix_msg(_tset(256, [(1, 16), (8, 4)]),
                       _dset(256, b"\x00" * 15 + b"\x2a" + struct.pack(">I", 7)))
    rows = _vec_rows(weird)
    assert len(rows) == 1 and rows["ibyt"][0] == 42  # scalar fallback value


def test_v9_scalar_decodes_ipv6_address_ies():
    """The v9 scalar fallback must render IPv6 IEs 27/28 exactly like
    IPFIX and the vectorized path — a v9 IPv6 template that hits
    the scalar decoder (in-message conflict, exotic widths) previously
    emitted '0.0.0.0' for sa/da (path-dependent output, r4 advice)."""
    fields = [(27, 16), (28, 16), (2, 4)]
    tset = struct.pack(">HH", 0, 4 + 4 + 4 * len(fields)) + \
        struct.pack(">HH", 256, len(fields)) + \
        b"".join(struct.pack(">HH", ie, ln) for ie, ln in fields)
    sa6 = bytes.fromhex("20010db8000000000000000000000001")
    da6 = bytes.fromhex("20010db8000000000000000000000002")
    data = sa6 + da6 + struct.pack(">I", 7)
    dset = struct.pack(">HH", 256, 4 + len(data)) + data
    hdr = struct.pack(">HHIIII", 9, 2, 50_000, 1_800_000_000, 0, 0)
    msg = hdr + tset + dset
    scalar = _decode_in_order(msg, "e1", {})
    assert len(scalar) == 1
    assert scalar[0][2] == "2001:db8::1" and scalar[0][3] == "2001:db8::2"
    vec = _vec_rows(msg)
    assert len(vec) == 1
    assert (vec["sa"][0], vec["da"][0]) == (scalar[0][2], scalar[0][3])


def test_short_v6_ie_does_not_crash_frames():
    """IE 27 declared at a non-16 width is a plain numeric, not a v6
    address — bytes(np.uint32) + IPv6Address() crashed the whole batch
    before the width guard."""
    msg = _ipfix_msg(_tset(256, [(27, 4), (8, 4)]),
                     _dset(256, struct.pack(">II", 5, (1 << 24) + 2)))
    rows = _vec_rows(msg)
    assert len(rows) == 1
    assert rows["sa"][0] == "1.0.0.2"  # falls back to the v4 IE
    # the scalar reference must agree — `vals.get(27) or ...` leaked the
    # raw int 5 into the sa string column here before the isinstance
    # guard (path-dependent schema corruption, caught in r5 self-review)
    scalar = _decode_in_order(msg, "e1", {})
    assert len(scalar) == 1 and scalar[0][2] == "1.0.0.2"


def test_v9_absolute_timestamp_ies_preferred():
    """Exporters may export flowStart/EndMilliseconds (152/153) instead of
    sysUptime-relative 22/21; the scalar reference prefers the absolute
    IEs and the vectorized path must agree (it silently used boot_ms+0
    before)."""
    fields = [(152, 8), (153, 8), (8, 4), (12, 4)]
    tset = struct.pack(">HH", 0, 4 + 4 + 4 * len(fields)) + \
        struct.pack(">HH", 256, len(fields)) + \
        b"".join(struct.pack(">HH", ie, ln) for ie, ln in fields)
    data = struct.pack(">QQII", 1_700_000_000_123, 1_700_000_001_456, 1, 2)
    dset = struct.pack(">HH", 256, 4 + len(data)) + data
    hdr = struct.pack(">HHIIII", 9, 2, 50_000, 1_800_000_000, 0, 0)
    msg = hdr + tset + dset
    scalar = _decode_in_order(msg, "e1", {})
    assert scalar[0][0] == 1_700_000_000_123
    vec = _vec_rows(msg)
    assert len(vec) == 1
    assert int(vec["ts_ms"][0]) == 1_700_000_000_123
    assert int(vec["te_ms"][0]) == 1_700_000_001_456


def test_zero_width_options_template_does_not_hang():
    """Options-path twin of the zero-stride flow-template hang: a crafted
    options template whose every field is zero-width (and none varlen)
    caches a layout with min_len == 0, and the record loop in
    _decode_ipfix_options never advanced p — one datagram hung the
    executor forever while appending rows (found by extending the r4
    hostile-input lens to the options surface)."""
    from nf2pq_spark.sources.ipfix import (_decode_ipfix_options,
                                           _parse_options_templates)

    tid = 500
    fields = [(149, 0), (34, 0)]
    body = struct.pack(">HHH", tid, len(fields), 1) + b"".join(
        struct.pack(">HH", ie, ln) for ie, ln in fields)
    tmpl_set = struct.pack(">HH", 3, 4 + len(body)) + body
    dset = struct.pack(">HH", tid, 4 + 8) + b"\x00" * 8
    payload = tmpl_set + dset
    msg = struct.pack(">HHIII", 10, 16 + len(payload), 0, 0, 1) + payload

    cache: dict = {}
    _parse_options_templates(msg, "e1", cache)
    assert cache[("e1", tid)] == fields  # layout harvested verbatim
    assert _decode_ipfix_options(msg, "e1", cache) == []  # returns, no rows


def test_decode_surface_survives_fuzzed_bytes():
    """Property generalization of every crafted case in this file: for
    ANY byte content — raw garbage, capture-framed garbage, or byte-level
    mutations (bit flips, truncation, splices) of VALID v5/v9/IPFIX flow
    and options traffic — the template harvest, the flow decode body, and
    the options decode body must RETURN, yielding schema-correct frames.
    A datagram may be dropped; the pipeline never raises or hangs."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nf2pq_spark.sources import ipfix as ix

    flows = [dict(sa_int=0x0A000001 + i, da_int=0x0A000002, sp=1000 + i,
                  dp=53, pr=17, flg=0x10, ipkt=3 + i, ibyt=300 + i,
                  ts_ms=1_700_000_000_000 + i, te_ms=1_700_000_000_500 + i,
                  sas=64500, das=64501,
                  sa6=bytes(range(16)), da6=bytes(range(15, -1, -1)))
             for i in range(4)]
    opts = [{1: 7, 149: 7, 34: 1000, 35: 1, 84: "smp"}]
    opts160 = [{1: 7, 149: 7, 34: 1000, 35: 1, 84: "smp",
                160: 1_700_000_000_000}]
    valid = (ix.encode_netflow_v5(flows, per_packet=2)
             + ix.encode_ipfix(flows, per_packet=2, template_every=1)
             + ix.encode_netflow_v9(flows, per_packet=2, template_every=1)
             + ix.encode_ipfix(flows, per_packet=4,
                               template_fields=[(27, 16), (28, 16), (1, 4)])
             # v10 relative-timestamp template + IE 160 boot options:
             # mutations of these fuzz the era-clock decode and the
             # phase-1 boot harvest
             + ix.encode_ipfix(flows, per_packet=2, template_every=1,
                               template_fields=ix._V9_TEMPLATE_FIELDS,
                               template_id=310,
                               export_time=1_700_000_600, odid=7)
             + [ix.encode_ipfix_options(opts),
                ix.encode_netflow_v9_options(opts),
                ix.encode_ipfix_options(opts160,
                                        extra_option_fields=[(160, 8)],
                                        export_time=1_700_000_600, odid=7)])
    flow_cols = [f.name for f in ix.FLOW_SCHEMA.fields]
    opt_cols = [f.name for f in ix.OPTIONS_SCHEMA.fields]

    def mutate(base: bytes, flips, cut: int) -> bytes:
        ba = bytearray(base)
        for pos, val in flips:
            ba[pos % len(ba)] ^= val
        return bytes(ba[: (cut % (len(ba) + 1)) or len(ba)])

    mutated = st.builds(
        mutate, st.sampled_from(valid),
        st.lists(st.tuples(st.integers(0, 1 << 16), st.integers(1, 255)),
                 max_size=8),
        st.integers(0, 1 << 16))
    pieces = st.lists(st.one_of(mutated, st.binary(max_size=120)),
                      min_size=1, max_size=3)
    content = st.one_of(
        st.binary(max_size=200),                       # raw garbage
        mutated,                                       # one mutated datagram
        pieces.map(lambda ds: ix._CAPTURE_MAGIC + b"".join(
            struct.pack(">I", len(d)) + d for d in ds)),  # capture-framed
        pieces.map(b"".join))                          # spliced datagrams

    @given(content=content)
    @settings(max_examples=200, deadline=None)
    def run(content: bytes) -> None:
        pdf = pd.DataFrame({"path": ["fz/10.0.0.9_0.bin"],
                            "content": [content]})
        for tf in ix._extract_templates_pandas(iter([pdf.copy()])):
            assert list(tf.columns) == [f.name for f in
                                        ix._TEMPLATE_SCHEMA.fields]
        for ff in ix.make_decoder()(iter([pdf.copy()])):
            assert list(ff.columns) == flow_cols
        # boot-seeded decoder: the era-clock rel_abs path under fuzz
        booted = ix.make_decoder(None, {("fz", 7): 1_700_000_000_000})
        for ff in booted(iter([pdf.copy()])):
            assert list(ff.columns) == flow_cols
        for of in ix._options_pandas(iter([pdf.copy()])):
            assert list(of.columns) == opt_cols

    run()


# -- scalar/vectorized differential (r5): the paths must agree on EVERY
# -- message, not just well-formed fixture traffic -----------------------


def _v9_msg(*sets: bytes) -> bytes:
    return struct.pack(">HHIIII", 9, 0, 100_000, 100, 0, 1) + b"".join(sets)


def _v9_tset(tid: int, fields: list[tuple[int, int]]) -> bytes:
    rec = struct.pack(">HH", tid, len(fields)) + b"".join(
        struct.pack(">HH", ie, ln) for ie, ln in fields)
    return struct.pack(">HH", 0, 4 + len(rec)) + rec


def _both(msg: bytes, pre: dict | None = None):
    """(sorted scalar rows, sorted vectorized rows, caches-equal) for one
    message decoded by both paths from the same starting cache."""
    t1, t2 = dict(pre or {}), dict(pre or {})
    rows = sorted(tuple(r) for r in _decode_in_order(msg, "e1", t1))
    got = sorted(tuple(r) for r in
                 _vec_rows(msg, t2).itertuples(index=False))
    return rows, got, t1 == t2


def test_duplicate_ie_first_occurrence_wins_on_both_paths():
    """A template may carry the same IE twice (RFC 7011 allows repeats);
    the scalar decoders were last-occurrence-wins while the vectorized
    frames() is first-wins — the same record decoded differently per
    path. Both are first-wins now."""
    payload = struct.pack(">HH", 111, 222)
    m10 = _ipfix_msg(_tset(300, [(7, 2), (7, 2)]), _dset(300, payload))
    rows, got, teq = _both(m10)
    assert rows == got and teq
    assert rows[0][4] == 111  # sp = FIRST occurrence
    m9 = _v9_msg(_v9_tset(300, [(7, 2), (7, 2)]),
                 struct.pack(">HH", 300, 4 + len(payload)) + payload)
    rows, got, teq = _both(m9)
    assert rows == got and teq
    assert rows[0][4] == 111


def test_oversized_widths_fold_into_schema_range():
    """Values wider than the output column must WRAP exactly like the
    vectorized astype chain (int64/int32 two's complement) — the scalar
    kept unbounded Python ints, so an 8-byte counter with the top bit
    set diverged from the vectorized decode, and a 16-byte IE mapped to
    an output column (e.g. IE 152 declared at width 16) produced a
    2^128-scale int that overflows the Arrow long conversion and killed
    the task on one crafted record."""
    import pyarrow as pa

    cases = [
        ([(1, 8)], struct.pack(">Q", 0xFFFFFFFFFFFFFFF0), 9, -16),
        ([(152, 16)], b"\xff" * 16, 0, -1),
        ([(7, 4)], struct.pack(">I", 0x80000001), 4, -2147483647),
    ]
    for fields, payload, pos, expect in cases:
        m = _ipfix_msg(_tset(300, fields), _dset(300, payload))
        rows, got, teq = _both(m)
        assert rows == got and teq
        assert rows[0][pos] == expect
        # the scalar-fallback frame must survive the Arrow conversion the
        # mapInPandas sink performs against FLOW_SCHEMA
        df = pd.DataFrame(rows, columns=_COLS)
        pa.Table.from_pandas(df, schema=pa.schema([
            ("ts_ms", pa.int64()), ("te_ms", pa.int64()),
            ("sa", pa.string()), ("da", pa.string()),
            ("sp", pa.int32()), ("dp", pa.int32()),
            ("pr", pa.int32()), ("flg", pa.int32()),
            ("ipkt", pa.int64()), ("ibyt", pa.int64()),
            ("sas", pa.int32()), ("das", pa.int32()),
            ("exporter", pa.string()),
        ]), preserve_index=False)


def test_varlen_numeric_option_takes_default_not_valueerror():
    """A numeric option IE declared VARLEN decodes to a string;
    int('abc') on one crafted record previously killed the whole options
    read. Unusable values take the column default."""
    from nf2pq_spark.sources.ipfix import (_decode_ipfix_options,
                                           _IE_SAMPLING_INTERVAL, _VARLEN)

    cache = {("e1", 400): [(_IE_SAMPLING_INTERVAL, _VARLEN)]}
    rec = bytes([3]) + b"abc"
    m = _ipfix_msg(struct.pack(">HH", 400, 4 + len(rec)) + rec)
    assert _decode_ipfix_options(m, "e1", cache) == [("e1", 0, 1, 0, "")]


def test_data_set_template_view_is_position_sensitive():
    """The vectorized pre-scan applies the END-of-message template view;
    when that differs from the view at a data set's position it must
    take the in-order scalar walk: a data set BEFORE its announcement
    (RFC 7011 §8 violation — the scalar rightly drops it) was decoded
    retroactively, and a data set BEFORE a withdrawal was dropped
    retroactively."""
    pre = {("e1", 300): [(7, 2), (11, 2)]}
    rec = struct.pack(">HH", 7, 8)
    # data before announcement, cold cache: both drop
    m = _ipfix_msg(_dset(300, rec), _tset(300, [(7, 2), (11, 2)]))
    rows, got, teq = _both(m)
    assert rows == got == [] and teq
    # data then withdrawal, warm cache: both decode the record
    m = _ipfix_msg(_dset(300, rec), _tset(300, []))
    rows, got, teq = _both(m, pre)
    assert rows == got and len(rows) == 1 and teq
    # withdrawal then data, warm cache: both drop
    m = _ipfix_msg(_tset(300, []), _dset(300, rec))
    rows, got, teq = _both(m, pre)
    assert rows == got == [] and teq


def test_scalar_vectorized_differential_property():
    """Hypothesis differential: for ANY single-template message — random
    IEs (output-mapped, v6 addresses, unknowns), random widths (the
    dtype-expressible 1/2/4/8/16 and the exotic 3/6 that force the
    scalar fallback), duplicate IEs, random record payloads, IPFIX and
    v9 — the scalar reference and the vectorized path produce identical
    rows and identical template caches."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ies = st.sampled_from([1, 2, 4, 6, 7, 8, 11, 12, 16, 17,
                           21, 22, 27, 28, 152, 153, 5, 9, 100])
    widths = st.sampled_from([1, 2, 3, 4, 6, 8, 16])
    fields_s = st.lists(st.tuples(ies, widths), min_size=1, max_size=6)

    @given(fields=fields_s, n_recs=st.integers(0, 4), v9=st.booleans(),
           data=st.data())
    @settings(max_examples=300, deadline=None)
    def run(fields, n_recs, v9, data):
        rec_len = sum(ln for _, ln in fields)
        payload = data.draw(st.binary(min_size=rec_len * n_recs,
                                      max_size=rec_len * n_recs))
        dset_bytes = struct.pack(">HH", 300, 4 + len(payload)) + payload
        if v9:
            m = _v9_msg(_v9_tset(300, fields), dset_bytes)
        else:
            m = _ipfix_msg(_tset(300, fields), dset_bytes)
        rows, got, teq = _both(m)
        assert teq
        assert rows == got

    run()


def test_scalar_vectorized_differential_multiset_property():
    """Differential over random SET SEQUENCES: announcements,
    re-announcements, withdrawals, and data sets for two tids interleave
    in any order (with or without a warm cache). Pins the general
    in-order/end-state equivalence argument behind the position-view
    fallback: whenever the vectorized path does NOT fall back, its
    end-of-message template view must have matched the in-order view at
    every data set — any miss shows up here as a row or cache diff."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    layouts = [[(7, 2), (11, 2)], [(8, 4), (12, 4)], [(1, 8)]]
    tids = st.sampled_from([300, 301])
    action = st.one_of(
        st.tuples(st.just("t"), tids, st.sampled_from(layouts)),  # announce
        st.tuples(st.just("t"), tids, st.just([])),               # withdraw
        st.tuples(st.just("d"), tids, st.integers(0, 3)),         # data
    )

    @given(actions=st.lists(action, min_size=1, max_size=6),
           warm=st.booleans(), v9=st.booleans(), data=st.data())
    @settings(max_examples=300, deadline=None)
    def run(actions, warm, v9, data):
        pre = ({("e1", 300): [(7, 2), (11, 2)],
                ("e1", 301): [(1, 8)]} if warm else {})
        live = dict(pre)  # reference view to size data payloads
        sets = []
        for kind, tid, arg in actions:
            if kind == "t":
                if arg:
                    live[("e1", tid)] = arg
                else:
                    live.pop(("e1", tid), None)
                sets.append(_v9_tset(tid, arg) if v9 else _tset(tid, arg))
            else:
                # records sized to the CURRENT view (unknown tid -> raw
                # bytes that stress the drop paths)
                rec_len = sum(ln for _, ln in live.get(("e1", tid), [(0, 2)]))
                payload = data.draw(st.binary(min_size=rec_len * arg,
                                              max_size=rec_len * arg))
                sets.append(struct.pack(">HH", tid, 4 + len(payload))
                            + payload)
        m = _v9_msg(*sets) if v9 else _ipfix_msg(*sets)
        rows, got, teq = _both(m, pre)
        assert teq
        assert rows == got

    run()


def test_capture_read_paths_hostile_differential(spark, tmp_path):
    """r5 verdict item 6: the nfcapture DataSource and the binaryFile
    two-phase path are equality-tested on clean fixtures — this drives
    BOTH through a hostile capture DIRECTORY and requires identical
    surviving rows. Crafted cases: truncated trailing record (length
    header past EOF), garbage length framing (0-length entries + 0xFFFF
    FFFF), an empty file, a raw magic-less datagram, a corrupt datagram
    FOLLOWED by a valid one (per-datagram recovery, not per-file), the
    legacy/padded mixed stream-sink names, and hidden/underscore-prefixed
    files (Spark's file sources never read those; the DataSource listing
    must match — it originally didn't, reading a foreign dot-prefixed
    half-written temp is the exact partial-read hazard the atomic-write
    convention prevents). Two IPFIX files pin the shared decode: a
    template set whose valid record is followed by a truncated one (the
    whole datagram drops on both readers, so its data-only messages
    decode nothing), and IE 160 relative timestamps whose boot record
    precedes its options template, next to a withdrawal."""
    import os

    from nf2pq_spark.sources.datasource import register_capture_source
    from nf2pq_spark.sources.ipfix import (_CAPTURE_MAGIC,
                                           _IPFIX_TEMPLATE_FIELDS,
                                           _V9_TEMPLATE_FIELDS, encode_ipfix,
                                           encode_ipfix_options,
                                           encode_netflow_v5,
                                           encode_netflow_v9,
                                           read_flow_files,
                                           write_capture_file)

    d = str(tmp_path / "caps")
    os.makedirs(d)

    def flows(base, n=3):
        return [{"sa_int": base + i, "da_int": 99, "sp": i, "dp": 443,
                 "pr": 6, "flg": 16, "ipkt": 1, "ibyt": 10,
                 "ts_ms": 1_000_000 + base + i, "te_ms": 1_000_500 + base + i,
                 "sas": 1, "das": 2} for i in range(n)]

    # clean baselines: v5 and v9 (template re-announced per datagram, so
    # the per-file and cross-file template harvests see the same sets)
    write_capture_file(f"{d}/cap_v5.bin", encode_netflow_v5(flows(10)))
    write_capture_file(f"{d}/cap_v9.bin",
                       encode_netflow_v9(flows(50, 4), per_packet=2,
                                         template_every=1))
    # truncated trailing record: valid datagram, then a length header
    # claiming 1000 bytes with 7 present — the short tail must be dropped
    # without losing the valid datagram before it
    good = encode_netflow_v5(flows(100))[0]
    with open(f"{d}/cap_trunc.bin", "wb") as fh:
        fh.write(_CAPTURE_MAGIC + struct.pack(">I", len(good)) + good
                 + struct.pack(">I", 1000) + b"partial")
    # garbage framing: zero-length entries then an absurd length whose
    # clamped slice is version-garbage
    with open(f"{d}/cap_garbage.bin", "wb") as fh:
        fh.write(_CAPTURE_MAGIC + struct.pack(">I", 0) * 3
                 + b"\xff\xff\xff\xff" + b"\x00\x07junkjunk")
    # empty file / raw magic-less single datagram
    open(f"{d}/cap_empty.bin", "wb").close()
    with open(f"{d}/cap_raw.bin", "wb") as fh:
        fh.write(encode_netflow_v5(flows(200))[0])
    # corrupt datagram then a valid one INSIDE one file: recovery must be
    # per-datagram on both paths
    with open(f"{d}/cap_mixed.bin", "wb") as fh:
        bad = b"\x00\x05" + b"\x01" * 10  # v5 header truncated mid-struct
        ok2 = encode_netflow_v5(flows(300))[0]
        fh.write(_CAPTURE_MAGIC + struct.pack(">I", len(bad)) + bad
                 + struct.pack(">I", len(ok2)) + ok2)
    # the stream sink's legacy/padded name mix (both are data: read-side
    # equality; the WRITER's commit sweep is what prevents the mix)
    write_capture_file(f"{d}/cap_b7_p0.bin", encode_netflow_v5(flows(400)))
    write_capture_file(f"{d}/cap_b0000000007_p00000.bin",
                       encode_netflow_v5(flows(500)))
    # hidden / metadata names: INVISIBLE to Spark file sources, so the
    # DataSource must skip them too — these carry valid decodable flows
    # so a listing divergence cannot hide
    write_capture_file(f"{d}/.hidden.bin", encode_netflow_v5(flows(600)))
    write_capture_file(f"{d}/_sidecar.bin", encode_netflow_v5(flows(700)))
    with open(f"{d}/_committed_x", "w") as fh:
        fh.write("ok")

    def data_only(msg):  # strip a message's leading template set
        tset_len = struct.unpack_from(">H", msg, 18)[0]
        return _ipfix_msg(msg[16 + tset_len:])

    # template set: valid record for tid 256, then a truncated record
    # (declares 5 field specs, carries 1); then data-only messages
    trunc = struct.pack(">HHHH", 257, 5, 8, 4)
    tset = _tset(256, _IPFIX_TEMPLATE_FIELDS)
    tset = struct.pack(">HH", 2, len(tset) + len(trunc)) + tset[4:] + trunc
    m0, m1 = encode_ipfix(flows(900, 4), per_packet=2, template_every=100)
    write_capture_file(f"{d}/cap_tset_trunc.bin",
                       [_ipfix_msg(tset), data_only(m0), m1])
    # IE 160 boot record BEFORE its options template, relative-timestamp
    # (IE 21/22) flows, and tid 320 announced, withdrawn, then sent data
    boot, odid = 1_700_000_000_000, 7
    export_s = (boot + 600_000) // 1000
    opt = encode_ipfix_options(
        [{149: odid, 34: 1, 35: 0, 84: "s0", 160: boot}],
        extra_option_fields=[(160, 8)], export_time=export_s, odid=odid)
    opt_tset = opt[16:16 + struct.unpack_from(">H", opt, 18)[0]]

    def domain_msg(body):  # the boot epoch keys on the header's odid
        return struct.pack(">HHIII", 10, 16 + len(body), export_s, 0,
                           odid) + body

    rels = [2**32 - 5_000, 30_000, 600_400]
    rel_msgs = encode_ipfix([_rel_flow(i, r) for i, r in enumerate(rels)],
                            template_fields=_V9_TEMPLATE_FIELDS,
                            template_id=310, export_time=export_s,
                            odid=odid)
    w0, w1 = encode_ipfix(flows(800, 2), per_packet=1, template_every=100,
                          template_id=320)
    write_capture_file(f"{d}/cap_ie160.bin",
                       [domain_msg(opt[16 + len(opt_tset):])] + rel_msgs
                       + [domain_msg(opt_tset), w0,
                          _ipfix_msg(_tset(320, [])), w1])

    register_capture_source(spark)
    cols = [c for c in
            spark.read.format("nfcapture").load(d).columns
            if c != "exporter"]  # exporter: file:/-URI vs plain path
    via_ds = sorted(map(tuple,
                        spark.read.format("nfcapture").load(d)
                        .select(cols).collect()))
    via_bf = sorted(map(tuple,
                        read_flow_files(spark, d).select(cols).collect()))
    assert via_ds == via_bf
    # and the hostile files changed nothing they shouldn't: every
    # surviving row comes from a well-formed datagram
    sps = {r[cols.index("sp")] for r in via_ds}
    assert sps == {0, 1, 2, 3}
    sas = sorted({r[cols.index("sa")] for r in via_ds})
    # bases 10,50,100,200,300,400,500 present; 600 (hidden), 700
    # (sidecar) absent on BOTH paths
    assert "0.0.2.88" not in sas and "0.0.2.188" not in sas
    # + 0 (truncated template set) + 3 (IE 160) + 1 (before withdrawal)
    assert len(via_ds) == 3 + 4 + 3 + 3 + 3 + 3 + 3 + 0 + 3 + 1
    ts_of = {r[cols.index("sa")]: r[cols.index("ts_ms")] for r in via_ds}
    golden = [boot - 5_000, boot + 30_000, boot + 600_400]
    assert [ts_of[f"10.0.0.{i}"] for i in range(3)] == golden
    assert "0.0.3.132" not in sas  # base 900: the truncated template set
    assert "0.0.3.32" in sas and "0.0.3.33" not in sas  # 320: 800, 801


# -- NetFlow v9 sysUptime wraparound (RFC 3954; nfdump's correction) -------


def test_v9_sysuptime_wrap_corrects_pre_wrap_flows():
    """sysUptime and FIRST/LAST_SWITCHED are uint32 ms wrapping every
    ~49.7 days. A flow that STARTED before the counter wrap but is
    exported after it carries FIRST_SWITCHED ≈ 2^32 while the header's
    sysUptime is small; without the −2^32 ms correction it decoded ~49.7
    days in the future. Golden absolute ms pinned on both decode paths,
    plus the two non-wrap regimes: normal (rel ≤ sysUptime) and small
    positive export skew (rel barely above sysUptime — NOT a wrap)."""
    from nf2pq_spark.sources.ipfix import encode_netflow_v9

    sys_up, unix_s = 60_000, 1_800_000_000       # exporter up 1 minute
    boot = unix_s * 1000 - sys_up
    rels = [2**32 - 5_000,   # started 5 s before the wrap → −2^32 fires
            30_000,          # normal: 30 s after boot, before export
            60_400]          # 400 ms past header uptime: skew, no wrap
    flows = [{"sa_int": (10 << 24) + i, "da_int": (20 << 24), "sp": i,
              "dp": 53, "pr": 17, "flg": 0, "ipkt": 1, "ibyt": 100,
              "ts_ms": r, "te_ms": (r + 1_000) % 2**32, "sas": 1, "das": 2}
             for i, r in enumerate(rels)]
    (dgram,) = encode_netflow_v9(flows, sys_uptime=sys_up,
                                 unix_secs=unix_s)
    golden_ts = [boot - 5_000, boot + 30_000, boot + 60_400]
    # te = rel + 1000: the first flow's end (2^32 − 4000) is still
    # pre-wrap → same correction applies
    golden_te = [boot - 4_000, boot + 31_000, boot + 61_400]

    scalar = sorted(_decode_in_order(dgram, "e1", {}))
    vec = _vec_rows(dgram)
    got_vec = sorted(tuple(r) for r in vec.itertuples(index=False))
    assert scalar == got_vec
    by_sp = {r[4]: r for r in scalar}
    for i in range(3):
        assert by_sp[i][0] == golden_ts[i], (i, by_sp[i][0], golden_ts[i])
        assert by_sp[i][1] == golden_te[i]


def test_v9_fixture_header_keeps_wrap_correction_inert():
    """The default fixture header pins boot epoch 0 AND sysUptime ≈ 2^32,
    so the wrap correction can never fire on encoder-produced captures:
    decoded ts_ms == ts_ms mod 2^32 for ANY input ms — including
    pre-epoch (negative) timestamps — exactly what the s6c oracle's
    double-mod models."""
    from nf2pq_spark.sources.ipfix import (_V9_FIXTURE_SYSUPTIME,
                                           _V9_FIXTURE_UNIXSECS,
                                           encode_netflow_v9)

    assert _V9_FIXTURE_UNIXSECS * 1000 == _V9_FIXTURE_SYSUPTIME  # boot 0
    assert 2**32 - _V9_FIXTURE_SYSUPTIME < 2**31  # max excess below cut
    ms = [0, 1, 2**31 + 100_001, 2**32 - 1, 1_700_000_000_123, -5_000]
    flows = [{"sa_int": 1, "da_int": 2, "sp": i, "dp": 1, "pr": 6,
              "flg": 0, "ipkt": 1, "ibyt": 1, "ts_ms": m, "te_ms": m,
              "sas": 0, "das": 0} for i, m in enumerate(ms)]
    (dgram,) = encode_netflow_v9(flows)
    rows = {r[4]: r for r in _decode_in_order(dgram, "e1", {})}
    for i, m in enumerate(ms):
        assert rows[i][0] == m % 2**32
    vec = _vec_rows(dgram)
    got = {int(sp): int(t) for sp, t in zip(vec["sp"], vec["ts_ms"])}
    assert got == {i: m % 2**32 for i, m in enumerate(ms)}


def test_v5_sysuptime_wrap_corrects_pre_wrap_flows():
    """v5 first/last share the v9 sysUptime-relative uint32-ms semantics
    (and the same ~49.7-day wrap). Golden absolute ms pinned on both the
    scalar decoder and the vectorized frame path, plus the inert-fixture
    property on the default header (boot 0, sysUptime ≈ 2^32 → decoded
    == raw mod 2^32, which is what every v5 oracle models)."""
    from nf2pq_spark.sources.ipfix import (_decode_v5, _decode_v5_vec,
                                           encode_netflow_v5)

    sys_up, unix_s = 60_000, 1_800_000_000
    boot = unix_s * 1000 - sys_up
    rels = [2**32 - 5_000, 30_000, 60_400]   # pre-wrap / normal / skew
    flows = [{"sa_int": 1, "da_int": 2, "sp": i, "dp": 53, "pr": 17,
              "flg": 0, "ipkt": 1, "ibyt": 100, "ts_ms": r,
              "te_ms": (r + 1_000) % 2**32, "sas": 1, "das": 2}
             for i, r in enumerate(rels)]
    (dgram,) = encode_netflow_v5(flows, sys_uptime=sys_up, unix_secs=unix_s)
    golden = [boot - 5_000, boot + 30_000, boot + 60_400]
    scalar = {r[4]: r for r in _decode_v5(dgram, "e1")}
    acc = _VecAccumulator()
    _decode_v5_vec(dgram, "e1", acc)
    (frame,) = acc.frames()
    vec = {int(sp): int(t) for sp, t in zip(frame["sp"], frame["ts_ms"])}
    for i in range(3):
        assert scalar[i][0] == golden[i] == vec[i]
        assert scalar[i][1] == golden[i] + 1_000  # te wraps with it
    # inert default header: any input ms decodes to ms mod 2^32
    ms = [0, 2**31 + 100_001, 2**32 - 1, 1_700_000_000_123, -5_000]
    flows = [{"sa_int": 1, "da_int": 2, "sp": i, "dp": 1, "pr": 6, "flg": 0,
              "ipkt": 1, "ibyt": 1, "ts_ms": m, "te_ms": m, "sas": 0,
              "das": 0} for i, m in enumerate(ms)]
    (dgram,) = encode_netflow_v5(flows)
    rows = {r[4]: r for r in _decode_v5(dgram, "e1")}
    assert all(rows[i][0] == m % 2**32 for i, m in enumerate(ms))


# -- IPFIX v10 relative timestamps via IE 160 boot epoch -------------------
#
# IPFIX headers carry no sysUptime, so a v10 template exporting the
# sysUpTime-relative IEs 21/22 is only decodable once the exporter's
# systemInitTimeMilliseconds (IE 160, RFC 7012) arrives via options.
# The decode folds (boot, exportTime) into the stamp's wrap era
# (_v10_era_clock) and then applies the SAME rel_abs arithmetic as the
# v9 header clock — including on exporters up longer than one uint32
# wrap (~49.7 days), which a v9 header can't even express but IE 160 can.


def _rel_flow(i, rel):
    return {"sa_int": (10 << 24) + i, "da_int": (20 << 24), "sp": i,
            "dp": 53, "pr": 17, "flg": 0, "ipkt": 1, "ibyt": 100,
            "ts_ms": rel, "te_ms": (rel + 1_000) % 2**32,
            "sas": 1, "das": 2}


def _boots_of(opt_msg: bytes, exporter: str = "e1") -> dict:
    from nf2pq_spark.sources.ipfix import (_harvest_boot_rows,
                                           _parse_options_templates)
    cache: dict = {}
    _parse_options_templates(opt_msg, exporter, cache)
    return {(exporter, odid): boot
            for odid, boot in _harvest_boot_rows(opt_msg, exporter, cache)}


def _ie160_options_msg(boot_ms: int, export_time: int, odid: int) -> bytes:
    from nf2pq_spark.sources.ipfix import encode_ipfix_options
    return encode_ipfix_options(
        [{149: odid, 34: 1, 35: 0, 84: "s0", 160: boot_ms}],
        extra_option_fields=[(160, 8)], export_time=export_time, odid=odid)


def test_v10_relative_ies_decode_via_ie160_boot():
    """Exporter up 10 minutes (era 0): golden absolute ms pinned on both
    decode paths for the pre-wrap / normal / skew regimes, identical to
    the v9 golden-triple shape."""
    from nf2pq_spark.sources.ipfix import (_V9_TEMPLATE_FIELDS,
                                           _decode_in_order, encode_ipfix)

    boot = 1_700_000_000_000
    export_s = (boot + 600_000) // 1000          # up exactly 10 min
    rels = [2**32 - 5_000, 30_000, 600_400]      # pre-wrap/normal/skew
    flows = [_rel_flow(i, r) for i, r in enumerate(rels)]
    (msg,) = encode_ipfix(flows, template_fields=_V9_TEMPLATE_FIELDS,
                          template_id=310, export_time=export_s, odid=7)
    boots = _boots_of(_ie160_options_msg(boot, export_s, 7))
    assert boots == {("e1", 7): boot}

    golden = [boot - 5_000, boot + 30_000, boot + 600_400]
    scalar = sorted(_decode_in_order(msg, "e1", {}, boots))
    vec = _vec_rows(msg, boots=boots)
    assert scalar == sorted(tuple(r) for r in vec.itertuples(index=False))
    by_sp = {r[4]: r for r in scalar}
    for i in range(3):
        assert by_sp[i][0] == golden[i], (i, by_sp[i][0], golden[i])
        assert by_sp[i][1] == golden[i] + 1_000


def test_v10_ie160_long_uptime_era():
    """Exporter up ~49.7 days + 10 minutes (era 1 — inexpressible in a
    v9 header): stamps land in the CURRENT era, and a pre-wrap stamp
    still corrects into the previous one."""
    from nf2pq_spark.sources.ipfix import (_V9_TEMPLATE_FIELDS,
                                           _decode_in_order, encode_ipfix)

    boot = 1_700_000_000_000
    up = 2**32 + 600_704                          # boot+up lands on a whole
    export_s = (boot + up) // 1000                # second (header has secs)
    era_boot = boot + 2**32
    rels = [30_000, 2**32 - 5_000]
    flows = [_rel_flow(i, r) for i, r in enumerate(rels)]
    (msg,) = encode_ipfix(flows, template_fields=_V9_TEMPLATE_FIELDS,
                          template_id=310, export_time=export_s, odid=7)
    boots = _boots_of(_ie160_options_msg(boot, export_s, 7))

    golden = [era_boot + 30_000, era_boot - 5_000]
    scalar = sorted(_decode_in_order(msg, "e1", {}, boots))
    vec = _vec_rows(msg, boots=boots)
    assert scalar == sorted(tuple(r) for r in vec.itertuples(index=False))
    by_sp = {r[4]: r for r in scalar}
    for i in range(2):
        assert by_sp[i][0] == golden[i], (i, by_sp[i][0], golden[i])


def test_v10_relative_ies_without_boot_stay_zero():
    """No IE 160 seen (or a boot claimed in the future): relative IEs are
    undecodable — both paths pin the pre-IE-160 behavior (0), never a
    guess."""
    from nf2pq_spark.sources.ipfix import (_V9_TEMPLATE_FIELDS,
                                           _decode_in_order, _v10_era_clock,
                                           encode_ipfix)

    (msg,) = encode_ipfix([_rel_flow(0, 30_000)],
                          template_fields=_V9_TEMPLATE_FIELDS,
                          template_id=310, export_time=1_700_000, odid=7)
    for boots in ({}, None, {("e1", 99): 123}):   # absent / None / odid miss
        scalar = _decode_in_order(msg, "e1", {}, boots)
        assert scalar[0][0] == 0 and scalar[0][1] == 0
        vec = _vec_rows(msg, boots=boots)
        assert int(vec["ts_ms"][0]) == 0
    # boot in the future → inconsistent clock → None, same 0 path
    assert _v10_era_clock(2_000_000_000_000, 1_999_999_999_999) is None
    future = {("e1", 7): 1_700_000 * 1000 + 1}
    assert _decode_in_order(msg, "e1", {}, future)[0][0] == 0


def test_v10_absolute_ies_win_over_era_clock():
    """A template carrying flowStart/EndMilliseconds (152/153) decodes
    absolute even when a boot epoch is known — mirror of
    test_v9_absolute_timestamp_ies_preferred."""
    from nf2pq_spark.sources.ipfix import _decode_in_order, encode_ipfix

    ts = 1_704_067_200_123
    flows = [{"sa_int": 1, "da_int": 2, "sp": 0, "dp": 1, "pr": 6,
              "flg": 0, "ipkt": 1, "ibyt": 1, "ts_ms": ts,
              "te_ms": ts + 1, "sas": 0, "das": 0}]
    (msg,) = encode_ipfix(flows, export_time=1_800_000_000, odid=7)
    boots = {("e1", 7): 1_700_000_000_000}
    scalar = _decode_in_order(msg, "e1", {}, boots)
    assert scalar[0][0] == ts and scalar[0][1] == ts + 1
    vec = _vec_rows(msg, boots=boots)
    assert int(vec["ts_ms"][0]) == ts


def test_boot_rows_ride_the_template_harvest(spark, tmp_path):
    """End-to-end: one capture file holding the IE 160 options message
    plus relative-template flow messages → read_flow_files resolves the
    boot epoch through the phase-1 harvest (tid == -1 rows) and decodes
    absolute ms; the template merge must skip the boot rows."""
    import os

    from nf2pq_spark.sources.ipfix import (_V9_TEMPLATE_FIELDS,
                                           _extract_templates_pandas,
                                           _merge_boot_rows,
                                           _merge_template_rows,
                                           encode_ipfix, read_flow_files,
                                           write_capture_file)

    boot = 1_700_000_000_000
    export_s = (boot + 600_000) // 1000
    rels = [2**32 - 5_000, 30_000, 600_400]
    flows = [_rel_flow(i, r) for i, r in enumerate(rels)]
    msgs = encode_ipfix(flows, per_packet=2,
                        template_fields=_V9_TEMPLATE_FIELDS,
                        template_id=310, export_time=export_s, odid=7)
    opt = _ie160_options_msg(boot, export_s, 7)

    out = str(tmp_path / "relcaps")
    os.makedirs(out)
    write_capture_file(os.path.join(out, "cap_0.bin"), [opt] + msgs)

    # the harvest itself: boot rows present, template merge unpolluted
    pdf = pd.DataFrame({"path": [f"{out}/cap_0.bin"],
                        "content": [open(f"{out}/cap_0.bin", "rb").read()]})
    rows = pd.concat(list(_extract_templates_pandas(iter([pdf]))))
    rows = list(rows.itertuples(index=False))
    assert _merge_boot_rows(rows) == {(out, 7): boot}
    merged = _merge_template_rows(rows)
    assert (out, 310) in merged
    assert all(tid >= 0 for (_e, tid) in merged)

    golden = {0: boot - 5_000, 1: boot + 30_000, 2: boot + 600_400}
    decoded = {r.sp: r for r in read_flow_files(spark, out).collect()}
    assert {sp: r.ts_ms for sp, r in decoded.items()} == golden
    assert decoded[0].te_ms == boot - 4_000


def test_v10_era_clock_differential_property():
    """Hypothesis differential for the IE 160 path: for ANY boot epoch,
    export clock, odid (hit or miss), template widths of the relative
    IEs (including the exotic 8-byte forms), and record payloads, the
    scalar reference and the vectorized path produce identical rows —
    the same equality contract the v9 header clock carries."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nf2pq_spark.sources.ipfix import _decode_in_order

    widths = st.sampled_from([1, 2, 4, 8])
    fields_s = st.lists(
        st.tuples(st.sampled_from([22, 21, 152, 153, 7, 2]), widths),
        min_size=1, max_size=5)

    @given(fields=fields_s, n_recs=st.integers(0, 3),
           boot=st.integers(0, 2**45), up=st.integers(0, 2**36),
           hit=st.booleans(), data=st.data())
    @settings(max_examples=300, deadline=None)
    def run(fields, n_recs, boot, up, hit, data):
        rec_len = sum(ln for _, ln in fields)
        payload = data.draw(st.binary(min_size=rec_len * n_recs,
                                      max_size=rec_len * n_recs))
        dset = struct.pack(">HH", 300, 4 + len(payload)) + payload
        body = _tset(300, fields) + dset
        export_s = (boot + up) // 1000
        msg = struct.pack(">HHIII", 10, 16 + len(body),
                          export_s & 0xFFFFFFFF, 0, 7) + body
        boots = {("e1", 7 if hit else 8): boot}
        t1: dict = {}
        scalar = _decode_in_order(msg, "e1", t1, boots)
        vec = _vec_rows(msg, boots=boots)
        assert sorted(scalar) == sorted(
            tuple(r) for r in vec.itertuples(index=False))

    run()


def test_varlen_flow_template_decodes_fixed_fields():
    """A flow template carrying a variable-length IE (RFC 7011 §7 — a
    URL or sampler name riding alongside the numerics) must decode the
    fixed-width fields around it. Previously the 0xFFFF marker was
    summed as a literal record width and the whole data set was
    silently dropped. No flow column takes a string, so the varlen
    VALUE is skipped; short- and long-form length prefixes both
    advance correctly. The vectorized path routes such templates to
    the scalar fallback, so the paths agree by construction — asserted
    anyway."""
    fields = [(7, 2), (650, 0xFFFF), (11, 2)]
    rec1 = struct.pack(">H", 1001) + bytes([3]) + b"abc" + \
        struct.pack(">H", 53)
    rec2 = struct.pack(">H", 1002) + bytes([255]) + \
        struct.pack(">H", 300) + b"x" * 300 + struct.pack(">H", 443)
    msg = _ipfix_msg(_tset(256, fields), _dset(256, rec1 + rec2))
    scalar = _decode_in_order(msg, "e1", {})
    assert [(r[4], r[5]) for r in scalar] == [(1001, 53), (1002, 443)]
    vec = _vec_rows(msg)
    assert sorted(scalar) == sorted(
        tuple(r) for r in vec.itertuples(index=False))


def test_v10_record_count_includes_options_records():
    """RFC 7011 sequenceNumber counts ALL data records — options data
    records included. A message bundling an options template + data
    must count them (previously the whole message went UNKNOWN, -1,
    knocking it out of the sequence-gap math); an ambiguous tid
    (announced via set 2 AND set 3) stays -1, never a guess."""
    from nf2pq_spark.sources.ipfix import _v10_record_count

    # options template 400: scope (149,4) + option (34,4) = 8-byte recs
    otmpl = struct.pack(">HH", 3, 4 + 6 + 8) + \
        struct.pack(">HHH", 400, 2, 1) + \
        struct.pack(">HH", 149, 4) + struct.pack(">HH", 34, 4)
    odata = struct.pack(">HH", 400, 4 + 16) + \
        struct.pack(">II", 7, 1) + struct.pack(">II", 8, 10)
    flow = _tset(256, _AB) + _dset(256, struct.pack(">II", 1, 2) * 3)
    body = otmpl + odata + flow
    msg = struct.pack(">HHIII", 10, 16 + len(body), 0, 0, 1) + body
    assert _v10_record_count(msg, "e1", {}) == 2 + 3

    # same tid announced as flow AND options template → ambiguous → -1
    clash = _tset(400, _AB) + otmpl + odata
    msg2 = struct.pack(">HHIII", 10, 16 + len(clash), 0, 0, 1) + clash
    assert _v10_record_count(msg2, "e1", {}) == -1

    # options data whose template lives in a PREVIOUS message: the
    # header reader's cross-file cache holds flow templates only →
    # conservative UNKNOWN, unchanged
    msg3 = struct.pack(">HHIII", 10, 16 + len(odata), 0, 0, 1) + odata
    assert _v10_record_count(msg3, "e1", {}) == -1


def test_v10_options_count_resolves_cross_message():
    """Options templates announce at startup; options DATA messages ride
    their own schedule (sampling stats every ~30 s). The phase-1 harvest
    ships options-template announcements cross-file as negated-tid rows,
    so a standalone options-data message counts its records instead of
    going UNKNOWN and dropping out of the sequence-gap math."""
    from nf2pq_spark.sources.ipfix import (_CAPTURE_MAGIC,
                                           _extract_templates_pandas,
                                           _merge_boot_rows,
                                           _merge_opt_template_rows,
                                           _merge_template_rows,
                                           make_header_parser)

    otmpl = struct.pack(">HH", 3, 4 + 6 + 8) + \
        struct.pack(">HHH", 400, 2, 1) + \
        struct.pack(">HH", 149, 4) + struct.pack(">HH", 34, 4)
    msg_a = struct.pack(">HHIII", 10, 16 + len(otmpl), 0, 0, 1) + otmpl
    odata = struct.pack(">HH", 400, 4 + 16) + \
        struct.pack(">II", 7, 1) + struct.pack(">II", 8, 10)
    msg_b = struct.pack(">HHIII", 10, 16 + len(odata), 0, 5, 1) + odata
    blob = _CAPTURE_MAGIC + b"".join(
        struct.pack(">I", len(m)) + m for m in (msg_a, msg_b))
    pdf = pd.DataFrame({"path": ["caps/e1_0.bin"], "content": [blob]})

    rows = list(pd.concat(list(_extract_templates_pandas(
        iter([pdf.copy()])))).itertuples(index=False))
    opt_seed = _merge_opt_template_rows(rows)
    assert opt_seed == {("caps", 400): [(149, 4), (34, 4)]}
    # the negated rows pollute neither the flow merge nor the boot merge
    assert _merge_template_rows(rows) == {}
    assert _merge_boot_rows(rows) == {}

    hdr = pd.concat(list(make_header_parser({}, opt_seed)(
        iter([pdf.copy()]))))
    assert list(hdr["nrec"]) == [0, 2]
    # without the cross-message seed: conservative UNKNOWN, as before
    hdr2 = pd.concat(list(make_header_parser({})(iter([pdf.copy()]))))
    assert list(hdr2["nrec"]) == [0, -1]


def test_varlen_overrun_discards_partial_record_not_datagram():
    """An overlong varlen length prefix must discard the PARTIAL record
    and stop that set — never decode the next set's bytes as fields,
    and never abort the datagram's other sets (review finding: the
    first varlen walk could run past set_end)."""
    fields = [(7, 2), (650, 0xFFFF), (11, 2)]
    good = struct.pack(">H", 1001) + bytes([2]) + b"ok" + \
        struct.pack(">H", 53)
    # claims 200 varlen bytes with only a handful left in the set
    evil = struct.pack(">H", 1002) + bytes([200]) + b"xx"
    msg = _ipfix_msg(_tset(256, fields), _dset(256, good + evil),
                     _tset(257, _AB),
                     _dset(257, struct.pack(">II", 9, 10)))
    scalar = _decode_in_order(msg, "e1", {})
    # the good varlen record and the full second set survive; the evil
    # partial record is gone
    assert [(r[4], r[5]) for r in scalar if r[4]] == [(1001, 53)]
    assert len(scalar) == 2  # + the (257) record
    vec = _vec_rows(msg)
    assert sorted(scalar) == sorted(
        tuple(r) for r in vec.itertuples(index=False))


def test_v9_options_template_never_enters_v10_opt_view():
    """A v9 options template (sequence counts PACKETS — record widths
    are irrelevant) must not leak into the v10 options view via the
    phase-1 harvest: a shared tid would mis-count or spuriously
    ambiguate v10 data sets (review finding)."""
    from nf2pq_spark.sources.ipfix import (_CAPTURE_MAGIC,
                                           _extract_templates_pandas,
                                           _merge_opt_template_rows,
                                           encode_netflow_v9_options)

    v9_opt = encode_netflow_v9_options([{1: 7, 34: 1000, 35: 1}],
                                       template_id=400)
    blob = _CAPTURE_MAGIC + struct.pack(">I", len(v9_opt)) + v9_opt
    pdf = pd.DataFrame({"path": ["caps/e1_0.bin"], "content": [blob]})
    rows = list(pd.concat(list(_extract_templates_pandas(
        iter([pdf])))).itertuples(index=False))
    assert _merge_opt_template_rows(rows) == {}


def test_boot_record_before_its_template_still_resolves():
    """Two-sweep harvest: an IE 160 options DATA message that precedes
    its options-template announcement in the file must still resolve
    (review finding: the single forward sweep missed it)."""
    from nf2pq_spark.sources.ipfix import (_CAPTURE_MAGIC,
                                           _extract_templates_pandas,
                                           _merge_boot_rows)

    boot = 1_700_000_000_000
    otmpl = struct.pack(">HH", 3, 4 + 6 + 12) + \
        struct.pack(">HHH", 400, 3, 1) + \
        struct.pack(">HH", 149, 4) + struct.pack(">HH", 34, 4) + \
        struct.pack(">HH", 160, 8)
    odata = struct.pack(">HH", 400, 4 + 16) + \
        struct.pack(">II", 7, 1) + struct.pack(">Q", boot)
    msg_data = struct.pack(">HHIII", 10, 16 + len(odata), 0, 0, 7) + odata
    msg_tmpl = struct.pack(">HHIII", 10, 16 + len(otmpl), 0, 1, 7) + otmpl
    blob = _CAPTURE_MAGIC + b"".join(
        struct.pack(">I", len(m)) + m for m in (msg_data, msg_tmpl))
    pdf = pd.DataFrame({"path": ["caps/e1_0.bin"], "content": [blob]})
    rows = list(pd.concat(list(_extract_templates_pandas(
        iter([pdf])))).itertuples(index=False))
    assert _merge_boot_rows(rows) == {("caps", 7): boot}


def test_options_withdrawal_does_not_ambiguate_flow_count():
    """An explicit options-template WITHDRAWAL (field count 0) for a tid
    governed by a valid flow template must not flip the message to -1
    (review finding: [] was not normalized like the flow side)."""
    from nf2pq_spark.sources.ipfix import _v10_record_count

    withdrawal = struct.pack(">HH", 3, 4 + 6) + struct.pack(">HHH", 256, 0, 0)
    body = _tset(256, _AB) + withdrawal + \
        _dset(256, struct.pack(">II", 1, 2) * 2)
    msg = struct.pack(">HHIII", 10, 16 + len(body), 0, 0, 1) + body
    assert _v10_record_count(msg, "e1", {}) == 2


def test_no_timestamp_template_keeps_zero_sentinel_with_clock():
    """A template with NO timestamp IE at all decodes ts/te to the 0
    sentinel even when a clock is known — "boot time" would be a
    plausible-looking fabrication (review finding). Same rule on v9
    (header clock) and v10 (IE 160 era clock), both paths."""
    # v10 with boot known
    msg = _ipfix_msg(_tset(256, _AB), _dset(256, struct.pack(">II", 1, 2)))
    boots = {("e1", 1): 1_700_000_000_000}
    assert _decode_in_order(msg, "e1", {}, boots)[0][0] == 0
    assert int(_vec_rows(msg, boots=boots)["ts_ms"][0]) == 0
    # v9: header clock always present — same sentinel now
    v9 = _v9_msg(_v9_tset(300, _AB),
                 _dset(300, struct.pack(">II", 1, 2)))
    assert _decode_in_order(v9, "e1", {})[0][0] == 0
    assert int(_vec_rows(v9)["ts_ms"][0]) == 0


def test_merge_boot_rows_keeps_distinct_odids():
    """Boot rows all share tid -1 — the merge identity is the odid
    inside the sig; two observation domains of one exporter must both
    survive (regression for the consolidation of the merge helpers)."""
    from collections import namedtuple

    from nf2pq_spark.sources.ipfix import _merge_boot_rows

    Row = namedtuple("Row", "exporter tid sig src seq")
    rows = [Row("e1", -1, "7:1000", "a", 0), Row("e1", -1, "8:2000", "a", 1),
            Row("e1", -1, "7:1500", "b", 0)]  # later file re-announces odid 7
    assert _merge_boot_rows(rows) == {("e1", 7): 1500, ("e1", 8): 2000}


def test_ie160_boot_resolves_across_partitions(spark, tmp_path):
    """The options TEMPLATE announcement and its IE 160 boot DATA record
    split across partitions (or Arrow batches): phase 1's within-batch
    options cache cannot resolve the boot epoch — pinned below — so
    decode_datagram_frame runs a SECOND harvest pass seeded with the
    globally merged options templates, mirroring the flow-template
    two-phase design (r10 advice). Placement must never decide whether
    a v10 relative timestamp decodes."""
    from nf2pq_spark.sources.ipfix import (_V9_TEMPLATE_FIELDS,
                                           _extract_templates_pandas,
                                           decode_datagram_frame,
                                           encode_ipfix,
                                           encode_ipfix_options,
                                           write_capture_file)

    boot = 1_700_000_000_000
    export_s = (boot + 600_000) // 1000           # exporter up 10 min
    combined = encode_ipfix_options(
        [{149: 7, 34: 1, 35: 0, 84: "s0", 160: boot}],
        extra_option_fields=[(160, 8)], export_time=export_s, odid=7)
    # split the one options message into a template-only and a
    # data-only message (real exporters announce at startup and send
    # standalone options-data messages on their own schedule)
    hdr_tail, sets = combined[4:16], []
    off, length = 16, struct.unpack_from(">H", combined, 2)[0]
    while off + 4 <= length:
        _sid, set_len = struct.unpack_from(">HH", combined, off)
        sets.append(combined[off:off + set_len])
        off += set_len
    tmpl_msg, data_msg = (
        struct.pack(">HH", 10, 16 + len(s)) + hdr_tail + s for s in sets)
    rels = [30_000, 2**32 - 5_000]                # normal + pre-wrap
    (flow_msg,) = encode_ipfix(
        [_rel_flow(i, r) for i, r in enumerate(rels)],
        template_fields=_V9_TEMPLATE_FIELDS, template_id=310,
        export_time=export_s, odid=7)

    d = tmp_path / "e1"
    d.mkdir()
    names = ["cap_0.bin", "cap_1.bin", "cap_2.bin"]
    for name, msg in zip(names, [tmpl_msg, data_msg, flow_msg]):
        write_capture_file(str(d / name), [msg])
    contents = {n: (d / n).read_bytes() for n in names}

    # phase 1 alone, each file its OWN batch: the boot row is LOST
    # (tid == -1 never emitted) — the gap the second pass closes
    batches = [pd.DataFrame({"path": [str(d / n)], "content": [contents[n]]})
               for n in names]
    p1 = pd.concat(list(_extract_templates_pandas(iter(batches))))
    assert not (p1["tid"] == -1).any()
    assert (p1["tid"] <= -256).any()              # announcement harvested

    # end-to-end: one file per partition, timestamps still resolve
    raw = spark.createDataFrame(
        [(str(d / n), bytearray(contents[n])) for n in names],
        "path string, content binary").repartition(3)
    got = {r.sp: (r.ts_ms, r.te_ms)
           for r in decode_datagram_frame(raw).collect()}
    assert got == {0: (boot + 30_000, boot + 31_000),
                   1: (boot - 5_000, boot - 4_000)}


def test_varlen_string_ies_surface_as_app_name(spark, tmp_path):
    """A flow template interleaving a varlen string IE among numerics
    (RFC 7011 §7): with_strings=True surfaces the string as the optional
    app_name column — short AND long (255+u16) length prefixes, unicode,
    first-varlen-wins — while every fixed field AFTER the varlen IE
    still decodes; the default reader keeps the 13-column frame."""
    from nf2pq_spark.sources.ipfix import (_VARLEN, encode_ipfix,
                                           read_flow_files,
                                           write_capture_file)

    fields = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1),
              (96, _VARLEN),                      # varlen mid-template
              (6, 1), (2, 4), (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
    apps = ["dns", "x" * 300, "café", ""]   # short/long-form/utf8/empty
    flows = [{"sa_int": (10 << 24) + i, "da_int": (20 << 24) + i,
              "sp": i, "dp": 400 + i, "pr": 17, "flg": 2, "app": apps[i],
              "ipkt": 5 + i, "ibyt": 1000 + i,
              "ts_ms": 1_700_000_000_000 + i, "te_ms": 1_700_000_001_000 + i,
              "sas": 1, "das": 2} for i in range(4)]
    d = tmp_path / "e1"
    d.mkdir()
    write_capture_file(str(d / "cap_0.bin"),
                       encode_ipfix(flows, template_fields=fields,
                                    template_id=320))

    got = read_flow_files(spark, str(d), with_strings=True)
    assert "app_name" in got.columns
    rows = {r.sp: r for r in got.collect()}
    assert len(rows) == 4
    for i in range(4):
        assert rows[i].app_name == apps[i]
        # fields AFTER the varlen IE decode correctly
        assert rows[i].ibyt == 1000 + i and rows[i].ipkt == 5 + i
        assert rows[i].ts_ms == 1_700_000_000_000 + i
        assert rows[i].flg == 2 and rows[i].das == 2
        # fields BEFORE it too
        assert rows[i].dp == 400 + i

    # the default reader is untouched: 13 columns, varlen skipped
    plain = read_flow_files(spark, str(d))
    assert "app_name" not in plain.columns
    assert plain.count() == 4


def test_two_varlen_string_ies_both_surface(spark, tmp_path):
    """A template carrying TWO varlen string IEs (r11 verdict item 6:
    applicationName + a description/URL-class IE): both land in the
    str_ies map keyed by IE id, app_name stays the FIRST in template
    order, and the fixed fields BETWEEN and AFTER the two varlen IEs
    keep decoding — the old first-only capture silently dropped the
    second string."""
    from nf2pq_spark.sources.ipfix import (_VARLEN, encode_ipfix,
                                           read_flow_files,
                                           write_capture_file)

    fields = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1),
              (96, _VARLEN),                      # first varlen
              (6, 1), (2, 4),                     # fixed between
              (94, _VARLEN),                      # second varlen
              (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
    apps = ["dns", "y" * 280, "", "café"]
    descs = ["resolver", "long" * 80, "plain", ""]
    flows = [{"sa_int": (10 << 24) + i, "da_int": (20 << 24) + i,
              "sp": i, "dp": 400 + i, "pr": 17, "flg": 2,
              "app": apps[i], "desc": descs[i],
              "ipkt": 5 + i, "ibyt": 1000 + i,
              "ts_ms": 1_700_000_000_000 + i, "te_ms": 1_700_000_001_000 + i,
              "sas": 1, "das": 2} for i in range(4)]
    d = tmp_path / "e2"
    d.mkdir()
    write_capture_file(str(d / "cap_0.bin"),
                       encode_ipfix(flows, template_fields=fields,
                                    template_id=321))

    got = read_flow_files(spark, str(d), with_strings=True)
    rows = {r.sp: r for r in got.collect()}
    assert len(rows) == 4
    for i in range(4):
        assert rows[i].app_name == apps[i]          # first in template order
        assert rows[i].str_ies == {96: apps[i], 94: descs[i]}
        assert rows[i].ipkt == 5 + i                # between the varlens
        assert rows[i].ibyt == 1000 + i             # after the second
        assert rows[i].ts_ms == 1_700_000_000_000 + i
        assert rows[i].das == 2


def test_headers_and_decoder_agree_differential():
    """Sequence accounting (read_message_headers' substrate) and the full
    flow decoder parse the SAME headers independently — this property
    pins them together permanently (r10 verdict item 5): over random
    interleaved v5/v9/v10 captures (random flow counts, packet sizes,
    template refresh cadence, interleave order), the header rows must
    (a) account for every decoded flow in each version's unit semantics
    and (b) form a gap-free sequence chain, since nothing was dropped.
    JVM-free: drives the mapInPandas bodies directly."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nf2pq_spark.sources import ipfix as ix

    def run(n, per_packet, template_every, order_seed):
        flows = [dict(sa_int=0x0A000001 + i, da_int=0x0A000002, sp=i % 65536,
                      dp=53, pr=17, flg=0x10, ipkt=1 + i, ibyt=100 + i,
                      ts_ms=1_700_000_000_000 + i,
                      te_ms=1_700_000_000_500 + i, sas=1, das=2)
                 for i in range(n)]
        per_version = {
            5: ix.encode_netflow_v5(flows, per_packet=per_packet),
            9: ix.encode_netflow_v9(flows, per_packet=per_packet,
                                    template_every=template_every),
            10: ix.encode_ipfix(flows, per_packet=per_packet,
                                template_every=template_every),
        }
        # deterministic interleave without Random(): round-robin with a
        # seed-dependent version rotation per step
        queues = {v: list(d) for v, d in per_version.items()}
        dgrams = []
        step = 0
        while any(queues.values()):
            live = sorted(v for v, q in queues.items() if q)
            v = live[(step * 7 + order_seed) % len(live)]
            dgrams.append(queues[v].pop(0))
            step += 1
        content = ix._CAPTURE_MAGIC + b"".join(
            struct.pack(">I", len(d)) + d for d in dgrams)
        pdf = pd.DataFrame({"path": ["mem/e1/cap_0.bin"],
                            "content": [content]})

        tmpl_rows = list(pd.concat(list(
            ix._extract_templates_pandas(iter([pdf.copy()]))))
            .itertuples(index=False))
        tm = ix._merge_template_rows(tmpl_rows)
        om = ix._merge_opt_template_rows(tmpl_rows)
        headers = pd.concat(list(
            ix.make_header_parser(tm, om)(iter([pdf.copy()]))))
        decoded = pd.concat(list(
            ix.make_decoder(tm, ix._merge_boot_rows(tmpl_rows))(
                iter([pdf.copy()]))))

        n_packets = math.ceil(n / per_packet)
        n_tmpl = sum(1 for i in range(n_packets) if i % template_every == 0)
        assert len(decoded) == 3 * n

        by_v = {v: headers[headers["version"] == v] for v in (5, 9, 10)}
        for v in (5, 9, 10):
            assert len(by_v[v]) == n_packets, (v, len(by_v[v]), n_packets)
        # v5 nrec counts FLOWS; v10 nrec = derived data-record count
        assert int(by_v[5]["nrec"].sum()) == n
        assert int(by_v[10]["nrec"].sum()) == n
        # v9's header count field counts FLOWSETS (RFC 3954): one data
        # set per packet + one template set per refresh
        assert int(by_v[9]["nrec"].sum()) == n_packets + n_tmpl
        # gap-free chains in each version's own units (nothing dropped):
        # v5 expected next = seq + nrec, v9 = seq + 1, v10 = seq + nrec
        for v, nxt in ((5, lambda s, r: s + r), (9, lambda s, r: s + 1),
                       (10, lambda s, r: s + r)):
            h = by_v[v]
            seqs, nrecs = list(h["seq"]), list(h["nrec"])
            assert seqs[0] == 0
            for k in range(len(seqs) - 1):
                assert seqs[k + 1] == nxt(seqs[k], nrecs[k]), (v, k)

    @settings(max_examples=30, deadline=None)
    @given(st.integers(1, 150), st.integers(1, 40), st.integers(1, 10),
           st.integers(0, 1000))
    def prop(n, per_packet, template_every, order_seed):
        run(n, per_packet, template_every, order_seed)

    prop()


def test_basiclist_surfaces_values_and_skips_unsupported(spark, tmp_path):
    """RFC 6313 basicList (r12): a (291, varlen) template field decodes
    into the list_ies map keyed by the ELEMENT IE — variable counts,
    the >255-byte long-form prefix, and coexistence with a string IE —
    while every unsupported/malformed shape (enterprise PEN element,
    zero or >8-byte element width, truncated header, ragged tail) skips
    the LIST, never the record: the fixed fields still decode."""
    import struct as _struct

    from nf2pq_spark.sources.ipfix import (_VARLEN, encode_basiclist,
                                           encode_ipfix, read_flow_files,
                                           write_capture_file)

    fields = [(8, 4), (12, 4), (7, 2), (11, 2), (4, 1),
              (96, _VARLEN), (6, 1), (2, 4),
              (291, _VARLEN),
              (1, 4), (152, 8), (153, 8), (16, 4), (17, 4)]
    blists = [
        encode_basiclist(7, 2, [100, 200, 300]),        # plain
        encode_basiclist(7, 2, list(range(130))),       # long-form varlen
        encode_basiclist(4, 1, []),                     # empty list
        _struct.pack(">BHH", 3, 0x8007, 2) + b"\x00\x01",  # enterprise PEN
        _struct.pack(">BHH", 3, 7, 0),                  # zero elem width
        _struct.pack(">BHH", 3, 27, 16) + b"\x00" * 16,  # >8-byte elems
        b"\x03\x00",                                    # truncated header
        encode_basiclist(7, 2, [500]) + b"\x01",        # ragged tail
    ]
    flows = [{"sa_int": 1 + i, "da_int": 2, "sp": i, "dp": 400 + i,
              "pr": 17, "flg": 2, "app": f"a{i}", "blist": blists[i],
              "ipkt": 5 + i, "ibyt": 1000 + i,
              "ts_ms": 1_700_000_000_000 + i,
              "te_ms": 1_700_000_001_000 + i, "sas": 1, "das": 2}
             for i in range(len(blists))]
    d = tmp_path / "e1"
    d.mkdir()
    write_capture_file(str(d / "cap_0.bin"),
                       encode_ipfix(flows, template_fields=fields,
                                    template_id=341))

    got = read_flow_files(spark, str(d), with_strings=True)
    rows = {r.sp: r for r in got.collect()}
    assert len(rows) == len(blists)  # no record lost to a bad list
    assert rows[0].list_ies == {7: [100, 200, 300]}
    assert rows[1].list_ies == {7: list(range(130))}
    assert rows[2].list_ies == {4: []}
    for i in (3, 4, 5, 6):  # unsupported shapes: list skipped
        assert rows[i].list_ies is None, i
    assert rows[7].list_ies == {7: [500]}  # ragged tail truncated
    for i in range(len(blists)):
        # the string IE and the fixed fields around the list all survive
        assert rows[i].str_ies == {96: f"a{i}"}
        assert rows[i].ibyt == 1000 + i
        assert rows[i].ts_ms == 1_700_000_000_000 + i


def test_varlen_basiclist_model_differential_property():
    """Property (r12): over random templates mixing fixed IEs, 0-2
    varlen string IEs, and 0-1 basicList IEs — with random unicode
    strings (including >=255-byte long-form) and random list shapes —
    the scalar strings-mode walk must agree with an independent pure-
    Python model of the §7/RFC 6313 surface: app_name = first varlen
    string in template order, str_ies keyed by IE, list_ies keyed by
    element IE, and the fixed fields around the variable region intact."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nf2pq_spark.sources.ipfix import (_VARLEN, _decode_in_order,
                                           encode_basiclist, encode_ipfix)

    text = st.text(
        alphabet=st.characters(codec="utf-8",
                               blacklist_categories=("Cs",)),
        min_size=0, max_size=12)
    long_text = st.builds(lambda s: "L" * 300 + s, text)
    str_ie = st.sampled_from([96, 94, 371])
    blist = st.builds(
        lambda ie_len, vals: (ie_len, vals),
        st.sampled_from([(7, 2), (4, 1), (2, 4)]),
        st.lists(st.integers(0, 2**15), min_size=0, max_size=6)
    ) | st.builds(  # long-form class: >125 two-byte elements
        lambda n: ((7, 2), list(range(n))),
        st.integers(126, 140)
    ) | st.builds(  # 8-byte counters incl. top-bit values (int64 fold)
        lambda vals: ((1, 8), vals),
        st.lists(st.integers(0, 2**64 - 1), min_size=1, max_size=4))

    @given(
        str_ies=st.lists(str_ie, unique=True, min_size=0, max_size=2),
        use_blist=st.booleans(),
        use_pen=st.booleans(),
        use_stl=st.booleans(),
        strings=st.lists(text | long_text, min_size=2, max_size=2),
        bl=blist,
        stl_recs=st.lists(
            st.tuples(st.integers(0, 1023), st.integers(0, 2**31)),
            min_size=0, max_size=4),
        n_recs=st.integers(1, 3),
        data=st.data(),
    )
    @settings(max_examples=60, deadline=None)
    def check(str_ies, use_blist, use_pen, use_stl, strings, bl,
              stl_recs, n_recs, data):
        key_of = {96: "app", 94: "desc", 371: "user"}
        # interleave the variable fields among fixed ones at random slots
        fixed = [(7, 2), (11, 2), (4, 1), (2, 4), (1, 4), (152, 8)]
        fields = list(fixed)
        var_fields = [(ie, _VARLEN) for ie in str_ies]
        if use_blist:
            var_fields.append((291, _VARLEN))
        if use_pen:
            # r13: a PEN varlen field anywhere in the template — walked
            # past, never surfaced, never misaligning its neighbors
            var_fields.append((0x333, _VARLEN, 9))
        if use_stl:
            var_fields.append((292, _VARLEN))
        for vf in var_fields:
            pos = data.draw(st.integers(0, len(fields)))
            fields.insert(pos, vf)

        from nf2pq_spark.sources.ipfix import (_i64,
                                               encode_subtemplatelist)
        (bl_ie, bl_len), bl_vals = bl
        bl_vals = [v % (1 << (8 * bl_len)) for v in bl_vals]
        # the decoded surface folds to int64 like every scalar output
        want_vals = [_i64(v) for v in bl_vals]
        stl_sub = [(11, 2), (1, 4)]
        flows = []
        for i in range(n_recs):
            f = {"sp": 100 + i, "dp": 200 + i, "pr": 6, "ipkt": 10 + i,
                 "ibyt": 1000 + i, "ts_ms": 1_700_000_000_000 + i,
                 "app": strings[0] + str(i), "desc": strings[1],
                 "user": strings[1][::-1],
                 "e9_819": strings[0] * 2,  # PEN varlen payload
                 "stl": encode_subtemplatelist(
                     450, stl_sub,
                     [{11: a, 1: b} for a, b in stl_recs]),
                 "blist": encode_basiclist(bl_ie, bl_len, bl_vals)}
            flows.append(f)
        msgs = encode_ipfix(flows, template_fields=fields, template_id=401,
                            extra_templates=[(450, stl_sub)] if use_stl
                            else None)
        tmpl: dict = {}
        rows = []
        for m in msgs:
            rows.extend(_decode_in_order(m, "e1", tmpl, strings=True))
        assert len(rows) == n_recs
        # model: template-order varlen strings, element-keyed lists;
        # PEN varlen invisible; stl flattens column-wise by element IE
        str_in_order = [ie for ie, ln in
                        [f2[:2] for f2 in fields if len(f2) == 2]
                        if ln == _VARLEN and ie not in (291, 292)]
        for i, r in enumerate(rows):
            vals = {"app": flows[i]["app"], "desc": flows[i]["desc"],
                    "user": flows[i]["user"]}
            want_s = {ie: vals[key_of[ie]] for ie in str_in_order} or None
            want_first = (vals[key_of[str_in_order[0]]]
                          if str_in_order else None)
            want_l = {}
            for f2 in fields:  # template order decides setdefault wins
                if f2 == (291, _VARLEN) and use_blist:
                    want_l.setdefault(bl_ie, want_vals)
                elif f2 == (292, _VARLEN) and use_stl:
                    want_l.setdefault(11, [a for a, _ in stl_recs])
                    want_l.setdefault(1, [_i64(b) for _, b in stl_recs])
            assert r[13] == want_first, "app_name"
            assert r[14] == want_s, "str_ies"
            assert r[15] == (want_l or None), "list_ies"
            # fixed fields on all sides of the variable region
            assert r[4] == 100 + i and r[5] == 200 + i
            assert r[9] == 1000 + i and r[0] == 1_700_000_000_000 + i

    check()


# -- RFC 7011 §3.4.1 enterprise-numbered field specs (r13) ---------------
#
# A template field spec with bit 15 of the field id set is EIGHT bytes (a
# 4-byte enterprise number follows). Reading it as a fixed 4-byte pair
# misaligned the whole remaining field walk — every subsequent field's
# layout was garbage and data records decoded silently wrong (the r12
# verdict's one wrong-answer path on RFC-valid input). PEN fields now
# decode AROUND: bytes consumed, keys disjoint, values never surfaced.


def _tset_pen(tid: int, specs: list) -> bytes:
    """Template set whose specs may be (ie, ln) or (ie, ln, pen)."""
    from nf2pq_spark.sources.ipfix import _encode_template_record

    rec = _encode_template_record(tid, specs)
    return struct.pack(">HH", 2, 4 + len(rec)) + rec


def test_pen_specs_align_the_field_walk_on_both_paths():
    """PEN fields first, mid, and last in the template: the IANA fields
    around them must decode to their exact values on the scalar AND the
    vectorized path, and both leave identical caches keyed in the
    disjoint PEN space."""
    from nf2pq_spark.sources.ipfix import _pen_key

    specs = [(0x123, 4, 9), (7, 2), (0x77, 3, 29305), (11, 2),
             (1, 8), (0x55, 16, 9)]
    payload = (b"\xde\xad\xbe\xef" + struct.pack(">H", 111)
               + b"\x01\x02\x03" + struct.pack(">H", 222)
               + struct.pack(">Q", 4242) + b"\xff" * 16)
    m = _ipfix_msg(_tset_pen(300, specs), _dset(300, payload * 2))
    t1: dict = {}
    rows = _decode_in_order(m, "e1", t1)
    assert len(rows) == 2
    for r in rows:
        assert r[4] == 111 and r[5] == 222 and r[9] == 4242  # sp, dp, ibyt
    assert t1[("e1", 300)] == [
        (_pen_key(9, 0x123), 4), (7, 2), (_pen_key(29305, 0x77), 3),
        (11, 2), (1, 8), (_pen_key(9, 0x55), 16)]
    got = _vec_rows(m, t2 := {})
    assert sorted(map(tuple, got.itertuples(index=False))) == sorted(rows)
    assert t1 == t2


def test_pen_template_stays_on_the_vectorized_path():
    """Vendor IEs must not knock a message off the frombuffer fast path:
    PEN fields of ANY fixed width ride as opaque padding columns, and so
    does every IANA IE the flow frame never reads (sourceMacAddress,
    6 bytes)."""
    import numpy as np

    from nf2pq_spark.sources.ipfix import (_np_dtype_for, _pen_key,
                                           _VecAccumulator,
                                           _decode_templated_vec)

    fields = [(_pen_key(9, 0x123), 4), (7, 2), (_pen_key(29305, 0x77), 3),
              (1, 8)]
    dt = _np_dtype_for(fields)
    assert dt is not None and dt.itemsize == 4 + 2 + 3 + 8
    assert dt["p0"] == np.dtype("V4") and dt["p2"] == np.dtype("V3")
    assert _np_dtype_for([(56, 6), (7, 2)])["p0"] == np.dtype("V6")
    # and the whole message goes through the accumulator (no scalar
    # fallback frames returned), decoding what the in-order walk does
    pen = _ipfix_msg(_tset_pen(300, [(0x123, 4, 9), (7, 2)]),
                     _dset(300, b"\x00" * 4 + struct.pack(">H", 7)))
    mac = _ipfix_msg(_tset(301, [(56, 6), (7, 2), (1, 4)]),
                     _dset(301, b"\x02\x00\x5e\x00\x53\x01"
                           + struct.pack(">HI", 7, 1500)))
    for m in (pen, mac):
        acc = _VecAccumulator()
        fallback = _decode_templated_vec(m, "e1", {}, acc)
        assert fallback == []
        frames = [f for f in acc.frames() if len(f)]
        assert len(frames) == 1 and frames[0]["sp"].iloc[0] == 7
        assert [tuple(r) for r in frames[0].itertuples(index=False)] == \
            _decode_in_order(m, "e1", {})


def test_declared_length_past_buffer_drops_packet_eagerly():
    """A v10 header whose DECLARED length exceeds the actual bytes must
    error inside _decode_templated_vec — the per-datagram drop catch —
    not defer a silently short byte slice to acc.frames(). Pins the r13
    bytes-join decode to the old frombuffer(count=n) eager-error
    contract (hypothesis found the deferred variant; this is the
    deterministic pin)."""
    import pytest

    full = _ipfix_msg(_tset(300, _AB),
                      _dset(300, struct.pack(">IIII", 1, 2, 3, 4)))
    short = full[:-8]  # header + set still declare two 8-byte records
    acc = _VecAccumulator()
    with pytest.raises(ValueError):
        _decode_templated_vec(short, "e1", {}, acc)
    assert [f for f in acc.frames() if len(f)] == []


def test_pen_varlen_value_consumed_not_surfaced():
    """A PEN varlen field's §7-prefixed bytes are walked past; its value
    never lands in str_ies (int32 map keys cannot carry a PEN key), and
    IANA varlen strings on both sides still surface correctly."""
    from nf2pq_spark.sources.ipfix import _VARLEN, encode_ipfix

    fields = [(7, 2), (96, _VARLEN), (0x321, _VARLEN, 9), (11, 2),
              (94, _VARLEN), (1, 4)]
    flows = [{"sp": 5, "app": "alpha", "e9_801": "VENDORJUNK" * 30,
              "dp": 6, "desc": "beta", "ibyt": 99}]
    msgs = encode_ipfix(flows, template_fields=fields, template_id=402)
    tmpl: dict = {}
    rows = [r for m in msgs
            for r in _decode_in_order(m, "e1", tmpl, strings=True)]
    assert len(rows) == 1
    r = rows[0]
    assert r[4] == 5 and r[5] == 6 and r[9] == 99
    assert r[13] == "alpha" and r[14] == {96: "alpha", 94: "beta"}


def test_v9_bit15_type_is_a_plain_4_byte_spec():
    """RFC 3954 has no enterprise mechanism: a v9 field type with bit 15
    set is a plain vendor type id — the spec stays 4 bytes and the walk
    must NOT consume extra bytes (only the IPFIX parsers do)."""
    fields = [(0x8123, 4), (7, 2)]
    payload = b"\xde\xad\xbe\xef" + struct.pack(">H", 314)
    m = _v9_msg(_v9_tset(301, fields),
                struct.pack(">HH", 301, 4 + len(payload)) + payload)
    t1: dict = {}
    rows = _decode_in_order(m, "e1", t1)
    assert len(rows) == 1 and rows[0][4] == 314
    assert t1[("e1", 301)] == [(0x8123, 4), (7, 2)]
    got = _vec_rows(m, t2 := {})
    assert sorted(map(tuple, got.itertuples(index=False))) == sorted(
        tuple(r) for r in rows)
    assert t1 == t2


def test_options_template_pen_specs_align():
    """PEN specs in an OPTIONS template (same §3.4.1 rule) must not
    misalign the sampling-config fields that follow them."""
    from nf2pq_spark.sources.ipfix import (_decode_ipfix_options,
                                           _parse_options_templates,
                                           _pen_key)

    # options template set (id 3): tid, n_fields, n_scope, then specs:
    # scope = obs domain (149,4); options = PEN(9, 0x42) 4 bytes +
    # samplingInterval (34,4)
    rec = struct.pack(">HHH", 420, 3, 1)
    rec += struct.pack(">HH", 149, 4)
    rec += struct.pack(">HHI", 0x8000 | 0x42, 4, 9)
    rec += struct.pack(">HH", 34, 4)
    tset = struct.pack(">HH", 3, 4 + len(rec)) + rec
    data = struct.pack(">III", 7, 0xAAAAAAAA, 1000)
    m = _ipfix_msg(tset, _dset(420, data))
    cache: dict = {}
    _parse_options_templates(m, "e1", cache)
    assert cache[("e1", 420)] == [(149, 4), (_pen_key(9, 0x42), 4),
                                  (34, 4)]
    out = _decode_ipfix_options(m, "e1", cache)
    assert out == [("e1", 7, 1000, 0, "")]


def test_v10_record_count_with_pen_template():
    """Sequence accounting: a PEN template's record width must include
    the PEN field widths (the misaligned walk also corrupted rec_len)."""
    from nf2pq_spark.sources.ipfix import _v10_record_count

    specs = [(0x123, 4, 9), (7, 2)]
    payload = (b"\x00" * 6) * 3
    m = _ipfix_msg(_tset_pen(300, specs), _dset(300, payload))
    assert _v10_record_count(m, "e1", {}) == 3


def test_scalar_vectorized_differential_draws_pen_fields():
    """The r12 differential property, PEN edition: random templates
    interleaving IANA and enterprise specs (random PENs, random widths
    incl. the V-padding exotics) — scalar and vectorized must agree on
    rows AND caches for every draw."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    iana = st.tuples(
        st.sampled_from([1, 2, 4, 7, 8, 11, 12, 16, 17, 152, 153, 100]),
        st.sampled_from([1, 2, 3, 4, 6, 8, 16]))
    pen = st.tuples(st.integers(0, 0x7FFF),
                    st.sampled_from([1, 2, 3, 4, 6, 8, 16]),
                    st.sampled_from([9, 29305, 3729, 0xFFFFFFFF]))
    fields_s = st.lists(iana | pen, min_size=1, max_size=6).filter(
        lambda fs: any(len(f) == 3 for f in fs))

    @given(fields=fields_s, n_recs=st.integers(0, 3), data=st.data())
    @settings(max_examples=200, deadline=None)
    def run(fields, n_recs, data):
        rec_len = sum(f[1] for f in fields)
        payload = data.draw(st.binary(min_size=rec_len * n_recs,
                                      max_size=rec_len * n_recs))
        m = _ipfix_msg(_tset_pen(300, fields),
                       struct.pack(">HH", 300, 4 + len(payload)) + payload)
        rows, got, teq = _both(m)
        assert teq
        assert rows == got

    run()


# -- RFC 6313 subTemplateList / subTemplateMultiList (r13) ---------------


def _stl_flows_msg(fields, flows, extra_templates, tid=403):
    from nf2pq_spark.sources.ipfix import encode_ipfix

    return encode_ipfix(flows, template_fields=fields, template_id=tid,
                        extra_templates=extra_templates)


def test_subtemplatelist_roundtrip_columnwise():
    """An stl of (sp, ibyt) sub-records surfaces column-wise in list_ies
    keyed by element IE, and fixed fields after the list keep decoding."""
    from nf2pq_spark.sources.ipfix import (_VARLEN, _decode_in_order,
                                           encode_subtemplatelist)

    sub = [(7, 2), (1, 4)]
    recs = [{7: 10, 1: 100}, {7: 20, 1: 200}, {7: 30, 1: 300}]
    fields = [(4, 1), (292, _VARLEN), (2, 4)]
    flows = [{"pr": 6, "stl": encode_subtemplatelist(340, sub, recs),
              "ipkt": 55}]
    msgs = _stl_flows_msg(fields, flows, [(340, sub)])
    tmpl: dict = {}
    rows = [r for m in msgs
            for r in _decode_in_order(m, "e1", tmpl, strings=True)]
    assert len(rows) == 1
    r = rows[0]
    assert r[6] == 6 and r[8] == 55  # pr, ipkt (after the list)
    assert r[15] == {7: [10, 20, 30], 1: [100, 200, 300]}
    assert r[13] is None and r[14] is None  # no varlen strings


def test_subtemplatemultilist_segments_concatenate():
    """stml: same-template segments concatenate in wire order; segments
    of a second template surface side by side; a segment whose template
    is unknown is skipped whole (never the record)."""
    from nf2pq_spark.sources.ipfix import (_VARLEN, _decode_in_order,
                                           encode_subtemplatemultilist)

    subA, subB = [(11, 2)], [(2, 4)]
    stml = encode_subtemplatemultilist([
        (341, subA, [{11: 1}, {11: 2}]),
        (342, subB, [{2: 9}]),
        (999, [(5, 1)], [{5: 1}]),     # never announced -> skipped
        (341, subA, [{11: 3}]),
    ])
    fields = [(4, 1), (293, _VARLEN), (1, 4)]
    flows = [{"pr": 17, "stml": stml, "ibyt": 77}]
    msgs = _stl_flows_msg(fields, flows, [(341, subA), (342, subB)])
    tmpl: dict = {}
    rows = [r for m in msgs
            for r in _decode_in_order(m, "e1", tmpl, strings=True)]
    assert len(rows) == 1
    r = rows[0]
    assert r[6] == 17 and r[9] == 77
    assert r[15] == {11: [1, 2, 3], 2: [9]}


def test_subtemplatelist_unknown_template_skips_field_not_record():
    from nf2pq_spark.sources.ipfix import (_VARLEN, _decode_in_order,
                                           encode_subtemplatelist)

    fields = [(7, 2), (292, _VARLEN), (1, 4)]
    flows = [{"sp": 8, "stl": encode_subtemplatelist(350, [(11, 2)],
                                                     [{11: 4}]),
              "ibyt": 12}]
    msgs = _stl_flows_msg(fields, flows, [])  # 350 never announced
    tmpl: dict = {}
    rows = [r for m in msgs
            for r in _decode_in_order(m, "e1", tmpl, strings=True)]
    assert len(rows) == 1
    assert rows[0][4] == 8 and rows[0][9] == 12
    assert rows[0][15] is None


def test_subtemplate_pen_and_varlen_columns_walked_around():
    """Sub-records may carry PEN and varlen fields: their widths are
    honored (no misalignment of later columns) but only the 1-8-byte
    IANA ints surface."""
    from nf2pq_spark.sources.ipfix import (_decode_subrecords, _pen_key,
                                           _VARLEN)

    sub = [(_pen_key(9, 5), 3), (7, 2), (96, _VARLEN), (1, 4)]
    b = (b"\x01\x02\x03" + struct.pack(">H", 42)
         + bytes([3]) + b"abc" + struct.pack(">I", 1000)
         + b"\x04\x05\x06" + struct.pack(">H", 43)
         + bytes([0]) + struct.pack(">I", 2000))
    out = _decode_subrecords(b, 0, len(b), sub)
    assert out == {7: [42, 43], 1: [1000, 2000]}


def test_subrecords_ragged_tail_truncates():
    from nf2pq_spark.sources.ipfix import _decode_subrecords

    b = struct.pack(">HH", 1, 2) + b"\x00"  # 1.5 records of [(7,2)]... 
    out = _decode_subrecords(b, 0, len(b), [(7, 2)])
    assert out == {7: [1, 2]}


def test_subrecords_unsupported_shapes_return_none():
    from nf2pq_spark.sources.ipfix import (_decode_subrecords, _pen_key,
                                           _VARLEN)

    # nothing surfaceable: all PEN / all wide / degenerate zero-width
    assert _decode_subrecords(b"\x00" * 8, 0, 8,
                              [(_pen_key(9, 5), 4)]) is None
    assert _decode_subrecords(b"\x00" * 32, 0, 32, [(27, 16)]) is None
    assert _decode_subrecords(b"", 0, 0, [(7, 0)]) is None


def test_subtemplatemultilist_malformed_segment_header_stops():
    """A segment length < 4 cannot advance — stop the walk, keep what
    decoded (never spin, never kill the record)."""
    from nf2pq_spark.sources.ipfix import _parse_subtemplatemultilist

    good = struct.pack(">HH", 341, 4 + 2) + struct.pack(">H", 6)
    bad = struct.pack(">HH", 341, 2)  # length 2 < 4
    b = bytes([3]) + good + bad + good
    tmpl = {("e1", 341): [(11, 2)]}
    assert _parse_subtemplatemultilist(b, "e1", tmpl) == {11: [6]}


def test_subtemplatelist_empty_records_surface_empty_lists():
    from nf2pq_spark.sources.ipfix import (_parse_subtemplatelist,
                                           encode_subtemplatelist)

    b = encode_subtemplatelist(340, [(7, 2)], [])
    tmpl = {("e1", 340): [(7, 2)]}
    assert _parse_subtemplatelist(b, "e1", tmpl) == {7: []}


# -- the shared set walker (_message_sets / _iter_sets) -----------------------

_D8 = _dset(256, b"\x00" * 8)  # one 12-byte data set


def _v10_declaring(length: int, body: bytes) -> bytes:
    return struct.pack(">HHIII", 10, length, 0, 0, 1) + body


@pytest.mark.parametrize("msg, sets", [
    # zero / short set length: zero padding read as a set ends the walk
    (_ipfix_msg(_D8, struct.pack(">HH", 2, 0), _D8), [(256, 20, 28)]),
    (_ipfix_msg(struct.pack(">HH", 2, 3), _D8), []),
    # a set overrunning the declared length is clamped to it
    (_ipfix_msg(struct.pack(">HH", 256, 40) + b"\x00" * 8),
     [(256, 20, 28)]),
    # trailing padding shorter than a set header is not a set
    (_ipfix_msg(_D8, b"\x00" * 3), [(256, 20, 28)]),
    # v9 has no byte length: sets run to (and clamp at) the datagram end
    (_v9_msg(_D8, struct.pack(">HH", 257, 40) + b"\x00" * 6),
     [(256, 24, 32), (257, 36, 42)]),
    # a v10 header declaring more bytes than it holds raises at the
    # first set header past the buffer (inside the per-datagram drop)
    (_v10_declaring(16 + 12 + 8, _D8), struct.error),
    # unknown versions have no sets
    (struct.pack(">HH", 7, 40) + _D8 * 3, []),
], ids=["zero-length", "short-length", "overruns-declared-length",
        "short-trailing-padding", "v9-to-datagram-end",
        "declared-past-buffer", "unknown-version"])
def test_set_walker_framing(msg, sets):
    """The one set walk every decoder, harvester and counter uses."""
    from nf2pq_spark.sources.ipfix import _message_sets

    if isinstance(sets, type):
        with pytest.raises(sets):
            list(_message_sets(msg)[3])
    else:
        assert list(_message_sets(msg)[3]) == sets


def test_options_varlen_overrun_discards_partial_record_not_datagram():
    """Options twin of test_varlen_overrun_discards_partial_record_not_
    datagram: a samplerName length prefix claiming more bytes than its
    set holds drops the PARTIAL record and ends that set — the next
    set's bytes never land in sampler_name, and the datagram's other
    sets still decode."""
    from nf2pq_spark.sources.ipfix import (_decode_ipfix_options,
                                           _parse_options_templates)

    fields = [(149, 4), (34, 4), (35, 1), (84, 0xFFFF)]
    body = struct.pack(">HHH", 400, len(fields), 1) + b"".join(
        struct.pack(">HH", ie, ln) for ie, ln in fields)
    tmpl_set = struct.pack(">HH", 3, 4 + len(body)) + body

    def rec(dom: int, interval: int, algo: int, name: bytes,
            claim: int | None = None) -> bytes:
        n = len(name) if claim is None else claim
        return struct.pack(">IIBB", dom, interval, algo, n) + name

    msg = _ipfix_msg(tmpl_set,
                     _dset(400, rec(7, 100, 1, b"abc")
                           + rec(8, 50, 1, b"ZZ", claim=40)),
                     _dset(400, rec(9, 200, 2, b"xyz")))
    cache: dict = {}
    _parse_options_templates(msg, "e1", cache)
    assert _decode_ipfix_options(msg, "e1", cache) == [
        ("e1", 7, 100, 1, "abc"), ("e1", 9, 200, 2, "xyz")]


def test_scalar_and_vectorized_agree_on_declared_length_cut():
    """The v10 header's declared length bounds every set on both decode
    paths: a message whose declared length cuts its data set short
    decodes to the same single flow through the scalar walk
    (decode_strings and the conflict fallback) and the vectorized one."""
    from nf2pq_spark.sources.ipfix import encode_ipfix

    flows = [dict(sa_int=0x0A000001 + i, da_int=0x0A000002, sp=1000 + i,
                  dp=53, pr=17, flg=0, ipkt=3, ibyt=300,
                  ts_ms=1_700_000_000_000, te_ms=1_700_000_000_500,
                  sas=1, das=2) for i in range(2)]
    (msg,) = encode_ipfix(flows)
    length = struct.unpack_from(">H", msg, 2)[0]
    cut = msg[:2] + struct.pack(">H", length - 10) + msg[4:]
    scalar = _decode_in_order(cut, "e1", {})
    assert len(scalar) == 1
    assert sorted(scalar) == sorted(
        tuple(r) for r in _vec_rows(cut).itertuples(index=False))


@pytest.mark.parametrize("v9", [False, True], ids=["ipfix", "v9"])
def test_template_record_longer_than_its_set_caches_nothing(v9):
    """A template record claiming 4 field specs in a set holding 2 read
    the following data set's header and first record as specs and
    cached the layout [(8, 4), (12, 4), (256, 12), (0, 1)]. The specs
    are bounded by their set: every walk drops the datagram, and no
    layout is cached for the tid."""
    from nf2pq_spark.sources.ipfix import make_decoder

    rec = struct.pack(">HH", 256, 4) + b"".join(
        struct.pack(">HH", ie, ln) for ie, ln in _AB)
    tset = struct.pack(">HH", 0 if v9 else 2, 4 + len(rec)) + rec
    dset = _dset(256, struct.pack(">II", 1, 2))
    msg = _v9_msg(tset, dset) if v9 else _ipfix_msg(tset, dset)
    with pytest.raises(struct.error):
        list(_iter_template_sets(msg))
    for walk in (_decode_in_order, lambda m, e, t: _decode_templated_vec(
            m, e, t, _VecAccumulator())):
        templates: dict = {}
        with pytest.raises(struct.error):
            walk(msg, "e1", templates)
        assert ("e1", 256) not in templates
    pdf = pd.DataFrame({"path": ["caps/e1/cap_0.bin"], "content": [msg]})
    assert sum(len(f) for f in make_decoder()(iter([pdf]))) == 0


def test_v9_varlen_width_drops_its_data_sets_on_both_walks():
    """RFC 3954 has no variable-length encoding: a v9 template field of
    length 65535 is a literal width no set can hold, so its data sets
    drop on the in-order and the vectorized walk alike, for an IE the
    flow frame reads or not. The same layout in IPFIX is an RFC 7011 §7
    varlen field and decodes."""
    payload = (struct.pack(">H", 1001) + bytes([2]) + b"ok"
               + struct.pack(">H", 53))
    for fields in ([(7, 2), (650, 0xFFFF), (11, 2)],
                   [(7, 2), (8, 0xFFFF), (11, 2)]):
        m9 = _v9_msg(_v9_tset(300, fields), _dset(300, payload))
        rows, got, teq = _both(m9)
        assert rows == got == [] and teq
        m10 = _ipfix_msg(_tset(300, fields), _dset(300, payload))
        rows, got, teq = _both(m10)
        assert rows == got and teq
        assert [(r[4], r[5]) for r in rows] == [(1001, 53)]


def test_make_decoder_mixed_corpus_with_and_without_strings():
    """One capture mixing v5, v9, fixed-width IPFIX, varlen IPFIX, an
    unusual width (a 3-byte octet count) and an in-message template
    change decodes to the same 13 flow columns, as a multiset, with
    ``with_strings`` on and off, and to the same rows as the reference
    walks (_decode_v5 and _decode_in_order, datagram by datagram). With
    strings on, the string columns are NULL on every row whose template
    has no variable-length field."""
    from collections import Counter

    from nf2pq_spark.sources.ipfix import (_CAPTURE_MAGIC, _VARLEN,
                                           FLOW_STR_SCHEMA, _decode_v5,
                                           encode_ipfix, encode_netflow_v5,
                                           encode_netflow_v9, make_decoder)

    def flows(base, n=4):
        return [{"sa_int": base + i, "da_int": 99, "sp": i, "dp": 443,
                 "pr": 6, "flg": 16, "ipkt": 1 + i, "ibyt": 100 + i,
                 "ts_ms": 1_700_000_000_000 + base + i,
                 "te_ms": 1_700_000_000_500 + base + i, "sas": 1, "das": 2,
                 "app": f"app{i}"} for i in range(n)]

    varlen = [(8, 4), (7, 2), (96, _VARLEN), (1, 4), (152, 8)]
    odd = [(8, 4), (7, 2), (1, 3), (152, 8)]
    ab = [(8, 4), (12, 4)]
    conflict = _ipfix_msg(
        _tset(340, ab), _dset(340, struct.pack(">IIII", 600, 1, 601, 2)),
        _tset(340, [(8, 4)]), _dset(340, struct.pack(">II", 602, 603)))
    dgrams = (encode_netflow_v5(flows(100), per_packet=3)
              + encode_netflow_v9(flows(200), per_packet=3)
              + encode_ipfix(flows(300), per_packet=3)
              + encode_ipfix(flows(400), per_packet=3, template_id=320,
                             template_fields=varlen)
              + encode_ipfix(flows(500), per_packet=3, template_id=330,
                             template_fields=odd)
              + [conflict])
    content = _CAPTURE_MAGIC + b"".join(
        struct.pack(">I", len(d)) + d for d in dgrams)
    pdf = pd.DataFrame({"path": ["caps/e1/cap_0.bin"],
                        "content": [content]})

    def decoded(with_strings):
        return pd.concat(list(make_decoder(with_strings=with_strings)(
            iter([pdf.copy()]))), ignore_index=True)

    plain, strs = decoded(False), decoded(True)
    assert list(plain.columns) == _COLS
    assert list(strs.columns) == [f.name for f in FLOW_STR_SCHEMA.fields]
    templates: dict = {}
    ref = [tuple(r) for d in dgrams
           for r in (_decode_v5(d, "caps/e1") if d[1] == 5 else
                     _decode_in_order(d, "caps/e1", templates))]
    assert len(ref) == 5 * 4 + 4
    for frame in (plain, strs):
        got = Counter(tuple(r) for r in frame[_COLS].itertuples(index=False))
        assert got == Counter(ref)
    is_varlen = strs["sa"].isin([f"0.0.1.{144 + i}" for i in range(4)])
    assert sorted(strs.loc[is_varlen, "app_name"]) == [
        f"app{i}" for i in range(4)]
    rest = strs.loc[~is_varlen, ["app_name", "str_ies", "list_ies"]]
    assert len(rest) == len(strs) - 4 and rest.isna().all(axis=None)

