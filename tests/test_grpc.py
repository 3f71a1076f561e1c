"""gRPC wire binding tests: serve QueryServer over a REAL localhost TCP
channel and dial it with the in-repo gRPC client — the wire-level
counterpart of test_query_server.py (reference api/grpc/thanos_test.go
dials its served port the same way).

Covers all six methods (Info, Query, QueryRange, Series, LabelNames,
LabelValues), the gRPC error path (grpc-status propagation), XOR chunk
decode of Series responses, and codec roundtrips for the hand-rolled
HPACK / proto3 layers.
"""

from __future__ import annotations

import math

import pytest

from tests.conftest import make_samples

S = 1000


@pytest.fixture(scope="module")
def served(spark):
    """One server + client pair over a real localhost socket."""
    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.api.grpc_client import ThanosGrpcClient
    from thanos_parquet_gateway_spark.api.grpc_server import ThanosGrpcServer

    rows = [({"__name__": "m", "job": "a", "replica": "r1"}, 10 * S, 1.0),
            ({"__name__": "m", "job": "a", "replica": "r1"}, 20 * S, 2.0),
            ({"__name__": "m", "job": "a", "replica": "r2"}, 20 * S, 99.0),
            ({"__name__": "m", "job": "b", "replica": "r1"}, 15 * S, 5.0),
            ({"__name__": "n", "job": "b", "replica": "r1"}, 25 * S, 7.0)]
    qs = QueryServer(make_samples(spark, rows), lookback_ms=60 * S,
                     deterministic=True, ext_labels={"cluster": "test"})
    with ThanosGrpcServer(qs) as srv:
        with ThanosGrpcClient(srv.host, srv.port) as cli:
            yield cli


def test_info_over_wire(served):
    info = served.info()
    assert info["componentType"] == "query"
    assert info["store"]["minTime"] == 10 * S
    assert info["store"]["maxTime"] == 25 * S
    assert info["store"]["supportsWithoutReplicaLabels"] is True
    assert info["store"]["tsdbInfos"][0]["labels"] == {"cluster": "test"}


def test_query_over_wire(served):
    msgs = served.query("sum by (job) (m)", 30)
    series = {tuple(sorted(m["timeseries"]["labels"].items())):
              m["timeseries"]["samples"]
              for m in msgs if "timeseries" in m}
    # instant semantics: latest sample per series at t (r1→2.0, r2→99.0)
    assert series[(("job", "a"),)] == [(30 * S, 101.0)]
    assert series[(("job", "b"),)] == [(30 * S, 5.0)]


def test_query_replica_dedup_over_wire(served):
    msgs = served.query("sum(m)", 30, replica_labels=["replica"])
    vals = [m["timeseries"]["samples"][0][1]
            for m in msgs if "timeseries" in m]
    assert vals == [7.0]  # winner replica r1 only: job=a 2.0 + job=b 5.0


def test_query_range_over_wire(served):
    msgs = served.query_range("sum(m)", 0, 30, 10)
    ts = [m["timeseries"] for m in msgs if "timeseries" in m]
    assert len(ts) == 1
    samples = dict(ts[0]["samples"])
    # at t=20s: job=a r1 latest = 2.0, r2 = 99.0, job=b (15s, in
    # lookback) = 5.0
    assert samples[20 * S] == 2.0 + 99.0 + 5.0


def test_series_over_wire(served):
    from thanos_parquet_gateway_spark.api.chunkenc import decode_xor_chunk

    res = served.series([("=", "__name__", "m"), ("=", "job", "a")],
                        0, 60 * S)
    got = {}
    for m in res:
        s = m["series"]
        samples = []
        for c in s["chunks"]:
            assert c["type"] == 0  # XOR
            samples += decode_xor_chunk(c["data"])
        got[tuple(sorted(s["labels"].items()))] = samples
    # external label cluster=test decorates exported series (thanos.go
    # external-label decoration on the Series path)
    assert got == {
        (("__name__", "m"), ("cluster", "test"), ("job", "a"),
         ("replica", "r1")): [(10 * S, 1.0), (20 * S, 2.0)],
        (("__name__", "m"), ("cluster", "test"), ("job", "a"),
         ("replica", "r2")): [(20 * S, 99.0)],
    }


def test_series_skip_chunks_and_limit(served):
    res = served.series([("=~", "__name__", ".+")], 0, 60 * S,
                        skip_chunks=True)
    assert all(m["series"]["chunks"] == [] for m in res)
    assert len(res) == 4
    limited = served.series([("=~", "__name__", ".+")], 0, 60 * S,
                            skip_chunks=True, limit=2)
    warnings = [m["warning"] for m in limited if "warning" in m]
    assert len([m for m in limited if "series" in m]) == 2
    assert warnings  # truncation warning streamed like thanos.go:413-418


def test_series_memo_over_wire(spark):
    """Repeated gRPC Series calls collect the engine's memoized export
    plan and stream identical responses; another skip_chunks, matcher or
    time range is another plan, and limit=1 after an unlimited call still
    truncates and warns."""
    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.api.grpc_client import ThanosGrpcClient
    from thanos_parquet_gateway_spark.api.grpc_server import ThanosGrpcServer

    rows = [({"__name__": "m", "job": j}, t * S, float(t))
            for j in "ab" for t in (10, 20)]
    qs = QueryServer(make_samples(spark, rows), lookback_ms=60 * S,
                     deterministic=True)
    sel = [("=", "__name__", "m")]
    with ThanosGrpcServer(qs) as srv:
        with ThanosGrpcClient(srv.host, srv.port) as cli:
            counts = qs._api(None).engine.plan_cache_counts
            first = cli.series(sel, 0, 60 * S)
            before = counts()
            assert cli.series(sel, 0, 60 * S) == first
            assert counts()["hits"] == before["hits"] + 1
            assert len(first) == 2 and all(m["series"]["chunks"]
                                           for m in first)
            for call in (lambda: cli.series(sel, 0, 60 * S,
                                            skip_chunks=True),
                         lambda: cli.series(sel + [("=", "job", "a")],
                                            0, 60 * S),
                         lambda: cli.series(sel, 0, 50 * S)):
                before = counts()["misses"]
                call()
                assert counts()["misses"] == before + 1
            cut = cli.series(sel, 0, 60 * S, limit=1)
            assert [m for m in cut if "series" in m] == first[:1]
            assert [m["warning"] for m in cut if "warning" in m]


def test_label_names_values_over_wire(served):
    names = served.label_names(0, 60 * S)
    assert names["values"] == ["__name__", "cluster", "job", "replica"]
    vals = served.label_values("job", 0, 60 * S)
    assert vals["values"] == ["a", "b"]
    vals = served.label_values("job", 0, 60 * S,
                               matchers=[("=", "__name__", "n")])
    assert vals["values"] == ["b"]


def test_grpc_error_status(served):
    from thanos_parquet_gateway_spark.api.grpc_client import GrpcError

    with pytest.raises(GrpcError) as ei:
        served.query("sum(", 30)
    assert ei.value.code == 10  # ABORTED: unable to create query
    assert "unable to create query" in ei.value.message

    with pytest.raises(GrpcError) as ei:
        served.call("/thanos.Nope/Nope", b"")
    assert ei.value.code == 12  # UNIMPLEMENTED


def test_stats_message_streamed(served):
    msgs = served.query("sum(m)", 30)
    stats = [m["stats"] for m in msgs if "stats" in m]
    assert stats and stats[0]["samples_total"] > 0


# ------------------------------------------------------- codec unit tests

def test_hpack_roundtrip():
    from thanos_parquet_gateway_spark.api.hpack import Decoder, Encoder

    enc, dec = Encoder(), Decoder()
    headers = [(":method", "POST"), (":path", "/thanos.Query/Query"),
               ("content-type", "application/grpc"), ("te", "trailers"),
               ("x-custom", "v" * 200)]
    assert dec.decode(enc.encode(headers)) == headers
    # second block: repeated headers hit the dynamic table (indexed form)
    block2 = enc.encode(headers)
    assert len(block2) < 20
    assert dec.decode(block2) == headers


def test_xor_chunk_matches_format_edges():
    from thanos_parquet_gateway_spark.api.chunkenc import (
        decode_xor_chunk,
        encode_xor_chunk,
    )

    cases = [
        [],
        [(-7_500_000, 1.5)],                       # negative first ts
        [(0, 0.0), (15_000, 0.0), (30_000, 0.0)],  # dod=0 fast path
        [(0, 1.0), (1, 2.0), (100_000_000, -3.0)], # 64-bit dod ladder
        [(0, float("nan")), (10, float("inf")), (20, -0.0)],
    ]
    for c in cases:
        dec = decode_xor_chunk(encode_xor_chunk(c))
        assert len(dec) == len(c)
        for (t0, v0), (t1, v1) in zip(c, dec):
            assert t0 == t1
            assert (v0 == v1 or (math.isnan(v0) and math.isnan(v1)))
            if v0 == 0.0:
                assert math.copysign(1, v0) == math.copysign(1, v1)


def test_proto_roundtrips():
    from thanos_parquet_gateway_spark.api import grpc_pb as pb

    req = pb.decode_query_request(pb.encode_query_request(
        "sum(up)", 1234, replica_labels=["replica", "rep2"],
        lookback_delta_seconds=300))
    assert req["query"] == "sum(up)" and req["time_seconds"] == 1234
    assert req["replica_labels"] == ["replica", "rep2"]
    assert req["lookback_delta_seconds"] == 300

    sr = pb.decode_series_request(pb.encode_series_request(
        -5, 99, [("=~", "job", "a.*"), ("!=", "x", "")],
        skip_chunks=True, limit=7))
    assert sr["min_time"] == -5 and sr["max_time"] == 99
    assert sr["matchers"] == [("=~", "job", "a.*"), ("!=", "x", "")]
    assert sr["skip_chunks"] is True and sr["limit"] == 7
    assert pb.matchers_to_selector(sr["matchers"]) == \
        '{job=~"a.*", x!=""}'

    ts = pb.decode_time_series(pb.encode_time_series(
        {"__name__": "m", "job": "a"}, [(1000, 1.5), (2000, float("inf"))]))
    assert ts["labels"] == {"__name__": "m", "job": "a"}
    assert ts["samples"] == [(1000, 1.5), (2000, float("inf"))]


def test_matchers_to_selector_escaping():
    """Matcher values splice into a PromQL selector string; backslashes
    (every regex matcher) and quotes must survive the re-parse — the
    reference passes matchers structurally (storepb.MatchersToPromMatchers,
    thanos.go:379), so a lossy splice would silently change the query."""
    from thanos_parquet_gateway_spark.api import grpc_pb as pb
    from thanos_parquet_gateway_spark.promql.parser import parse

    cases = [("=~", "pod", r"api-\d+"),
             ("=", "msg", 'say "hi"\n'),
             ("!=", "path", "C:\\tmp\\x"),
             ("=", "weird.name", "v")]  # non-identifier → quoted name form
    sel = pb.matchers_to_selector(cases)
    parsed = parse(sel)
    got = {(m.op, m.label, m.value) for m in parsed.matchers}
    assert got == {(op, name, val) for op, name, val in cases}


def test_decode_xor_chunk_truncated():
    """Truncated/empty wire payloads must raise a clean codec error, not
    IndexError — the gRPC client feeds wire bytes straight in."""
    import pytest
    from thanos_parquet_gateway_spark.api.chunkenc import (decode_xor_chunk,
                                                           encode_xor_chunk)
    for payload in (b"", b"\x00"):
        with pytest.raises(ValueError, match="too short"):
            decode_xor_chunk(payload)
    full = encode_xor_chunk([(1000, 1.5), (2000, 2.5), (3000, -1.0)])
    with pytest.raises(ValueError, match="truncated"):
        decode_xor_chunk(full[: len(full) - 2])


def test_per_request_lookback_delta(served):
    """The reference threads req.LookbackDeltaSeconds into query opts
    (thanos.go:247): a short lookback must drop series whose last sample
    is older than the delta."""
    import thanos_parquet_gateway_spark.api.grpc_pb as pb

    # default lookback (60s): at t=60s, every m series is still live
    full = [m for m in served.query("sum(m)", 60) if "timeseries" in m]
    assert full and full[0]["timeseries"]["samples"][0][1] == 106.0
    # 5s lookback: newest samples are at 20s -> nothing within (55s, 60s]
    msgs = served.call("/thanos.Query/Query", pb.encode_query_request(
        "sum(m)", 60, lookback_delta_seconds=5))
    assert not [m for m in msgs
                if "timeseries" in pb.decode_query_response(m)]


def test_flow_control_respects_peer_windows():
    """A real grpc-go peer starts at 64 KB windows and must kill the
    connection on over-window DATA (FLOW_CONTROL_ERROR): the sender has to
    chunk against the peer's connection + stream windows and resume only on
    WINDOW_UPDATE.  Drives Conn.send_data over a socketpair against a raw
    RFC 7540 peer that never raises its initial window."""
    import socket
    import struct
    import threading

    from thanos_parquet_gateway_spark.api import h2

    a, b = socket.socketpair()
    sender, receiver = h2.Conn(a), h2.Conn(b)
    payload = bytes(range(256)) * 1024  # 256 KiB >> 65535
    sid = 1

    got: list[bytes] = []
    violations: list[str] = []
    done = threading.Event()

    def peer() -> None:
        conn_win = stream_win = 65535
        while True:
            ftype, flags, fsid, data = receiver.read_frame()
            if ftype != h2.DATA:
                continue
            if len(data) > min(conn_win, stream_win):
                violations.append(
                    f"DATA {len(data)}B over window "
                    f"(conn={conn_win}, stream={stream_win})")
                break
            conn_win -= len(data)
            stream_win -= len(data)
            got.append(data)
            if flags & h2.FLAG_END_STREAM:
                break
            if min(conn_win, stream_win) < 32768:  # drip updates
                for upd_sid, incr in ((0, 65535 - conn_win),
                                      (fsid, 65535 - stream_win)):
                    if incr > 0:
                        receiver.send(h2.pack_frame(
                            h2.WINDOW_UPDATE, 0, upd_sid,
                            struct.pack(">I", incr)))
                        if upd_sid == 0:
                            conn_win += incr
                        else:
                            stream_win += incr
        done.set()

    def pump_sender_acks() -> None:
        # sender side must process the peer's WINDOW_UPDATEs to unblock
        while not done.is_set():
            try:
                ftype, flags, fsid, data = sender.read_frame()
            except (ConnectionError, OSError):
                return
            if ftype == h2.WINDOW_UPDATE:
                sender.handle_window_update(fsid, data)

    t1 = threading.Thread(target=peer, daemon=True)
    t2 = threading.Thread(target=pump_sender_acks, daemon=True)
    t1.start(); t2.start()
    sender.send_data(sid, payload, end_stream=True)
    assert done.wait(20), "peer never saw END_STREAM"
    a.close(); b.close()
    assert not violations, violations
    assert b"".join(got) == payload


def test_settings_initial_window_adjusts_open_streams():
    """RFC 7540 §6.9.2: a SETTINGS_INITIAL_WINDOW_SIZE change retroactively
    adjusts every open stream's send window by the delta."""
    import socket
    import struct

    from thanos_parquet_gateway_spark.api import h2

    a, b = socket.socketpair()
    try:
        conn = h2.Conn(a)
        # open a stream window implicitly at the 65535 default
        conn._acquire_send_quota(5, 10)
        assert conn.stream_send_windows[5] == 65535 - 10
        conn.handle_settings(0, struct.pack(
            ">HI", h2.SETTINGS_INITIAL_WINDOW_SIZE, 100_000))
        assert conn.peer_initial_window == 100_000
        assert conn.stream_send_windows[5] == 100_000 - 10
        # new streams start at the new initial window
        conn._acquire_send_quota(7, 1)
        assert conn.stream_send_windows[7] == 100_000 - 1
    finally:
        a.close(); b.close()


def test_native_histogram_over_wire(spark):
    """Native-histogram series ride the full wire: Query streams prompb
    histogram samples (reference thanos.go:274-277) and Series carries
    FLOAT_HISTOGRAM-typed chunks (thanos.go:462-473) that decode back to
    the exact bucket model."""
    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.api import grpc_pb as pb
    from thanos_parquet_gateway_spark.api.grpc_client import ThanosGrpcClient
    from thanos_parquet_gateway_spark.api.grpc_server import ThanosGrpcServer

    inf = float("inf")
    h1 = (7.0, 11.5, [(-2.0, 1.0), (0.0, 2.0), (1.0, 3.0), (4.0, 1.0),
                      (inf, 0.0)], 0)         # exponential schema 0
    h2 = (9.0, 14.0, [(-2.0, 1.0), (0.0, 2.0), (1.0, 4.0), (4.0, 2.0),
                      (inf, 0.0)], 0)
    hc = (6.0, 3.0, [(0.1, 2.0), (0.5, 3.0), (inf, 1.0)], -53)  # NHCB
    rows = [({"__name__": "hist_m", "job": "a"}, 10 * S, {"hist": h1}),
            ({"__name__": "hist_m", "job": "a"}, 20 * S, {"hist": h2}),
            ({"__name__": "hist_c", "job": "b"}, 20 * S, {"hist": hc}),
            ({"__name__": "f", "job": "a"}, 20 * S, 5.0)]
    qs = QueryServer(make_samples(spark, rows), lookback_ms=60 * S,
                     deterministic=True)
    with ThanosGrpcServer(qs) as srv:
        with ThanosGrpcClient(srv.host, srv.port) as cli:
            # --- Series: hist samples come back as FLOAT_HISTOGRAM chunks
            res = cli.series([("=", "__name__", "hist_m")], 0, 60 * S)
            series = [m["series"] for m in res if "series" in m]
            assert len(series) == 1
            chunks = series[0]["chunks"]
            assert [c["type"] for c in chunks] == [pb.CHUNK_FLOAT_HISTOGRAM]
            got = pb.decode_histogram_chunk(chunks[0]["data"])
            assert [(t, h["count"], h["sum"], h["schema"])
                    for t, h in got] == [(10 * S, 7.0, 11.5, 0),
                                         (20 * S, 9.0, 14.0, 0)]
            assert got[0][1]["buckets"] == h1[2]
            assert got[1][1]["buckets"] == h2[2]

            # NHCB series round-trips custom bounds
            res = cli.series([("=", "__name__", "hist_c")], 0, 60 * S)
            ch = [m["series"]["chunks"] for m in res if "series" in m][0]
            # NHCB can't ride the varbit layout — it ships under the
            # private out-of-range enum so conformant peers skip it
            assert ch[0]["type"] == pb.CHUNK_PROMPB_FLOAT_HISTOGRAM
            (t, h), = pb.decode_histogram_chunk(ch[0]["data"],
                                                ch[0]["type"])
            assert (t, h["schema"], h["buckets"]) == (20 * S, -53, hc[2])

            # a float series on the same server still rides XOR chunks
            res = cli.series([("=", "__name__", "f")], 0, 60 * S)
            ch = [m["series"]["chunks"] for m in res if "series" in m][0]
            assert ch[0]["type"] == pb.CHUNK_XOR

            # --- Query: instant selector on a hist metric streams prompb
            # histograms, not NaN float samples
            msgs = cli.query("hist_m", 30)
            ts = [m["timeseries"] for m in msgs if "timeseries" in m]
            assert len(ts) == 1 and not ts[0]["samples"]
            hists = ts[0]["histograms"]
            assert len(hists) == 1
            assert (hists[0]["count"], hists[0]["sum"]) == (9.0, 14.0)
            assert hists[0]["buckets"] == h2[2]

            # histogram arithmetic stays a histogram over the wire
            msgs = cli.query("hist_m + hist_m", 30)
            ts = [m["timeseries"] for m in msgs if "timeseries" in m]
            assert ts and ts[0]["histograms"][0]["count"] == 18.0

            # QueryRange streams histogram points per step
            msgs = cli.query_range("hist_m", 0, 30, 10)
            ts = [m["timeseries"] for m in msgs if "timeseries" in m]
            assert ts and [h["count"] for h in ts[0]["histograms"]] == \
                [7.0, 9.0, 9.0]


RFC7541_C_VECTORS = [  # (plaintext, Appendix C Huffman ciphertext hex)
    (b"www.example.com", "f1e3c2e5f23a6ba0ab90f4ff"),          # C.4.1
    (b"no-cache", "a8eb10649cbf"),                              # C.4.2
    (b"custom-key", "25a849e95ba97d7f"),                        # C.4.3
    (b"custom-value", "25a849e95bb8e8b4bf"),                    # C.4.3
    (b"302", "6402"),                                           # C.6.1
    (b"private", "aec3771a4b"),                                 # C.6.1
    (b"Mon, 21 Oct 2013 20:13:21 GMT",
     "d07abe941054d444a8200595040b8166e082a62d1bff"),           # C.6.1
    (b"Mon, 21 Oct 2013 20:13:22 GMT",
     "d07abe941054d444a8200595040b8166e084a62d1bff"),           # C.6.3
    (b"https://www.example.com", "9d29ad171863c78f0b97c8e9ae82ae43d3"),
    (b"307", "640eff"),                                         # C.6.2
    (b"gzip", "9bd9ab"),                                        # C.6.3
]


def test_huffman_rfc7541_appendix_c_vectors():
    """The reconstructed Appendix B table must reproduce the RFC's own
    Appendix C example ciphertexts bit-exactly — this is what makes the
    from-memory table trustworthy — and decode them back."""
    from thanos_parquet_gateway_spark.api.hpack import (huffman_decode,
                                                        huffman_encode)
    for raw, want_hex in RFC7541_C_VECTORS:
        assert huffman_encode(raw).hex() == want_hex, raw
        assert huffman_decode(bytes.fromhex(want_hex)) == raw


def test_huffman_table_properties_and_errors():
    import pytest
    from thanos_parquet_gateway_spark.api import hpack

    # the full table covers all 256 byte symbols + EOS
    assert set(hpack.HUFFMAN_FULL) == set(range(257))
    # prefix-free: no code is a prefix of another (sorted by length,
    # only longer codes can extend shorter ones)
    items = sorted(hpack.HUFFMAN_FULL.values(), key=lambda t: (t[1], t[0]))
    for i, (c1, l1) in enumerate(items):
        for c2, l2 in items[i + 1:]:
            assert not (l2 >= l1 and (c2 >> (l2 - l1)) == c1), (c1, c2)
    # complete canonical code: Kraft sum exactly 1, EOS = 30 one-bits
    assert sum(1 << (30 - ln) for _c, ln in items) == 1 << 30
    assert hpack.HUFFMAN_FULL[hpack.EOS] == ((1 << 30) - 1, 30)
    # the canonical derivation agrees with the RFC-ciphertext-pinned
    # printable subset on every overlapping symbol
    for sym, cl in hpack.HUFFMAN_CODES.items():
        assert hpack.HUFFMAN_FULL[sym] == cl, sym
    # full 256-symbol round trip
    s = bytes(range(256))
    assert hpack.huffman_decode(hpack.huffman_encode(s)) == s
    # a complete EOS code in the payload is a decoding error (§5.2)
    with pytest.raises(hpack.HpackError, match="EOS"):
        hpack.huffman_decode(b"\xff\xff\xff\xff")
    with pytest.raises(hpack.HpackError, match="padding"):
        # '0' (00000) + 3 zero pad bits — padding must be all ones
        hpack.huffman_decode(bytes([0b00000000]))
    with pytest.raises(hpack.HpackError, match="padding"):
        # a full byte of EOS-prefix padding is also an error (§5.2:
        # padding strictly longer than 7 bits MUST be rejected)
        hpack.huffman_decode(hpack.huffman_encode(b"ab") + b"\xff")


def test_hpack_decodes_huffman_literal_blocks():
    """A header block whose literals carry the H bit (what grpc-go sends)
    must decode — RFC 7541 C.4.1: literal with incremental indexing,
    static name :authority (idx 1), Huffman value 'www.example.com'."""
    from thanos_parquet_gateway_spark.api.hpack import (Decoder,
                                                        huffman_encode)

    def hstr(raw: bytes) -> bytes:
        enc = huffman_encode(raw)
        assert len(enc) < 127
        return bytes([0x80 | len(enc)]) + enc

    block = bytes([0x41]) + hstr(b"www.example.com")      # C.4.1 exactly
    assert bytes([0x41]) + hstr(b"www.example.com") == \
        bytes.fromhex("418cf1e3c2e5f23a6ba0ab90f4ff")
    dec = Decoder()
    assert dec.decode(block) == [(":authority", "www.example.com")]
    # Huffman name AND value (custom-key: custom-value, C.4.3 last entry)
    block = bytes([0x40]) + hstr(b"custom-key") + hstr(b"custom-value")
    assert dec.decode(block) == [("custom-key", "custom-value")]
    # the dynamic table learned both; an indexed lookup now hits them
    assert dec.decode(bytes([0x80 | 62])) == [("custom-key", "custom-value")]


def test_histogram_codec_off_grid_and_sparse_nhcb():
    """Code-review r8 regressions: (1) merged mixed-schema histograms have
    bounds off any single exponential grid — encoding must fall back to
    lossless custom bounds, never emit colliding span indices; (2) sparse
    NHCB from a real peer maps counts through positive_spans, not
    positionally; (3) saturated ±Inf bounds and huge peer indices must not
    crash the codec."""
    import math

    from thanos_parquet_gateway_spark.api import grpc_pb as pb

    inf = float("inf")
    # (1) le-union of schema 0 and schema 1 grids, declared schema 0
    bks = [(1.0, 2.0), (math.sqrt(2.0), 3.0), (2.0, 4.0), (inf, 0.0)]
    d = pb.decode_histogram_sample(
        pb.encode_histogram_sample(7, 9.0, 5.0, bks, 0))
    assert d["schema"] == pb.CUSTOM_SCHEMA  # grid mismatch → custom
    assert d["buckets"] == bks and d["count"] == 9.0

    # (2) sparse NHCB: custom_values [1,2,3,4], spans (0,1)+(gap 2,1):
    # counts a,b sit at indices 0 and 3 → bounds 1 and 4
    msg = (pb._dbl(2, 5.0) + pb._dbl(3, 1.0) +
           pb._sint(4, pb.CUSTOM_SCHEMA, 32) +
           pb._ld(11, pb._enc_span(0, 1)) + pb._ld(11, pb._enc_span(2, 1)) +
           pb._packed_dbl(13, [2.0, 3.0]) + pb._vi64(15, 9) +
           pb._packed_dbl(16, [1.0, 2.0, 3.0, 4.0]))
    d = pb.decode_histogram_sample(msg)
    assert d["buckets"] == [(1.0, 2.0), (4.0, 3.0), (inf, 0.0)]

    # (3a) non-zero +Inf bucket on an exponential grid → custom fallback
    bks = [(1.0, 1.0), (inf, 2.0)]
    d = pb.decode_histogram_sample(
        pb.encode_histogram_sample(1, 3.0, 2.0, bks, 0))
    assert d["schema"] == pb.CUSTOM_SCHEMA and d["buckets"] == bks

    # (3b) peer-sent bucket index beyond double range decodes to +Inf,
    # not OverflowError
    msg = (pb._dbl(2, 1.0) + pb._dbl(3, 1.0) + pb._sint(4, 0, 32) +
           pb._ld(11, pb._enc_span(2000, 1)) + pb._packed_dbl(13, [1.0]) +
           pb._vi64(15, 1))
    d = pb.decode_histogram_sample(msg)
    assert d["buckets"][0][0] == inf


def test_large_request_body_over_wire(served):
    """First RPC with a request body over the 64 KiB default window must
    not stall: the client drains the server's SETTINGS/WINDOW_UPDATE
    preamble at connect time (code-review r8)."""
    # one ~200 KiB matcher value → request body far beyond 65535 bytes
    matchers = [("=", "__name__", "m"), ("!=", "blob", "v" * 200_000)]
    res = served.series(matchers, 0, 60 * S, skip_chunks=True)
    # the != matcher excludes nothing; the RPC itself must complete
    assert len([m for m in res if "series" in m]) == 3


# ---------------------------------------------------------------------------
# varbit FloatHistogram chunk (tsdb/chunkenc/float_histogram.go rebuild)
# ---------------------------------------------------------------------------

def _bits_to_bytes(bits: str) -> bytes:
    pad = (-len(bits)) % 8
    bits += "0" * pad
    return bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))


def _f64bits(v: float) -> str:
    import struct as _s
    return format(_s.unpack("<Q", _s.pack("<d", v))[0], "064b")


def test_float_histogram_chunk_golden_bytes():
    """Hand-assembled golden chunk from the format spec (float_histogram.go
    layout doc + varbit.go bucket table + histogram_meta.go), independent
    of the encoder: the expected bitstream is built as a literal bit
    string here."""
    from thanos_parquet_gateway_spark.api import chunkenc as c

    s0 = {"ts": 1000, "count": 2.0, "zero_count": 0.0, "sum": 3.0,
          "schema": 0, "zero_threshold": 0.0, "pos": [(0, 2.0)], "neg": []}
    s1 = dict(s0, ts=1001)  # tDelta=1, every float field unchanged (xor 0)
    got = c.encode_float_histogram_chunk([s0, s1])

    bits = (
        "0"                 # schema 0: varbit int zero bucket
        "10" "001"          # pos span count 1 (varbit uint, 3-bit bucket)
        "10" "001"          # span 0 length 1
        "0"                 # span 0 offset 0 (varbit int)
        "0"                 # neg span count 0
        # sample 0
        "11110" + format(1000, "012b")   # t=1000: varbit int 12-bit bucket
        + _f64bits(2.0) + _f64bits(0.0)  # count, zeroCount
        + _f64bits(3.0) + _f64bits(2.0)  # sum, pos bucket 0
        # sample 1
        + "10" "001"        # tDelta=1 (varbit uint)
        + "0000"            # 4 float fields, each xor==0 -> one 0 bit
    )
    expected = (b"\x00\x02"      # big-endian sample count
                b"\x00"          # counter-reset hint: unknown
                b"\x00"          # zero threshold 0 -> single zero byte
                + _bits_to_bytes(bits))
    assert got == expected

    dec = c.decode_float_histogram_chunk(got)
    assert [(d["ts"], d["count"], d["sum"], d["pos"]) for d in dec] == \
        [(1000, 2.0, 3.0, [(0, 2.0)]), (1001, 2.0, 3.0, [(0, 2.0)])]


def test_float_histogram_chunk_zero_threshold_forms():
    """histogram_meta.go putZeroThreshold: 0 -> one zero byte; powers of
    two 2^-243..2^10 -> exponent+243 (default 2^-128 -> 116); else
    0xFF + raw float64."""
    from thanos_parquet_gateway_spark.api import chunkenc as c

    def enc(zt):
        s = {"ts": 0, "count": 1.0, "zero_count": 1.0, "sum": 0.0,
             "schema": 0, "zero_threshold": zt, "pos": [], "neg": []}
        return c.encode_float_histogram_chunk([s])

    assert enc(0.0)[3] == 0
    assert enc(2.0 ** -128)[3] == 116
    assert enc(1.0)[3] == 1 + 243      # frexp(1.0) = (0.5, 1)
    assert enc(2.0 ** 10)[3] == 11 + 243
    assert enc(0.1)[3] == 255          # not a power of two -> 9 bytes
    for zt in (0.0, 2.0 ** -128, 2.0 ** -243, 2.0 ** 10, 0.1, 3.5):
        dec = c.decode_float_histogram_chunk(enc(zt))
        assert dec[0]["zero_threshold"] == zt


def test_varbit_int_uint_bucket_boundaries():
    """Every varbit bucket boundary round-trips and lands in the expected
    bit width (varbit.go ladder: 3/6/9/12/18/25/56/64 payload bits)."""
    from thanos_parquet_gateway_spark.api import chunkenc as c

    widths = [3, 6, 9, 12, 18, 25, 56]
    ints = [0, 1, -1]
    for sz in widths:
        # asymmetric signed range: -(2^(sz-1)-1) .. 2^(sz-1)
        ints += [1 << (sz - 1), -((1 << (sz - 1)) - 1),
                 (1 << (sz - 1)) + 1, -(1 << (sz - 1))]
    ints += [2 ** 62, -(2 ** 62)]
    for v in ints:
        w = c._BitWriter()
        c._put_varbit_int(w, v)
        assert c._read_varbit_int(c._BitReader(bytes(w.buf))) == v

    uints = [0, 1] + [x for sz in widths
                      for x in ((1 << sz) - 1, 1 << sz, (1 << sz) + 1)]
    uints += [2 ** 63, 2 ** 64 - 1]
    for v in uints:
        w = c._BitWriter()
        c._put_varbit_uint(w, v)
        assert c._read_varbit_uint(c._BitReader(bytes(w.buf))) == v
        # strict bucket rule: a non-zero payload is never all-zero bits
        if v:
            assert any(w.buf), f"ambiguous all-zero encoding for {v}"


def test_float_histogram_chunk_roundtrip_property():
    """Seeded randomized round-trips: layouts differing per sample get
    union-expanded with zero fill (what tsdb recoding does), so decode
    returns dense layouts whose non-zero entries match the input."""
    import random

    from thanos_parquet_gateway_spark.api import chunkenc as c

    rng = random.Random(0xC0FFEE)
    for _ in range(60):
        n = rng.randint(1, 12)
        schema = rng.choice([-4, -1, 0, 3, 8])
        t = rng.randint(-10_000, 10_000)
        samples = []
        for _i in range(n):
            pos = sorted(rng.sample(range(-20, 40),
                                    rng.randint(0, 5)))
            neg = sorted(rng.sample(range(-10, 10),
                                    rng.randint(0, 3)))
            samples.append({
                "ts": t, "schema": schema, "zero_threshold": 2.0 ** -128,
                "count": rng.uniform(0, 1e9),
                "zero_count": rng.choice([0.0, rng.uniform(0, 100)]),
                "sum": rng.uniform(-1e6, 1e6),
                "pos": [(i, rng.uniform(0, 50)) for i in pos],
                "neg": [(i, rng.uniform(0, 50)) for i in neg],
            })
            t += rng.randint(0, 100_000)
        dec = c.decode_float_histogram_chunk(
            c.encode_float_histogram_chunk(samples))
        assert len(dec) == n
        for s, d in zip(samples, dec):
            assert d["ts"] == s["ts"] and d["schema"] == schema
            assert d["count"] == s["count"] and d["sum"] == s["sum"]
            assert d["zero_count"] == s["zero_count"]
            assert d["zero_threshold"] == 2.0 ** -128
            for side in ("pos", "neg"):
                got = {i: v for i, v in d[side] if v != 0.0}
                want = {i: v for i, v in s[side] if v != 0.0}
                assert got == want


def test_float_histogram_chunk_errors():
    import pytest

    from thanos_parquet_gateway_spark.api import chunkenc as c

    base = {"ts": 0, "count": 1.0, "zero_count": 0.0, "sum": 1.0,
            "schema": 0, "zero_threshold": 0.0, "pos": [(0, 1.0)],
            "neg": []}
    with pytest.raises(ValueError, match="empty"):
        c.encode_float_histogram_chunk([])
    with pytest.raises(ValueError, match="mixed schemas"):
        c.encode_float_histogram_chunk([base, dict(base, schema=1)])
    with pytest.raises(ValueError, match="zero thresholds"):
        c.encode_float_histogram_chunk(
            [base, dict(base, zero_threshold=1.0)])
    with pytest.raises(ValueError, match="custom-bounds"):
        c.encode_float_histogram_chunk([dict(base, schema=-53)])
    with pytest.raises(ValueError, match="ascending"):
        c.encode_float_histogram_chunk([dict(base, ts=10),
                                        dict(base, ts=5)])
    full = c.encode_float_histogram_chunk([base, dict(base, ts=10)])
    with pytest.raises(ValueError, match="too short|truncated|overran"):
        c.decode_float_histogram_chunk(full[:2])
    with pytest.raises(ValueError, match="truncated|overran"):
        c.decode_float_histogram_chunk(full[: len(full) - 3])


def test_split_histogram_chunks_schema_runs():
    """Schema changes cut chunks exactly like the Prometheus appender:
    exponential runs ride varbit FLOAT_HISTOGRAM, custom-bounds runs ride
    the private prompb enum, and decode restores the engine model."""
    from thanos_parquet_gateway_spark.api import grpc_pb as pb

    inf = float("inf")
    exp = {"count": 3.0, "sum": 4.5,
           "buckets": [(1.0, 2.0), (4.0, 1.0), (inf, 0.0)], "schema": 0}
    nhcb = {"count": 5.0, "sum": 2.0,
            "buckets": [(0.1, 2.0), (0.5, 2.0), (inf, 1.0)],
            "schema": -53}
    chunks = pb.split_histogram_chunks(
        [(1000, exp), (2000, exp), (3000, nhcb), (4000, exp)])
    assert [(c[0], c[1], c[3]) for c in chunks] == [
        (1000, 2000, pb.CHUNK_FLOAT_HISTOGRAM),
        (3000, 3000, pb.CHUNK_PROMPB_FLOAT_HISTOGRAM),
        (4000, 4000, pb.CHUNK_FLOAT_HISTOGRAM)]
    dec0 = pb.decode_histogram_chunk(chunks[0][2], chunks[0][3])
    assert [(t, h["buckets"]) for t, h in dec0] == \
        [(1000, exp["buckets"]), (2000, exp["buckets"])]
    dec1 = pb.decode_histogram_chunk(chunks[1][2], chunks[1][3])
    assert dec1 == [(3000, {"count": 5.0, "sum": 2.0,
                            "buckets": nhcb["buckets"], "schema": -53})]
    # max_samples cuts runs too
    many = [(i * 1000, exp) for i in range(5)]
    assert len(pb.split_histogram_chunks(many, max_samples=2)) == 3


# ---------------------------------------------------------------------------
# HTTP/2 flow-control hardening (RFC 7540 §6.9) + dispatch bounding
# ---------------------------------------------------------------------------

def test_window_update_counts_for_active_stream_after_release():
    """A WINDOW_UPDATE for a still-active lower-id stream must count even
    after a higher-id stream was released: liveness is tracked by explicit
    registration, not inferred from the released-id watermark (which would
    silently drop the grant and under-count the send budget)."""
    import socket
    import struct

    from thanos_parquet_gateway_spark.api import h2

    a, b = socket.socketpair()
    try:
        conn = h2.Conn(a)
        conn.register_stream(1)   # active, has not sent DATA yet
        conn.register_stream(3)
        conn.release_stream(3)    # watermark now 3 > stream 1
        conn.handle_window_update(1, struct.pack(">I", 1000))
        assert conn.stream_send_windows[1] == 65535 + 1000
        # a straggler for the RELEASED stream still must not re-insert
        conn.handle_window_update(3, struct.pack(">I", 1000))
        assert 3 not in conn.stream_send_windows
    finally:
        a.close(); b.close()


def test_window_update_zero_increment_and_31bit_cap():
    """§6.9: increment 0 is a protocol error; §6.9.1: windows never exceed
    2^31-1, so a misbehaving peer can't accumulate an unbounded budget."""
    import socket
    import struct

    import pytest

    from thanos_parquet_gateway_spark.api import h2

    a, b = socket.socketpair()
    try:
        conn = h2.Conn(a)
        with pytest.raises(h2.H2Error, match="increment 0"):
            conn.handle_window_update(0, struct.pack(">I", 0))
        for _ in range(3):  # conn window clamps at the ceiling
            conn.handle_window_update(0, struct.pack(">I", 0x7FFFFFFF))
        assert conn.peer_conn_window == h2.MAX_WINDOW
        conn.register_stream(1)
        for _ in range(3):  # stream window clamps too
            conn.handle_window_update(1, struct.pack(">I", 0x7FFFFFFF))
        assert conn.stream_send_windows[1] == h2.MAX_WINDOW
    finally:
        a.close(); b.close()


def test_dispatch_cap_refuses_excess_streams(spark):
    """A peer flooding one connection with streams gets
    RST_STREAM(REFUSED_STREAM) beyond the per-connection handler cap
    instead of minting unbounded threads; refused is safe-to-retry
    (§8.1.4) and already-admitted streams still complete."""
    import struct
    import threading

    from thanos_parquet_gateway_spark.api import QueryServer, h2
    from thanos_parquet_gateway_spark.api.grpc_server import ThanosGrpcServer

    rows = [({"__name__": "m", "job": "a"}, 10 * S, 1.0)]
    qs = QueryServer(make_samples(spark, rows), lookback_ms=60 * S,
                     deterministic=True)
    srv = ThanosGrpcServer(qs)
    srv.MAX_CONN_DISPATCH = 1
    gate = threading.Event()
    orig = srv._dispatch

    def blocked(conn, st):
        gate.wait(20)
        return orig(conn, st)

    srv._dispatch = blocked
    import socket
    with srv:
        sock = socket.create_connection((srv.host, srv.port), timeout=20)
        conn = h2.Conn(sock)
        conn.send(h2.PREFACE)
        conn.send_settings()
        req = [(":method", "POST"), (":scheme", "http"),
               (":path", "/thanos.info.Info/Info"),
               (":authority", "t"), ("content-type", "application/grpc"),
               ("te", "trailers")]
        for sid in (1, 3):  # both fully sent before any handler finishes
            conn.send_headers(sid, req)
            conn.send_data(sid, h2.grpc_frame(b""), end_stream=True)
        rst = {}
        ends = set()
        while 3 not in rst or 1 not in ends:
            ftype, flags, fsid, payload = conn.read_frame()
            if ftype == h2.RST_STREAM:
                rst[fsid] = struct.unpack(">I", payload[:4])[0]
                gate.set()  # release the admitted stream's handler
            elif ftype in (h2.HEADERS, h2.DATA) and \
                    flags & h2.FLAG_END_STREAM:
                ends.add(fsid)
        assert rst == {3: 0x7}  # REFUSED_STREAM, only for the excess one
        assert 1 in ends        # the admitted stream completed normally
        sock.close()


def test_huffman_full_alphabet_and_plain_encoder():
    """Full-alphabet Huffman coverage (the r9 printable-ASCII gap is
    closed): every byte symbol encodes and decodes, including control
    bytes and 0x80-0xFF; the HPACK Encoder still never emits Huffman
    (RFC 7541 §5.2 allows that), so binary header values round-trip as
    plain literals; adversarial Huffman-flagged bitstreams either decode
    or raise HpackError, never corrupt."""
    import random

    from thanos_parquet_gateway_spark.api import hpack

    # 1. exhaustive per-symbol round trip, and code lengths match the
    # RFC's published ranges (5-bit shortest; ≥19 bits outside printable)
    for b in range(256):
        raw = bytes([b, b, b])
        assert hpack.huffman_decode(hpack.huffman_encode(raw)) == raw
        ln = hpack.HUFFMAN_FULL[b][1]
        # 5-bit shortest; \n \r and 0x16 share EOS's 30-bit length
        assert 5 <= ln <= (30 if b in (10, 13, 22) else 28)
        if b < 0x20 or b > 0x7E:
            assert ln >= 13, b  # rare symbols carry long codes

    # 2. the Encoder ships every string literal with the H bit CLEAR,
    # so binary values round-trip through a full encode/decode
    enc, dec = hpack.Encoder(), hpack.Decoder()
    binary_val = bytes(range(256)).decode("latin-1")
    headers = [("x-bin", binary_val), ("grpc-status-details-bin", "\x00\x9f")]
    assert dec.decode(enc.encode(headers)) == headers
    block = enc.encode([("x-new-name-é", "v")])  # fresh literal
    # every length octet in a literal must have the Huffman bit clear;
    # cheap structural check: the name length prefix byte of the literal
    # (first byte after the 0x40 literal-with-indexing opcode)
    assert block[0] == 0x40 and not block[1] & 0x80

    # 3. adversarial bitstreams: seeded random payloads flagged as
    # Huffman either decode (the code is complete, so any prefix-valid
    # bit string maps to SOME symbols) or fail loudly on padding/EOS
    rng = random.Random(7541)
    decoded = errors = 0
    for _ in range(300):
        payload = bytes(rng.randrange(256)
                        for _ in range(rng.randrange(1, 12)))
        try:
            hpack.huffman_decode(payload)
            decoded += 1
        except hpack.HpackError:
            errors += 1
    assert decoded and errors  # both outcomes exercised

    # 4. seeded random full-alphabet strings round-trip
    for _ in range(200):
        s = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 48)))
        assert hpack.huffman_decode(hpack.huffman_encode(s)) == s


def test_integer_histogram_chunk_golden_and_roundtrip():
    """Integer-Histogram varbit chunk (tsdb/chunkenc/histogram.go; the
    CHUNK_HISTOGRAM=1 storepb encoding a real Thanos peer may stream):
    hand-assembled golden bytes from the format spec plus seeded
    round-trips, and decode_histogram_chunk maps enum 1 into the engine
    model."""
    import random

    from thanos_parquet_gateway_spark.api import chunkenc as c
    from thanos_parquet_gateway_spark.api import grpc_pb as pb

    # ---- golden: two samples, count/zeroCount/bucket ints, xor'd sum
    s0 = {"ts": 1000, "count": 3, "zero_count": 0, "sum": 3.0,
          "schema": 0, "zero_threshold": 0.0, "pos": [(0, 3)], "neg": []}
    s1 = dict(s0, ts=1001, count=4, pos=[(0, 4)], sum=3.0)
    got = c.encode_histogram_chunk_int([s0, s1])
    bits = (
        "0"                # schema 0
        "10" "001"         # pos span count 1
        "10" "001"         # span length 1
        "0"                # span offset 0
        "0"                # neg span count 0
        # sample 0
        "11110" + format(1000, "012b")  # t varbit int (12-bit bucket)
        + "10" "011"       # count=3 varbit uint
        + "0"              # zeroCount=0
        + _f64bits(3.0)    # sum raw
        + "10" "011"       # bucket intra-delta 3 varbit int
        # sample 1
        + "10" "001"       # tDelta=1 varbit uint
        + "10" "001"       # count delta +1 varbit int
        + "0"              # zeroCount delta 0
        + "0"              # sum xor == 0 -> single 0 bit
        + "10" "001"       # bucket delta +1
    )
    expected = b"\x00\x02\x00\x00" + _bits_to_bytes(bits)
    assert got == expected

    dec = c.decode_histogram_chunk_int(got)
    assert [(d["ts"], d["count"], d["pos"]) for d in dec] == \
        [(1000, 3, [(0, 3)]), (1001, 4, [(0, 4)])]

    # ---- seeded round-trips with union layouts and negative buckets
    rng = random.Random(0xBEEF)
    for _ in range(40):
        n = rng.randint(1, 10)
        schema = rng.choice([-2, 0, 3])
        t = rng.randint(0, 5000)
        samples = []
        for _i in range(n):
            pos = sorted(rng.sample(range(-8, 16), rng.randint(0, 4)))
            neg = sorted(rng.sample(range(-4, 6), rng.randint(0, 2)))
            samples.append({
                "ts": t, "schema": schema, "zero_threshold": 2.0 ** -128,
                "count": rng.randrange(0, 10 ** 9),
                "zero_count": rng.randrange(0, 100),
                "sum": rng.uniform(-1e6, 1e6),
                "pos": [(i, rng.randrange(0, 1000)) for i in pos],
                "neg": [(i, rng.randrange(0, 1000)) for i in neg],
            })
            t += rng.randint(0, 100_000)
        dec = c.decode_histogram_chunk_int(
            c.encode_histogram_chunk_int(samples))
        for s, d in zip(samples, dec):
            assert (d["ts"], d["count"], d["zero_count"]) == \
                (s["ts"], s["count"], s["zero_count"])
            assert d["sum"] == s["sum"]
            for side in ("pos", "neg"):
                got_m = {i: v for i, v in d[side] if v}
                assert got_m == {i: v for i, v in s[side] if v}

    # ---- engine-model mapping via the storepb enum dispatch
    model = pb.decode_histogram_chunk(got, pb.CHUNK_HISTOGRAM)
    assert model == [
        (1000, {"count": 3.0, "sum": 3.0, "schema": 0,
                "buckets": [(1.0, 3.0), (float("inf"), 0.0)]}),
        (1001, {"count": 4.0, "sum": 3.0, "schema": 0,
                "buckets": [(1.0, 4.0), (float("inf"), 0.0)]})]


def test_series_samples_decodes_all_chunk_encodings(spark):
    """Client convenience mirroring a querier: series_samples() decodes
    XOR float chunks, varbit FLOAT_HISTOGRAM chunks and the private NHCB
    prompb chunks from one Series stream."""
    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.api.grpc_client import ThanosGrpcClient
    from thanos_parquet_gateway_spark.api.grpc_server import ThanosGrpcServer

    inf = float("inf")
    h = (7.0, 11.5, [(1.0, 3.0), (4.0, 4.0), (inf, 0.0)], 0)
    hc = (6.0, 3.0, [(0.1, 2.0), (0.5, 3.0), (inf, 1.0)], -53)
    rows = [({"__name__": "f", "job": "a"}, 10 * S, 1.5),
            ({"__name__": "f", "job": "a"}, 20 * S, 2.5),
            ({"__name__": "hx", "job": "a"}, 10 * S, {"hist": h}),
            ({"__name__": "hx", "job": "a"}, 20 * S, {"hist": hc})]
    qs = QueryServer(make_samples(spark, rows), lookback_ms=60 * S,
                     deterministic=True)
    with ThanosGrpcServer(qs) as srv:
        with ThanosGrpcClient(srv.host, srv.port) as cli:
            got = {tuple(sorted(r["labels"].items())): r
                   for r in cli.series_samples(
                       [("=~", "__name__", "f|hx")], 0, 60 * S)}
            fkey = (("__name__", "f"), ("job", "a"))
            hkey = (("__name__", "hx"), ("job", "a"))
            assert got[fkey]["samples"] == [(10 * S, 1.5), (20 * S, 2.5)]
            assert got[fkey]["histograms"] == []
            hs = got[hkey]["histograms"]
            # schema change mid-series cut two chunks (varbit + NHCB);
            # both decode back to the exact bucket model in order
            assert [(t, hh["schema"], hh["buckets"]) for t, hh in hs] == \
                [(10 * S, 0, h[2]), (20 * S, -53, hc[2])]


def test_label_values_quota_over_grpc(spark):
    """Label quota hits map to gRPC RESOURCE_EXHAUSTED (8) like the
    reference's quota error mapping (thanos.go:260)."""
    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.api.grpc_client import (GrpcError,
                                                              ThanosGrpcClient)
    from thanos_parquet_gateway_spark.api.grpc_server import ThanosGrpcServer

    rows = [({"__name__": "m", "job": str(i)}, 10 * S, float(i))
            for i in range(6)]
    qs = QueryServer(make_samples(spark, rows), lookback_ms=60 * S,
                     deterministic=True, label_values_row_quota=3)
    with ThanosGrpcServer(qs) as srv:
        with ThanosGrpcClient(srv.host, srv.port) as cli:
            for _ in range(2):  # the second round runs on memoized plans
                with pytest.raises(GrpcError) as ei:
                    cli.label_values("job", 0, 60 * S)
                assert ei.value.code == 8  # RESOURCE_EXHAUSTED
                # label NAMES are under a separate (unset) quota
                names = cli.label_names(0, 60 * S)
                assert names["values"] == ["__name__", "job"]
    assert qs._api(None).engine.plan_cache_counts()["hits"] == 2


def test_series_quotas_over_grpc(spark):
    """gRPC Series runs the admission and row quota of /series: a 3-series
    export over a 1-row or 1-byte quota answers RESOURCE_EXHAUSTED (8), on
    the first call and on its memo hit.  Without quotas it collects the
    same export plan as before quotas applied to it: uncapped, or capped
    at limit+1 rows."""
    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.api.grpc_client import (GrpcError,
                                                              ThanosGrpcClient)
    from thanos_parquet_gateway_spark.api.grpc_server import ThanosGrpcServer

    rows = [({"__name__": "m", "job": str(i)}, 10 * S, float(i))
            for i in range(3)]
    sel = [("=", "__name__", "m")]
    for quota in ({"row_quota": 1}, {"byte_quota": 1}):
        qs = QueryServer(make_samples(spark, rows), lookback_ms=60 * S,
                         deterministic=True, **quota)
        with ThanosGrpcServer(qs) as srv:
            with ThanosGrpcClient(srv.host, srv.port) as cli:
                for _ in range(2):
                    with pytest.raises(GrpcError) as ei:
                        cli.series(sel, 0, 60 * S)
                    assert ei.value.code == 8, quota  # RESOURCE_EXHAUSTED
    qs = QueryServer(make_samples(spark, rows), lookback_ms=60 * S,
                     deterministic=True)
    out, warns = qs.series(["m"], 0, 60 * S)
    assert len(out) == 3 and warns == []
    out, warns = qs.series(["m"], 0, 60 * S, limit=2)
    assert len(out) == 2 and warns == ["results truncated due to limit"]
    assert {k for k in qs._api(None).engine._plan_cache
            if k[0] == "series_samples"} == {
        ("series_samples", None, ("m",), 0, 60 * S, 0),
        ("series_samples", None, ("m",), 0, 60 * S, 3)}


def test_conformant_peer_skips_nhcb_private_enum(spark):
    """A CONFORMANT Store API client (proto3 open enums: values outside
    the storepb Chunk.Encoding range are preserved but unrecognized) must
    SKIP the private NHCB enum-255 chunks without error and without ever
    feeding their prompb payload to a varbit decoder — losing only the
    NHCB series data, exactly the documented containment posture
    (grpc_pb.py CHUNK_PROMPB_FLOAT_HISTOGRAM; reference thanos.go:462-473
    passes real chunks for every encoding instead)."""
    from math import inf

    from thanos_parquet_gateway_spark.api import grpc_pb as pb
    from thanos_parquet_gateway_spark.api.chunkenc import decode_xor_chunk
    from thanos_parquet_gateway_spark.api.grpc_client import ThanosGrpcClient
    from thanos_parquet_gateway_spark.api.grpc_server import ThanosGrpcServer
    from thanos_parquet_gateway_spark.api.server import QueryServer
    from tests.conftest import make_samples

    S = 1000
    hexp = (7.0, 11.5, [(-2.0, 1.0), (0.0, 2.0), (1.0, 3.0), (4.0, 1.0),
                        (inf, 0.0)], 0)                      # exponential
    hnhcb = (6.0, 3.0, [(0.1, 2.0), (0.5, 3.0), (inf, 1.0)], -53)  # NHCB
    rows = [({"__name__": "mix", "kind": "exp"}, 10 * S, {"hist": hexp}),
            ({"__name__": "mix", "kind": "nhcb"}, 10 * S, {"hist": hnhcb}),
            ({"__name__": "mix", "kind": "float"}, 10 * S, 5.0)]
    qs = QueryServer(make_samples(spark, rows), lookback_ms=60 * S,
                     deterministic=True)

    # the conformant-decoder model: standard enums decode, anything else
    # is skipped whole (never raises, never touches the payload)
    KNOWN = {pb.CHUNK_XOR, pb.CHUNK_HISTOGRAM, pb.CHUNK_FLOAT_HISTOGRAM}

    def conformant_decode(chunk):
        if chunk["type"] not in KNOWN:
            return None  # unrecognized encoding -> skip
        if chunk["type"] == pb.CHUNK_XOR:
            return decode_xor_chunk(chunk["data"])
        return pb.decode_histogram_chunk(chunk["data"], chunk["type"])

    with ThanosGrpcServer(qs) as srv:
        with ThanosGrpcClient(srv.host, srv.port) as cli:
            res = cli.series([("=", "__name__", "mix")], 0, 60 * S)
    series = [m["series"] for m in res if "series" in m]
    assert len(series) == 3
    decoded, skipped = [], []
    for s in series:
        kind = dict(s["labels"])["kind"]
        for c in s["chunks"]:
            out = conformant_decode(c)
            (skipped if out is None else decoded).append((kind, out))
    # exactly the NHCB chunk is lost; everything else decodes cleanly
    assert [k for k, _ in skipped] == ["nhcb"]
    got = dict(decoded)
    assert got["float"] == [(10 * S, 5.0)]
    (t, h), = got["exp"]
    assert (t, h["count"], h["sum"], h["schema"]) == (10 * S, 7.0, 11.5, 0)
    assert h["buckets"] == hexp[2]


def test_send_headers_splits_continuation_frames():
    """RFC 7540 §4.2/§6.10: a header block larger than the peer's
    SETTINGS_MAX_FRAME_SIZE must be sent as HEADERS + CONTINUATION
    frames (one oversized frame is a FRAME_SIZE_ERROR connection kill) —
    END_STREAM on the HEADERS frame, END_HEADERS only on the final
    CONTINUATION, every payload within the limit, and the concatenated
    block HPACK-decodes to the original headers."""
    import socket

    from thanos_parquet_gateway_spark.api import h2, hpack

    a, b = socket.socketpair()
    sender, receiver = h2.Conn(a), h2.Conn(b)
    sender.max_frame = 2048  # as if the peer advertised a small limit
    big = "x" * 9000  # plain literal > 4 frames at 2048
    headers = [(":status", "200"), ("grpc-status-message", big),
               ("content-type", "application/grpc")]
    sender.send_headers(1, headers, end_stream=True)

    frames = []
    while True:
        ftype, flags, sid, data = receiver.read_frame()
        frames.append((ftype, flags, sid, data))
        if ftype in (h2.HEADERS, h2.CONTINUATION) and \
                flags & h2.FLAG_END_HEADERS:
            break
    assert len(frames) >= 3
    assert frames[0][0] == h2.HEADERS
    assert frames[0][1] & h2.FLAG_END_STREAM
    assert not frames[0][1] & h2.FLAG_END_HEADERS
    for ftype, flags, sid, data in frames[1:]:
        assert ftype == h2.CONTINUATION and sid == 1
    for _ftype, _flags, _sid, data in frames:
        assert len(data) <= 2048
    assert all(not f[1] & h2.FLAG_END_HEADERS for f in frames[:-1])
    block = b"".join(f[3] for f in frames)
    assert hpack.Decoder().decode(block) == headers

    # small blocks still go out as ONE HEADERS frame with END_HEADERS
    sender.send_headers(3, [(":status", "200")])
    ftype, flags, sid, data = receiver.read_frame()
    assert (ftype, sid) == (h2.HEADERS, 3)
    assert flags & h2.FLAG_END_HEADERS and not flags & h2.FLAG_END_STREAM
    a.close(); b.close()


def test_settings_max_frame_size_range_enforced():
    """RFC 7540 §6.5.2: SETTINGS_MAX_FRAME_SIZE outside 2^14..2^24-1 is a
    PROTOCOL_ERROR — and a tiny value would break the CONTINUATION
    chunker, so the conn fails loud instead of mis-framing."""
    import socket
    import struct

    import pytest

    from thanos_parquet_gateway_spark.api import h2

    for bad in (0, 100, 16_383, 16_777_216):
        a, b = socket.socketpair()
        conn = h2.Conn(a)
        payload = struct.pack(">HI", h2.SETTINGS_MAX_FRAME_SIZE, bad)
        with pytest.raises(h2.H2Error, match="6.5.2"):
            conn.handle_settings(0, payload)
        a.close(); b.close()
    # boundary values are accepted
    for ok in (16_384, 16_777_215):
        a, b = socket.socketpair()
        conn = h2.Conn(a)
        conn.handle_settings(0, struct.pack(
            ">HI", h2.SETTINGS_MAX_FRAME_SIZE, ok))
        assert conn.max_frame == ok
        a.close(); b.close()


def test_metrics_count_every_engine(spark):
    """One QueryServer behind both transports, as `serve` builds them: an
    HTTP query and the same query over gRPC share one engine and its plan
    memo (1 miss, 1 hit on /metrics); a gRPC query with a replica label
    adds its own engine's miss; an evicted engine's counts stay in the
    totals."""
    import json
    import re
    import urllib.request

    from thanos_parquet_gateway_spark.api import PromHTTPServer, QueryServer
    from thanos_parquet_gateway_spark.api.grpc_client import ThanosGrpcClient
    from thanos_parquet_gateway_spark.api.grpc_server import ThanosGrpcServer

    rows = [({"__name__": "m", "replica": r}, 10 * S, 1.0) for r in "ab"]
    qs = QueryServer(make_samples(spark, rows), lookback_ms=60 * S,
                     deterministic=True)
    http = PromHTTPServer(qs, port=0)
    http.serve_background()

    def get(path):
        with urllib.request.urlopen(f"http://127.0.0.1:{http.port}{path}") \
                as r:
            return r.read().decode()

    def memo():
        text = get("/metrics")
        return {k: int(re.search(rf"^pqg_plan_cache_{k} (\d+)$", text,
                                 re.M).group(1))
                for k in ("hits_total", "misses_total", "entries")}

    try:
        with ThanosGrpcServer(qs) as gsrv, \
                ThanosGrpcClient(gsrv.host, gsrv.port) as cli:
            out = json.loads(get("/api/v1/query?query=sum(m)&time=20"))
            assert out["data"]["result"][0]["value"] == [20.0, "2"]
            assert cli.query("sum(m)", 20)
            assert memo() == {"hits_total": 1, "misses_total": 1,
                              "entries": 1}
            assert cli.query("sum(m)", 20, replica_labels=["replica"])
            assert memo() == {"hits_total": 1, "misses_total": 2,
                              "entries": 2}
    finally:
        http.shutdown()
    qs._apis.cap = 2  # a third engine evicts the HTTP one
    qs.query("sum(m)", 20 * S, lookback_ms=30 * S)
    assert len(qs._apis) == 2
    assert qs.plan_cache_counts() == {"hits": 1, "misses": 3,
                                      "evictions": 0, "entries": 2}
