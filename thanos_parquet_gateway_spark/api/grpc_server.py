"""gRPC wire binding for QueryServer — the reference's production fan-in
path (a Thanos Querier dialing gRPC; reference api/grpc/thanos.go:116-167,
cmd/serve.go).

``api/server.py`` implements the six handler semantics transport-
independently; this module puts them on an actual wire: the public Thanos
service surface

    /thanos.Query/Query            (server-streaming QueryResponse)
    /thanos.Query/QueryRange       (server-streaming QueryRangeResponse)
    /thanos.info.Info/Info         (unary InfoResponse)
    /thanos.Store/Series           (server-streaming SeriesResponse)
    /thanos.Store/LabelNames       (unary LabelNamesResponse)
    /thanos.Store/LabelValues      (unary LabelValuesResponse)

speaking real gRPC framing over cleartext HTTP/2 (api/h2.py; grpcio is not
installable in this sandbox, so the transport is implemented directly from
the public RFC 7540 / gRPC PROTOCOL-HTTP2 specs) with hand-rolled proto3
payloads (api/grpc_pb.py).  Error mapping mirrors the reference: PromQL
parse/compile failures → ABORTED "unable to create query: ..."
(thanos.go:253), evaluation errors → INTERNAL "query eval error: ..."
(thanos.go:262), quota hits → RESOURCE_EXHAUSTED (thanos.go:260), unknown
method → UNIMPLEMENTED.

Series responses carry real Prometheus XOR chunks (api/chunkenc.py) split
at 120 samples — the same chunking granularity Prometheus's head block
uses — so a querier-side chunkenc decode sees the shape it expects.
"""

from __future__ import annotations

import socket
import struct
import threading

from thanos_parquet_gateway_spark.api import grpc_pb as pb
from thanos_parquet_gateway_spark.api.chunkenc import encode_xor_chunk
from thanos_parquet_gateway_spark.api.h2 import (
    CONTINUATION,
    DATA,
    FLAG_ACK,
    FLAG_END_HEADERS,
    FLAG_END_STREAM,
    GOAWAY,
    HEADERS,
    PING,
    PREFACE,
    RST_STREAM,
    SETTINGS,
    WINDOW_UPDATE,
    Conn,
    H2Error,
    Stream,
    grpc_frame,
    pack_frame,
    split_grpc_frames,
    strip_padding,
    strip_priority,
)
from thanos_parquet_gateway_spark.api.http import QuotaExceeded

# gRPC status codes (google.golang.org/grpc/codes)
OK, ABORTED, INTERNAL, RESOURCE_EXHAUSTED, UNIMPLEMENTED = 0, 10, 13, 8, 12

CHUNK_SAMPLES = 120  # Prometheus head-block chunk granularity


class GrpcStatus(Exception):
    def __init__(self, code: int, message: str) -> None:
        super().__init__(message)
        self.code = code
        self.message = message


class ThanosGrpcServer:
    """Serves a QueryServer over gRPC on a localhost TCP port."""

    def __init__(self, query_server, host: str = "127.0.0.1",
                 port: int = 0) -> None:
        self.qs = query_server
        self._lsock = socket.create_server((host, port))
        self.host, self.port = self._lsock.getsockname()[:2]
        self._stop = threading.Event()
        self._accept_thread: threading.Thread | None = None
        self._conn_threads: list[threading.Thread] = []

    # --------------------------------------------------------- lifecycle
    def start(self) -> "ThanosGrpcServer":
        self._accept_thread = threading.Thread(target=self._accept_loop,
                                               daemon=True)
        self._accept_thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        try:
            self._lsock.close()
        except OSError:
            pass
        for t in self._conn_threads:
            t.join(timeout=5)

    def __enter__(self) -> "ThanosGrpcServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    def _accept_loop(self) -> None:
        while not self._stop.is_set():
            try:
                sock, _addr = self._lsock.accept()
            except OSError:
                return
            t = threading.Thread(target=self._serve_conn, args=(sock,),
                                 daemon=True)
            t.start()
            self._conn_threads.append(t)

    # -------------------------------------------------------- connection
    def _serve_conn(self, sock: socket.socket) -> None:
        conn = Conn(sock)
        try:
            if conn._recv_exact(len(PREFACE)) != PREFACE:
                return
            conn.send_settings()
            streams: dict[int, Stream] = {}
            while not self._stop.is_set():
                ftype, flags, sid, payload = conn.read_frame()
                if ftype == SETTINGS:
                    conn.handle_settings(flags, payload)
                elif ftype == PING:
                    if not flags & FLAG_ACK:
                        conn.send(pack_frame(PING, FLAG_ACK, 0, payload))
                elif ftype == GOAWAY:
                    return
                elif ftype == HEADERS:
                    st = streams.setdefault(sid, Stream(sid))
                    conn.register_stream(sid)  # WINDOW_UPDATEs count
                    # from stream open, not from our first DATA send
                    st.header_block += strip_priority(
                        flags, strip_padding(flags, payload))
                    if flags & FLAG_END_HEADERS:
                        st.headers = conn.hdec.decode(st.header_block)
                        st.headers_done = True
                    if flags & FLAG_END_STREAM:
                        st.ended = True
                    if st.headers_done and st.ended:
                        self._spawn_dispatch(conn, streams.pop(sid))
                elif ftype == CONTINUATION:
                    st = streams.setdefault(sid, Stream(sid))
                    st.header_block += payload
                    if flags & FLAG_END_HEADERS:
                        st.headers = conn.hdec.decode(st.header_block)
                        st.headers_done = True
                    if st.headers_done and st.ended:
                        self._spawn_dispatch(conn, streams.pop(sid))
                elif ftype == DATA:
                    st = streams.setdefault(sid, Stream(sid))
                    st.data += strip_padding(flags, payload)
                    if flags & FLAG_END_STREAM:
                        st.ended = True
                        if st.headers_done:
                            self._spawn_dispatch(conn, streams.pop(sid))
                elif ftype == WINDOW_UPDATE:
                    # grows our SEND budget; handled on the read thread so
                    # a handler blocked in send_data wakes up — which is
                    # exactly why dispatch runs off-thread below
                    conn.handle_window_update(sid, payload)
                elif ftype == RST_STREAM:
                    streams.pop(sid, None)
                    conn.release_stream(sid)
                # PRIORITY / PUSH_PROMISE: bookkeeping only
        except H2Error:
            # peer protocol violation (e.g. WINDOW_UPDATE increment 0):
            # GOAWAY PROTOCOL_ERROR and drop the connection (§5.4.1)
            conn.send_goaway(code=0x1)
        except (ConnectionError, OSError):
            pass
        finally:
            conn.closed = True
            with conn.flow_cond:  # wake any handler blocked on send quota
                conn.flow_cond.notify_all()
            try:
                sock.close()
            except OSError:
                pass

    # ---------------------------------------------------------- dispatch
    #: per-connection concurrent handler-thread cap: beyond it new streams
    #: are refused with RST_STREAM(REFUSED_STREAM) — a safe-to-retry code
    #: (§8.1.4) — instead of letting one peer mint unbounded threads ahead
    #: of the QueryAPI concurrency limiter
    MAX_CONN_DISPATCH = 32

    def _spawn_dispatch(self, conn: Conn, st: Stream) -> None:
        """Run the handler off the read loop: a large response can block in
        send_data until the peer's WINDOW_UPDATEs arrive, and those are
        only processed if the read loop stays free (grpc-go serves handlers
        from per-stream goroutines for the same reason)."""
        if not hasattr(conn, "_dispatch_sem"):  # read loop only: no race
            conn._dispatch_sem = threading.BoundedSemaphore(
                self.MAX_CONN_DISPATCH)
        sem = conn._dispatch_sem
        if not sem.acquire(blocking=False):
            conn.send(pack_frame(RST_STREAM, 0, st.id,
                                 struct.pack(">I", 0x7)))  # REFUSED_STREAM
            conn.release_stream(st.id)
            return

        def run() -> None:
            try:
                self._dispatch(conn, st)
            finally:
                conn.release_stream(st.id)
                sem.release()

        threading.Thread(target=run, daemon=True).start()

    def _dispatch(self, conn: Conn, st: Stream) -> None:
        hdrs = dict(st.headers)
        path = hdrs.get(":path", "")
        headers_sent = False
        try:
            msgs, _rest = split_grpc_frames(st.data)
            body = msgs[0] if msgs else b""
            handler = _ROUTES.get(path)
            if handler is None:
                raise GrpcStatus(UNIMPLEMENTED,
                                 f"unknown service method {path}")
            responses = handler(self, body)
            conn.send_headers(st.id, [
                (":status", "200"),
                ("content-type", "application/grpc"),
            ])
            headers_sent = True
            for msg in responses:
                conn.send_data(st.id, grpc_frame(msg))
            conn.send_headers(st.id, [("grpc-status", "0")],
                              end_stream=True)
        except GrpcStatus as e:
            self._send_error(conn, st.id, e.code, e.message, headers_sent)
        except QuotaExceeded as e:
            self._send_error(conn, st.id, RESOURCE_EXHAUSTED, str(e),
                             headers_sent)
        except Exception as e:  # eval errors → INTERNAL (thanos.go:262)
            self._send_error(conn, st.id, INTERNAL,
                             f"query eval error: {e}", headers_sent)

    @staticmethod
    def _send_error(conn: Conn, sid: int, code: int, message: str,
                    headers_sent: bool = False) -> None:
        # trailers-only gRPC error response — unless the response already
        # started, in which case the status must ride a proper TRAILER
        # block (no pseudo-headers: RFC 7540 §8.1.2.1 makes :status in a
        # trailer malformed, and a conformant peer would PROTOCOL_ERROR
        # the stream instead of surfacing the grpc-status)
        try:
            if headers_sent:
                conn.send_headers(sid, [
                    ("grpc-status", str(code)),
                    ("grpc-message", message.replace("\n", " ")[:1024]),
                ], end_stream=True)
                return
            conn.send_headers(sid, [
                (":status", "200"),
                ("content-type", "application/grpc"),
                ("grpc-status", str(code)),
                ("grpc-message", message.replace("\n", " ")[:1024]),
            ], end_stream=True)
        except (ConnectionError, OSError):
            pass

    # ---------------------------------------------------------- handlers
    def _compile_guard(self, fn):
        """Run fn(); PromQL parse/compile errors → ABORTED like the
        reference's NewInstantQuery failure path (thanos.go:251-254)."""
        from thanos_parquet_gateway_spark.promql.parser import (
            PromQLSyntaxError,
        )
        try:
            return fn()
        except PromQLSyntaxError as e:
            raise GrpcStatus(ABORTED, f"unable to create query: {e}")

    def handle_query(self, body: bytes) -> list[bytes]:
        req = pb.decode_query_request(body)
        lb = req["lookback_delta_seconds"] * 1000 or None
        res = self._compile_guard(lambda: self.qs.query(
            req["query"], req["time_seconds"] * 1000,
            replica_labels=req["replica_labels"], lookback_ms=lb))
        return _query_result_messages(res)

    def handle_query_range(self, body: bytes) -> list[bytes]:
        req = pb.decode_query_range_request(body)
        lb = req["lookback_delta_seconds"] * 1000 or None
        res = self._compile_guard(lambda: self.qs.query_range(
            req["query"], req["start_time_seconds"] * 1000,
            req["end_time_seconds"] * 1000,
            req["interval_seconds"] * 1000,
            replica_labels=req["replica_labels"], lookback_ms=lb))
        return _query_result_messages(res)

    def handle_info(self, _body: bytes) -> list[bytes]:
        return [pb.encode_info_response(self.qs.info())]

    def handle_series(self, body: bytes) -> list[bytes]:
        req = pb.decode_series_request(body)
        sel = pb.matchers_to_selector(req["matchers"])
        rows, warns = self._compile_guard(lambda: self.qs.series(
            [sel], req["min_time"], req["max_time"],
            limit=req["limit"], skip_samples=req["skip_chunks"],
            replica_labels=req["without_replica_labels"]))
        out = []
        for row in rows:
            chunks = []
            if not req["skip_chunks"]:
                samples = row.get("samples", [])
                for i in range(0, len(samples), CHUNK_SAMPLES):
                    chunk = [(int(ts), float(v))
                             for ts, v in samples[i:i + CHUNK_SAMPLES]
                             if v is not None]
                    if chunk:
                        chunks.append((chunk[0][0], chunk[-1][0],
                                       encode_xor_chunk(chunk),
                                       pb.CHUNK_XOR))
                # native-histogram samples ride varbit FLOAT_HISTOGRAM
                # chunks like the reference passes through
                # (thanos.go:462-473); custom-bounds runs fall back to the
                # private prompb payload under an out-of-range enum
                hists = [(int(ts), h) for ts, h in
                         row.get("histograms", [])]
                chunks += pb.split_histogram_chunks(
                    hists, max_samples=CHUNK_SAMPLES)
            out.append(pb.encode_series_response(labels=row["labels"],
                                                 chunks=chunks))
        out += [pb.encode_series_response(warning=w) for w in warns]
        return out

    def handle_label_names(self, body: bytes) -> list[bytes]:
        req = pb.decode_label_names_request(body)
        sels = ([pb.matchers_to_selector(req["matchers"])]
                if req["matchers"] else None)
        names, warns = self._compile_guard(lambda: self.qs.label_names(
            sels, req["start"], req["end"], limit=req["limit"],
            replica_labels=req["without_replica_labels"]))
        return [pb.encode_label_strings_response(names, warns)]

    def handle_label_values(self, body: bytes) -> list[bytes]:
        req = pb.decode_label_values_request(body)
        sels = ([pb.matchers_to_selector(req["matchers"])]
                if req["matchers"] else None)
        values, warns = self._compile_guard(lambda: self.qs.label_values(
            req["label"], sels, req["start"], req["end"],
            limit=req["limit"],
            replica_labels=req["without_replica_labels"]))
        return [pb.encode_label_strings_response(values, warns)]


def _prompb_hist(ts_sec: float, hj: dict) -> bytes:
    """HTTP-shaped histogram object (api/http._hist_json) → prompb.Histogram
    wire payload — the reference streams histograms alongside float samples
    on Query/QueryRange (thanos.go:274-277, prompb.SamplesFromPromqlSamples).
    The boundary 4-tuples rebuild the engine's explicit-bound model: the
    upper bound IS the model's le, and the closed zero bucket maps to
    le = 0."""
    sch = int(hj.get("schema", -53))
    bks: list[tuple[float, float]] = []
    for rule, _lo, hi, c in hj.get("buckets", []):
        hi_f, c_f = float(hi), float(c)
        if rule == 3 and hi_f == 0.0:
            bks.append((0.0, c_f))
        else:
            bks.append((hi_f, c_f))
    bks.sort()
    return pb.encode_histogram_sample(
        int(float(ts_sec) * 1000), float(hj["count"]), float(hj["sum"]),
        bks, None if sch == -53 else sch)


def _query_result_messages(res: dict) -> list[bytes]:
    """HTTP-shaped query payload → streamed QueryResponse messages,
    mirroring the reference's send order: warnings, series, stats
    (thanos.go:264-295)."""
    out: list[bytes] = []
    warns = res.get("warnings", [])
    if warns:
        out.append(pb.encode_query_response(warnings="; ".join(warns)))
    rtype = res.get("resultType")
    if rtype == "vector":
        for item in res.get("result", []):
            samples, hists = [], []
            if "histogram" in item:
                ts_sec, hj = item["histogram"]
                hists.append(_prompb_hist(ts_sec, hj))
            else:
                ts_sec, val = item["value"]
                samples.append((int(ts_sec * 1000), float(val)))
            out.append(pb.encode_query_response(
                timeseries=pb.encode_time_series(
                    item["metric"], samples, histograms=hists)))
    elif rtype == "matrix":
        for item in res.get("result", []):
            samples = [(int(t * 1000), float(v))
                       for t, v in item.get("values", [])]
            hists = [_prompb_hist(t, hj)
                     for t, hj in item.get("histograms", [])]
            out.append(pb.encode_query_response(
                timeseries=pb.encode_time_series(item["metric"], samples,
                                                 histograms=hists)))
    elif rtype == "scalar":
        ts_sec, val = res["result"]
        out.append(pb.encode_query_response(
            timeseries=pb.encode_time_series({}, [(int(ts_sec * 1000),
                                                   float(val))])))
    # string results: no wire representation (reference sends nothing)
    st = res.get("stats", {}).get("samples", {})
    if st:
        # stats total/peak → QueryStats samples_total/peak_samples
        # (same mapping as reference toQueryStats, thanos.go:561-566)
        out.append(pb.encode_query_response(
            stats=(int(st.get("totalQueried", 0)),
                   int(st.get("peakSamples", 0)))))
    return out


_ROUTES = {
    "/thanos.Query/Query": ThanosGrpcServer.handle_query,
    "/thanos.Query/QueryRange": ThanosGrpcServer.handle_query_range,
    "/thanos.info.Info/Info": ThanosGrpcServer.handle_info,
    "/thanos.Store/Series": ThanosGrpcServer.handle_series,
    "/thanos.Store/LabelNames": ThanosGrpcServer.handle_label_names,
    "/thanos.Store/LabelValues": ThanosGrpcServer.handle_label_values,
}
