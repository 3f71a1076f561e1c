"""Layer tracing for the benchmark's traced runs.

``Tracer.install(spark)`` wraps the public entry points of each layer from
outside the program (no knob in the program itself):

=========  ==========================================================
layer      spans
=========  ==========================================================
api        ``api.http`` (one HTTP request, root), ``api.grpc`` (one
           gRPC call, root), ``api.request`` (QueryAPI / QueryServer
           handlers), ``api.serialize`` (json.dumps, protobuf and XOR
           chunk encoding)
promql     ``promql.parse`` (parser.parse), ``promql.compile``
           (PromQLEngine.query_* / series / label_*), ``promql.build``
           (a plan-cache miss inside compile)
spark      ``spark.exec`` (DataFrame.collect, DataFrameWriter.save)
operators  ``operators.job`` (one registry entry drained, root),
           ``operators.build`` (the registry entry function)
trace      ``trace.stats``: the tracer's own bookkeeping (job groups,
           stage and plan statistics); excluded from every layer
=========  ==========================================================

Each span records name, start, end, thread CPU time, parent and request
id (the id of its root span), plus py4j round trips made while it was the
innermost span.  Spans stay in memory and are written as JSON lines by
``dump`` when the process stops.  ``set_enabled`` switches recording on and
off (traced and untraced slices of one run alternate); while it is off
every wrapper calls straight through, and a span that was open across a
switch is marked ``partial``.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager

ROOTS = ("api.http", "api.grpc", "operators.job")


class Tracer:
    def __init__(self):
        self.enabled = False
        self._gen = 0  # bumped on every switch-on
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._ids = itertools.count(1)
        self._sc = None

    def set_enabled(self, on: bool) -> None:
        if on and not self.enabled:
            self._gen += 1
        self.enabled = on

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else None
        sid = next(self._ids)
        gen = self._gen
        start = time.perf_counter_ns()
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "req": parent["req"] if parent else sid,
               "start": start,
               "root_start": parent["root_start"] if parent else start,
               "cpu0": time.thread_time_ns(), "py4j": 0, "py4j_ns": 0,
               **attrs}
        st.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter_ns()
            rec["cpu"] = time.thread_time_ns() - rec.pop("cpu0")
            if not self.enabled or self._gen != gen:
                rec["partial"] = True
            st.pop()
            self.spans.append(rec)

    @contextmanager
    def root_span(self, name: str, after=None, **attrs):
        """A request's root span.  Its Spark jobs run under a job group,
        whose stage statistics are added to the span once it closes;
        ``after(rec)`` adds more.  That bookkeeping runs in ``trace.stats``
        spans, outside every layer."""
        with self.span(name, **attrs) as rec:
            if rec is not None:
                with self.span("trace.stats"):
                    self._sc.setJobGroup(f"bench-{rec['id']}", name, False)
            yield rec
        if rec is not None:
            with self.span("trace.stats"):
                rec.update(stage_stats(self._sc, f"bench-{rec['id']}"))
                self._sc._jsc.clearJobGroup()
                if after is not None:
                    after(rec)

    def wrapped(self, orig, name: str, after=None, root=False, **attrs):
        """``orig`` inside a span.  ``after(rec, args, result)`` runs once
        the span has closed, in a ``trace.stats`` span."""
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            ctx = (tracer.root_span(name, **attrs) if root
                   else tracer.span(name, **attrs))
            with ctx as rec:
                out = orig(*a, **kw)
            if after is not None:
                with tracer.span("trace.stats"):
                    after(rec, a, out)
            return out
        return wrapper

    def wrap(self, owner, attr: str, name: str, **kw) -> None:
        setattr(owner, attr, self.wrapped(getattr(owner, attr), name, **kw))

    def count_py4j(self, orig):
        tracer = self

        @functools.wraps(orig)
        def send_command(*a, **kw):
            st = tracer._stack() if tracer.enabled else None
            if not st:
                return orig(*a, **kw)
            t0 = time.perf_counter_ns()
            try:
                return orig(*a, **kw)
            finally:
                top = st[-1]
                top["py4j"] += 1
                top["py4j_ns"] += time.perf_counter_ns() - t0
        return send_command

    # ---------------------------------------------------------- install
    def install(self, spark) -> None:
        import http.server

        from py4j.java_gateway import GatewayClient

        from thanos_parquet_gateway_spark.api import grpc_pb, grpc_server
        from thanos_parquet_gateway_spark.api import http as api_http
        from thanos_parquet_gateway_spark.api.server import QueryServer
        from thanos_parquet_gateway_spark.plans import entry_queries
        from thanos_parquet_gateway_spark.promql import engine, parser

        from launcher import OPERATOR_JOBS

        self._sc = spark.sparkContext
        GatewayClient.send_command = self.count_py4j(
            GatewayClient.send_command)

        # api: roots, handlers, serialization
        self.wrap(http.server.BaseHTTPRequestHandler, "handle_one_request",
                  "api.http", root=True, after=_http_request_id)
        self.wrap(grpc_server.ThanosGrpcServer, "_dispatch", "api.grpc",
                  root=True)
        for m in ("query", "query_range", "series", "labels",
                  "label_values"):
            self.wrap(api_http.QueryAPI, m, "api.request", op=m)
        for m in ("query", "query_range", "series", "label_names",
                  "label_values"):
            self.wrap(QueryServer, m, "api.request", op=m)
        api_http.json = _JsonShim(self)
        self.wrap(grpc_server, "encode_xor_chunk", "api.serialize",
                  after=_out_bytes)
        self.wrap(grpc_pb, "encode_series_response", "api.serialize",
                  after=_out_bytes)

        # promql: parse, compile (plan-cache lookups), builds (misses)
        self.wrap(parser, "parse", "promql.parse")
        for m in ("query_instant", "query_range", "series", "label_names",
                  "label_values"):
            self.wrap(engine.PromQLEngine, m, "promql.compile", op=m)
        for m in ("_query_instant_uncached", "_query_range_uncached"):
            self.wrap(engine.PromQLEngine, m, "promql.build")

        # spark: actions, with plan statistics taken after each collect
        # (the concrete classes: pyspark.sql.DataFrame is abstract)
        df = spark.range(1)
        self.wrap(type(df), "collect", "spark.exec", after=_collect_stats)
        self.wrap(type(df.write), "save", "spark.exec")

        # operators: the registry entry functions
        for name in OPERATOR_JOBS:
            entry_queries.QUERIES[name] = self.wrapped(
                entry_queries.QUERIES[name], "operators.build", job=name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _JsonShim:
    """Stands in for the ``json`` module inside ``api.http`` so the HTTP
    response serialization is a span."""

    def __init__(self, tracer: Tracer):
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(json, name)

    def dumps(self, *a, **kw):
        with self._tracer.span("api.serialize") as rec:
            out = json.dumps(*a, **kw)
            if rec is not None:
                rec["bytes"] = len(out)
            return out


def _http_request_id(rec, args, _out) -> None:
    headers = getattr(args[0], "headers", None)
    if headers is not None:
        rec["rid"] = headers.get("X-Request-Id")


def _out_bytes(rec, _args, out) -> None:
    rec["bytes"] = len(out)


def _collect_stats(rec, args, rows) -> None:
    """Rows returned, scan statistics (``api.http.scan_stats``) and the
    Catalyst phases that ran inside this request (a plan-cache hit reuses
    an analyzed, planned DataFrame, so it has none)."""
    from thanos_parquet_gateway_spark.api.http import scan_stats
    df = args[0]
    rec["rows"] = len(rows)
    rec["scan"] = scan_stats(df)
    phases = df._jdf.queryExecution().tracker().phases()
    t0_ms = (time.time() * 1000
             - (time.perf_counter_ns() - rec["root_start"]) / 1e6)
    for p in ("analysis", "optimization", "planning"):
        o = phases.get(p)
        if o.isDefined() and o.get().startTimeMs() >= t0_ms - 1:
            rec[f"phase_{p}_ms"] = o.get().durationMs()


def stage_stats(sc, group: str) -> dict:
    """Jobs, stages, tasks, shuffle bytes written and scheduler queue wait
    (stage submission to first task launch) of a job group."""
    from py4j.protocol import Py4JJavaError
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0,
           "queue_wait_ms": 0}
    for j in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        out["jobs"] += 1
        for s in info.stageIds:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # no attempt recorded, or evicted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                out["queue_wait_ms"] += max(
                    0, first.get().getTime() - sub.get().getTime())
    return out


def join_output_rows(spark, timeout_s: float = 5.0) -> int:
    """Largest join output of the latest SQL execution: the pairs an
    all-pairs operator generated before its exact check."""
    store = spark._jsparkSession.sharedState().statusStore()
    deadline = time.monotonic() + timeout_s
    while True:
        ex = store.executionsList()
        last = ex.apply(ex.size() - 1)
        if last.completionTime().isDefined() or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    eid = last.executionId()
    values = store.executionMetrics(eid)
    nodes = store.planGraph(eid).allNodes()
    best = 0
    for i in range(nodes.size()):
        node = nodes.apply(i)
        if "Join" not in node.name():
            continue
        ms = node.metrics()
        for k in range(ms.size()):
            pm = ms.apply(k)
            v = values.get(pm.accumulatorId())
            if pm.name() == "number of output rows" and v.isDefined():
                best = max(best, int(v.get().replace(",", "")))
    return best


# ------------------------------------------------------------ analysis
def load_spans(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def requests(spans: list[dict]) -> dict[int, list[dict]]:
    """Spans grouped by request, keeping only requests whose root span was
    recorded whole (a request in flight when tracing switched is
    dropped)."""
    by_req: dict[int, list[dict]] = {}
    for s in spans:
        by_req.setdefault(s["req"], []).append(s)
    return {r: ss for r, ss in by_req.items()
            if any(s["id"] == r and s["name"] in ROOTS
                   and not s.get("partial") for s in ss)}


def self_times(spans: list[dict]) -> list[dict]:
    """Per span, in ms: duration and self time (duration minus child
    spans), both without the tracer's own ``trace.stats`` time; self CPU
    time; own py4j time."""
    by_id = {s["id"]: s for s in spans}
    child_wall: dict[int, int] = {}
    child_cpu: dict[int, int] = {}
    traced: dict[int, int] = {}  # trace.stats time inside each span
    for s in spans:  # children close, and are listed, before parents
        p = s["parent"]
        if p is None or p not in by_id:
            continue
        dur = s["end"] - s["start"]
        child_wall[p] = child_wall.get(p, 0) + dur
        child_cpu[p] = child_cpu.get(p, 0) + s["cpu"]
        traced[p] = traced.get(p, 0) + (
            dur if s["name"] == "trace.stats" else traced.get(s["id"], 0))
    out = []
    for s in spans:
        dur = s["end"] - s["start"]
        out.append({**s,
                    "dur_ms": (dur - traced.get(s["id"], 0)) / 1e6,
                    "self_ms": (dur - child_wall.get(s["id"], 0)) / 1e6,
                    "self_cpu_ms": (s["cpu"] - child_cpu.get(s["id"], 0))
                    / 1e6,
                    "py4j_ms": s["py4j_ns"] / 1e6})
    return out


LAYERS = ("api", "promql", "spark", "operators")


def gil_wait(s: dict) -> float:
    """Self time of a Python-side span spent neither on CPU nor in a py4j
    round trip: waiting for the interpreter lock.  The HTTP root's self
    time is socket I/O, and Spark actions wait on the JVM, so neither
    counts."""
    if s["name"].split(".")[0] not in ("api", "promql") \
            or s["name"] in ROOTS:
        return 0.0
    return max(0.0, s["self_ms"] - s["self_cpu_ms"] - s["py4j_ms"])


def layer_table(reqs: dict[int, list[dict]]) -> dict:
    """Mean per request of each layer's busy self time and span count,
    and of the waiting the trace separates from them: interpreter-lock
    wait and Spark scheduler queue wait (stage submission to first task
    launch)."""
    n = max(len(reqs), 1)
    tab = {layer: {"self_ms": 0.0, "calls": 0.0} for layer in LAYERS}
    gil = queue = 0.0
    for ss in reqs.values():
        for s in self_times(ss):
            layer = s["name"].split(".")[0]
            if s["id"] == s["req"]:
                queue += s.get("queue_wait_ms", 0)
            if layer in tab:
                w = gil_wait(s)
                gil += w
                tab[layer]["self_ms"] += s["self_ms"] - w
                tab[layer]["calls"] += 1
    tab["spark"]["self_ms"] = max(0.0, tab["spark"]["self_ms"] - queue)
    for layer in LAYERS:
        tab[layer] = {k: v / n for k, v in tab[layer].items()}
    tab["wait"] = {"gil_ms": gil / n, "spark_queue_ms": queue / n}
    return tab


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median_gap(a: list[float], b: list[float]) -> float:
    return statistics.median(a) - statistics.median(b) if a and b else 0.0


def layer_metrics(spans: list[dict], conv: dict | None,
                  traced: list[dict], untraced: list[dict]) -> dict:
    """The per-layer metrics of one traced run (see METRICS.md).
    ``traced``/``untraced`` are the client records (ms, rid) of the
    traced and untraced slices of the run; ``conv`` is the launcher's
    convert report."""
    from launcher import OPERATOR_JOBS

    reqs = requests(spans)
    n = max(len(reqs), 1)
    tab = layer_table(reqs)
    flat = [s for ss in reqs.values() for s in self_times(ss)]
    roots = [s for s in flat if s["id"] == s["req"]]

    def per_req(name: str, key: str = "dur_ms") -> float:
        return sum(s.get(key, 0) for s in flat if s["name"] == name) / n

    m: dict[str, tuple[float, str]] = {}
    # api
    by_rid = {r["rid"]: r for r in roots if r.get("rid")}
    m["api.request_ms"] = (per_req("api.request"), "ms")
    m["api.transport_ms"] = (_mean(rec["ms"] - by_rid[rec["rid"]]["dur_ms"]
                                   for rec in traced
                                   if rec.get("rid") in by_rid), "ms")
    m["api.shape_ms"] = (sum(s["self_ms"] - gil_wait(s) for s in flat
                             if s["name"] == "api.request") / n, "ms")
    m["api.serialize_ms"] = (per_req("api.serialize"), "ms")
    m["api.response_bytes"] = (per_req("api.serialize", "bytes"), "bytes")
    m["api.self_ms"] = (tab["api"]["self_ms"], "ms")
    m["api.calls"] = (tab["api"]["calls"], "count")
    # promql
    lookups = [s for s in flat if s["name"] == "promql.compile"
               and s.get("op") in ("query_instant", "query_range")]
    builds = {s["parent"] for s in flat if s["name"] == "promql.build"}
    m["promql.parse_ms"] = (per_req("promql.parse"), "ms")
    m["promql.compile_ms"] = (per_req("promql.compile"), "ms")
    m["promql.py4j_calls"] = (sum(s["py4j"] for s in flat
                                  if s["name"].startswith("promql.")) / n,
                              "count")
    m["promql.plan_cache_hit_ratio"] = (
        sum(s["id"] not in builds for s in lookups) / len(lookups)
        if lookups else 0.0, "ratio")
    m["promql.self_ms"] = (tab["promql"]["self_ms"], "ms")
    m["promql.calls"] = (tab["promql"]["calls"], "count")
    # spark
    for p, name in (("analysis", "analyze"), ("optimization", "optimize"),
                    ("planning", "plan")):
        m[f"spark.{name}_ms"] = (per_req("spark.exec", f"phase_{p}_ms"), "ms")
    m["spark.exec_ms"] = (tab["spark"]["self_ms"], "ms")
    m["spark.calls"] = (tab["spark"]["calls"], "count")
    for k, unit in (("jobs", "count"), ("stages", "count"),
                    ("tasks", "count"), ("shuffle_bytes", "bytes")):
        m[f"spark.{k}"] = (_mean(r.get(k, 0) for r in roots), unit)
    # sources
    execs = [s for s in flat if "scan" in s]
    scanned = sum(s["scan"]["totalQueried"] for s in execs)
    m["sources.rows_scanned"] = (scanned / n, "count")
    m["sources.files_scanned"] = (
        sum(s["scan"]["filesScanned"] for s in execs) / n, "count")
    m["sources.bytes_scanned"] = (
        sum(s["scan"]["bytesScanned"] for s in execs) / n, "bytes")
    m["sources.selectivity"] = (
        sum(s["rows"] for s in execs) / scanned if scanned else 0.0, "ratio")
    # convert (set-up of the gateway workloads)
    conv = conv or {}
    m["convert.write_s"] = (conv.get("write_s", 0.0), "s")
    m["convert.rows_written"] = (conv.get("rows_written", 0), "count")
    m["convert.files_written"] = (conv.get("files_written", 0), "count")
    m["convert.bytes_ratio"] = (conv["bytes_written"] / conv["source_bytes"]
                                if conv else 0.0, "ratio")
    # operators
    jobs = [s for s in roots if s["name"] == "operators.job"]
    for name in OPERATOR_JOBS:
        m[f"operators.{name}_s"] = (_mean(
            s["dur_ms"] / 1000 for s in jobs if s["job"] == name), "s")
    passes = len(jobs) / len(OPERATOR_JOBS) or 1
    cand = sum(s.get("candidate_pairs", 0) for s in jobs)
    outr = sum(s.get("output_rows", 0) for s in jobs)
    m["operators.candidate_pairs"] = (cand / passes, "count")
    m["operators.output_rows"] = (outr / passes, "count")
    m["operators.pair_yield"] = (outr / cand if cand else 0.0, "ratio")
    m["operators.self_ms"] = (tab["operators"]["self_ms"], "ms")
    # waiting and the tracer itself
    m["wait.gil_ms"] = (tab["wait"]["gil_ms"], "ms")
    m["wait.spark_queue_ms"] = (tab["wait"]["spark_queue_ms"], "ms")
    m["trace.overhead_ms"] = (_median_gap([r["ms"] for r in traced],
                                          [r["ms"] for r in untraced]), "ms")
    m["trace.requests"] = (len(reqs), "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
