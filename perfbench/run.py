"""Gateway benchmark: one command per workload run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root.  The inputs are the sf0.1 events, documents
and embeddings tables in ``data/`` (the seed picks the requests).  The
benchmark starts the real gateway (``launcher.py``: convert, then
``cli.main(["serve", ...])``) or the operator batch in a child process,
drives it closed loop, checks
every answer against DuckDB over the source parquet, and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run alternates untraced and traced slices and the metrics are the
per-layer ones (see METRICS.md).  Work files live under ``.perfbench/`` at
the repository root and are removed at the end; the metrics, span file and
layer table of the last run of each workload stay in
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import http.client
import importlib.util
import itertools
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from workloads import LOOKBACK_MS  # noqa: E402

DATA = os.path.join(HERE, "data")
# batch_operators runs on the first rows of the sf0.1 documents and
# embeddings, sized so that one pass over the jobs takes a few seconds
OPERATOR_ROWS = {"documents": 1500, "embeddings": 800}

WORKLOADS = {
    # name: (gateway clients, tail percentile reported)
    "dashboard": (2, 90),
    "batch_operators": (1, 100),
}
DRIVER_MEM = "1g"
TRACE_SLICES = 8  # traced runs alternate untraced and traced slices
# failure-path limits, sized so a stuck run still ends within 180 s
SETUP_TIMEOUT_S = 100.0  # gateway start to ready
REQUEST_TIMEOUT_S = 30.0
STOP_TIMEOUT_S = 15.0


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_times() -> list[int]:
    """Aggregate jiffies of /proc/stat's cpu line."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    a contended host shows here."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ------------------------------------------------------------- processes
class Gateway:
    """The child process (launcher.py), started in a session of its own."""

    def __init__(self, work: str, args: list[str]):
        self.out_path = os.path.join(work, "launcher.out")
        self.err_path = os.path.join(work, "launcher.err")
        self.ready_by = time.monotonic() + SETUP_TIMEOUT_S
        env = dict(os.environ,
                   SPARK_GRAFT_CPUS=str(nproc()),
                   SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
                   TMPDIR=os.path.join(work, "tmp"),
                   JAVA_TOOL_OPTIONS="-Djava.io.tmpdir="
                   + os.path.join(work, "tmp"),
                   PYSPARK_PYTHON=sys.executable,
                   PYTHONPATH=ROOT, PYTHONUNBUFFERED="1")
        os.makedirs(env["TMPDIR"], exist_ok=True)
        with open(self.out_path, "w") as out, \
                open(self.err_path, "w") as err:
            self.proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "launcher.py")] + args,
                stdout=out, stderr=err, env=env, cwd=ROOT,
                start_new_session=True)

    def events(self) -> list[dict]:
        """JSON event lines printed so far (plus the serve banner)."""
        with open(self.out_path) as f:
            lines = f.read().splitlines()
        out = []
        for line in lines:
            if line.startswith("{"):
                out.append(json.loads(line))
            else:
                m = re.search(r"on :(\d+) grpc :(\d+)", line)
                if m:
                    out.append({"event": "serving", "port": int(m.group(1)),
                                "grpc_port": int(m.group(2))})
        return out

    def wait_for(self, event: str, deadline: float) -> dict:
        """The first ``event`` line, waiting until ``deadline``
        (time.monotonic); the launcher's stderr tail is in the error."""
        while time.monotonic() < deadline:
            for e in self.events():
                if e["event"] == event:
                    return e
            if self.proc.poll() is not None:
                break
            time.sleep(0.05)
        with open(self.err_path) as f:
            tail = "".join(f.readlines()[-20:])
        raise RuntimeError(f"no {event!r} from the gateway (exit code "
                           f"{self.proc.poll()}):\n{tail}")

    def tree(self) -> list[int]:
        """Live pids of the launcher's session: the launcher, its JVM and
        the JVM's Python workers (which move to their own process group).
        Zombies have ended and are left out."""
        pids = []
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if fields[0] != "Z" and int(fields[3]) == self.proc.pid:
                pids.append(int(d))
        return pids

    def peak_rss_mb(self) -> float:
        """Sum of the session's per-process peak RSS (VmHWM)."""
        kb = 0
        for pid in self.tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024.0

    def signal(self, sig: int) -> None:
        if self.proc.poll() is None:
            os.kill(self.proc.pid, sig)

    def stop(self) -> None:
        """SIGTERM (the launcher stops Spark and writes its spans), then
        SIGKILL whatever of the session is left; returns once all are
        gone."""
        self.signal(signal.SIGTERM)
        deadline = time.monotonic() + STOP_TIMEOUT_S
        while self.tree() and time.monotonic() < deadline:
            time.sleep(0.1)
        while self.tree():
            for pid in self.tree():
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if time.monotonic() > deadline + STOP_TIMEOUT_S:
                raise RuntimeError("gateway processes did not stop")
            time.sleep(0.1)
        self.proc.wait()


# --------------------------------------------------------------- clients
class Client:
    """One closed-loop caller: HTTP per request (the server speaks
    HTTP/1.0), one long-lived gRPC connection, like a Querier."""

    def __init__(self, port: int, grpc_port: int, cid: int):
        self.port, self.grpc_port, self.cid = port, grpc_port, cid
        self.grpc = None
        self.n = 0

    def close(self) -> None:
        if self.grpc is not None:
            self.grpc.close()

    def send(self, req: dict):
        """One request; returns (request id, raw reply, decode), where
        ``decode(raw)`` gives (ok, payload, response bytes).  Only the
        exchange itself is timed by the caller, not the decoding."""
        k = req["kind"]
        if k == "grpc_series":
            from thanos_parquet_gateway_spark.api import grpc_pb as pb
            from thanos_parquet_gateway_spark.api.grpc_client import (
                ThanosGrpcClient,
            )
            if self.grpc is None:
                self.grpc = ThanosGrpcClient("127.0.0.1", self.grpc_port,
                                             timeout=REQUEST_TIMEOUT_S)
            self.n += 1
            matchers = [("=", "__name__", req["metric"])] + [
                ("=", label, value) for label, value in req["eq"].items()]
            msgs = self.grpc.call("/thanos.Store/Series",
                                  pb.encode_series_request(
                                      req["start"], req["end"], matchers))
            return None, msgs, _decode_series
        sec = lambda ms: str(ms // 1000)  # noqa: E731
        if k == "instant":
            path, params = "/api/v1/query", [
                ("query", req["query"]), ("time", sec(req["time"]))]
        elif k == "range":
            path, params = "/api/v1/query_range", [
                ("query", req["query"]), ("start", sec(req["start"])),
                ("end", sec(req["end"])), ("step", sec(req["step"]))]
        else:
            path = ("/api/v1/labels" if k == "labels"
                    else f"/api/v1/label/{req['name']}/values")
            params = [("match[]", m) for m in req["match"]] + [
                ("start", sec(req["start"])), ("end", sec(req["end"]))]
        self.n += 1
        rid = f"{self.cid}-{self.n}"
        conn = http.client.HTTPConnection("127.0.0.1", self.port,
                                          timeout=REQUEST_TIMEOUT_S)
        try:
            conn.request("GET", path + "?" + urllib.parse.urlencode(params),
                         headers={"X-Request-Id": rid})
            resp = conn.getresponse()
            return rid, (resp.status, resp.read()), _decode_http
        finally:
            conn.close()


def _decode_http(raw):
    status, body = raw
    doc = json.loads(body)
    return (status == 200 and doc.get("status") == "success",
            doc.get("data"), len(body))


def _decode_series(msgs):
    """Series frames → the querier's view (grpc_client.series_samples)."""
    from thanos_parquet_gateway_spark.api import grpc_pb as pb
    from thanos_parquet_gateway_spark.api.chunkenc import decode_xor_chunk
    out = []
    for m in map(pb.decode_series_response, msgs):
        if "series" in m:
            s = m["series"]
            out.append({"labels": s["labels"], "histograms": [],
                        "samples": [p for c in s["chunks"]
                                    for p in decode_xor_chunk(c["data"])]})
    return True, out, sum(len(m) for m in msgs)


def drive(gw_ports, reqs, answers, clients: int, seconds: float | None,
          on_slice=None) -> list[dict]:
    """Closed loop: each client cycles through ``reqs`` (client i starts
    at offset i*len/clients).  ``seconds=None`` sends each request once
    (the warm-up pass).  The run is cut into ``TRACE_SLICES`` equal time
    slices; ``on_slice(k)`` is called as slice k begins.  Returns one
    record per request."""
    from workloads import check, points
    records: list[dict] = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    deadline = None if seconds is None else t0 + seconds
    width = (seconds or 1.0) / TRACE_SLICES
    current = -1  # the latest slice announced to on_slice

    def loop(cid: int) -> None:
        nonlocal current
        cl = Client(*gw_ports, cid)
        try:
            if deadline is None:
                order = range(cid, len(reqs), clients)
            else:
                order = itertools.islice(itertools.cycle(range(len(reqs))),
                                         cid * len(reqs) // clients, None)
            for i in order:
                if deadline is not None:
                    now = time.perf_counter()
                    if now >= deadline:
                        break
                    with lock:
                        k = int((now - t0) / width)
                        if on_slice and k > current:
                            current = k
                            on_slice(k)
                req = reqs[i]
                s = time.perf_counter()
                data, nbytes, rid = None, 0, None
                try:
                    rid, raw, decode = cl.send(req)
                    e = time.perf_counter()
                    ok, data, nbytes = decode(raw)
                    err = (check(req, data, answers[i]) if ok
                           else f"status: {str(data)[:200]}")
                except Exception as ex:  # noqa: BLE001 — counted as failed
                    e = time.perf_counter()
                    err = f"{type(ex).__name__}: {ex}"
                rec = {"i": i, "kind": req["kind"], "start": s - t0,
                       "end": e - t0, "ms": (e - s) * 1000.0, "rid": rid,
                       "slice": (int((s - t0) / width)
                                 if int((s - t0) / width)
                                 == int((e - t0) / width) else None),
                       "bytes": nbytes, "error": err,
                       "points": points(req, data) if err is None else 0}
                with lock:
                    records.append(rec)
        finally:
            cl.close()

    threads = [threading.Thread(target=loop, args=(c,)) for c in
               range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


# -------------------------------------------------------------- metrics
def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(1, -(-len(s) * p // 100))
    return s[int(k) - 1]


def end_to_end(lat_ms: list[float], elapsed: float, pts: int, tail_p: int,
               setup_s: float, rss_mb: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "latency_p50_ms": {"value": statistics.median(lat_ms), "unit": "ms"},
        "latency_tail_ms": {"value": percentile(lat_ms, tail_p),
                            "unit": "ms"},
        "qps": {"value": len(lat_ms) / elapsed, "unit": "req/s"},
        "points_per_s": {"value": pts / elapsed, "unit": "points/s"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


# ------------------------------------------------------------ workloads
def run_dashboard(args, work: str, env_rec: dict) -> dict:
    import duckdb

    import workloads

    clients, tail_p = WORKLOADS["dashboard"]
    reqs = workloads.dashboard(args.seed)
    con = duckdb.connect()
    con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                f"'{DATA}/events.parquet')")
    answers = [workloads.expected(con, r) for r in reqs]
    n_rows, n_distinct = con.execute(
        "SELECT count(*), count(DISTINCT (user_id, event_type, epoch_ms(ts)))"
        " FROM events").fetchone()
    env_rec.update(corpus_rows={"events": n_rows}, clients=clients,
                   tail_percentile=tail_p, requests_per_pass=len(reqs))

    table = os.path.join(work, "table")
    spans = os.path.join(work, "spans.jsonl") if args.trace else None
    t_setup = time.perf_counter()
    gw = Gateway(work, ["serve", "--corpus", DATA, "--table", table,
                        "--lookback-ms", str(LOOKBACK_MS)]
                 + (["--spans", spans] if spans else []))
    try:
        conv = gw.wait_for("converted", gw.ready_by)
        ports = gw.wait_for("serving", gw.ready_by)
        gw_ports = (ports["port"], ports["grpc_port"])
        warm = drive(gw_ports, reqs, answers, clients, None)
        setup_s = time.perf_counter() - t_setup
        env_rec["loadavg_1m_measure_start"] = os.getloadavg()[0]
        cpu0 = cpu_times()
        on_slice = (lambda k: gw.signal(signal.SIGUSR1 if k % 2
                                        else signal.SIGUSR2)) \
            if args.trace else None
        recs = drive(gw_ports, reqs, answers, clients, args.seconds,
                     on_slice)
        env_rec["cpu_steal_share"] = steal_share(cpu0, cpu_times())
        rss = gw.peak_rss_mb()
    finally:
        gw.stop()
    written = con.execute(
        "SELECT count(*) FROM read_parquet("
        f"'{table}/stream=*/date=*/*.parquet')").fetchone()[0]
    failures = [r for r in warm + recs if r["error"]]
    for r in failures[:5]:
        log(f"FAILED {reqs[r['i']]}: {r['error']}")
    row_check = written == n_distinct == conv["rows_written"]
    if not row_check:
        log(f"FAILED converted rows {written} / {conv['rows_written']}, "
            f"distinct (series, ts) in the source {n_distinct}")
    env_rec["median_ms_by_request"] = [
        round(statistics.median([r["ms"] for r in recs if r["i"] == i]), 1)
        if any(r["i"] == i for r in recs) else None
        for i in range(len(reqs))]
    result = {"attempted": len(warm) + len(recs),
              "failed": len(failures) + (0 if row_check else 1)}
    if args.trace:
        from trace_spans import layer_metrics, load_spans
        # requests that straddle a switch (slice None) are in neither set
        result["metrics"] = layer_metrics(
            load_spans(spans), conv,
            [r for r in recs if r["slice"] is not None and r["slice"] % 2],
            [r for r in recs if r["slice"] is not None
             and not r["slice"] % 2])
        result["spans"] = spans
    else:
        elapsed = max(r["end"] for r in recs)
        result["metrics"] = end_to_end(
            [r["ms"] for r in recs], elapsed,
            sum(r["points"] for r in recs), tail_p, setup_s, rss)
    return result


def run_batch_operators(args, work: str, env_rec: dict) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    from launcher import OPERATOR_JOBS
    from workloads import rows_match

    from thanos_parquet_gateway_spark.plans.entry_queries import ORACLES

    cdir = os.path.join(work, "corpus")
    os.makedirs(cdir)
    con = duckdb.connect()
    for t, n in OPERATOR_ROWS.items():
        pq.write_table(pq.read_table(f"{DATA}/{t}.parquet").slice(0, n),
                       f"{cdir}/{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{cdir}/{t}.parquet')")
    want = {name: con.execute(ORACLES[name]).fetchall()
            for name in OPERATOR_JOBS}
    env_rec.update(corpus_rows=OPERATOR_ROWS, clients=1,
                   tail_percentile=WORKLOADS["batch_operators"][1],
                   jobs=list(OPERATOR_JOBS))

    out = os.path.join(work, "results.json")
    spans = os.path.join(work, "spans.jsonl") if args.trace else None
    t_setup = time.perf_counter()
    gw = Gateway(work, ["operators", "--corpus", cdir, "--out", out,
                        "--seconds", str(args.seconds)]
                 + (["--spans", spans] if spans else []))
    try:
        gw.wait_for("ready", gw.ready_by)
        setup_s = time.perf_counter() - t_setup
        env_rec["loadavg_1m_measure_start"] = os.getloadavg()[0]
        cpu0 = cpu_times()
        gw.wait_for("done", time.monotonic() + args.seconds
                    + REQUEST_TIMEOUT_S)
        env_rec["cpu_steal_share"] = steal_share(cpu0, cpu_times())
        rss = gw.peak_rss_mb()
        events = gw.events()
    finally:
        gw.stop()
    with open(out) as f:
        got = json.load(f)
    failed = 0
    for name in OPERATOR_JOBS:
        if not rows_match(got[name], want[name]):
            failed += 1
            log(f"FAILED {name}: {len(got[name])} rows, "
                f"want {len(want[name])}")
    passes = [e for e in events if e["event"] == "pass"]
    out_rows = sum(len(got[n]) for n in OPERATOR_JOBS)
    result = {"attempted": len(OPERATOR_JOBS) * (1 + len(passes)),
              "failed": failed}
    if args.trace:
        from trace_spans import layer_metrics, load_spans
        split = {True: [], False: []}  # traced / untraced passes
        for e in passes:
            split[e["traced"]].append({"ms": e["s"] * 1000.0})
        result["metrics"] = layer_metrics(load_spans(spans), None,
                                          split[True], split[False])
        result["spans"] = spans
    else:
        lat = [p["s"] * 1000.0 for p in passes]
        elapsed = sum(p["s"] for p in passes)
        result["metrics"] = end_to_end(
            lat, elapsed, out_rows * len(passes),
            WORKLOADS["batch_operators"][1], setup_s, rss)
    return result


# ------------------------------------------------------------------ main
def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if importlib.util.find_spec("thanos_parquet_gateway_spark") is None:
        log("thanos_parquet_gateway_spark is not importable from "
            f"{ROOT}; run from the repository root")
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    env_rec = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "nproc": nproc(), "SPARK_GRAFT_CPUS": nproc(),
               "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
               "SPARK_LOCAL_DIRS": os.path.relpath(
                   os.path.join(work, "spark-local"), ROOT),
               "lookback_ms": LOOKBACK_MS,
               "loadavg_1m_start": os.getloadavg()[0],
               "git_commit": git_commit()}
    try:
        fn = (run_dashboard if args.workload == "dashboard"
              else run_batch_operators)
        res = fn(args, work, env_rec)
        env_rec["loadavg_1m_end"] = os.getloadavg()[0]
        results = os.path.join(base, "results")
        os.makedirs(results, exist_ok=True)
        tag = f"{args.workload}-trace{args.trace}"
        if args.trace:
            shutil.copy(res["spans"], os.path.join(results,
                                                   f"{tag}.spans.jsonl"))
        with open(os.path.join(results, f"{tag}.json"), "w") as f:
            json.dump({"env": env_rec, "metrics": res["metrics"]}, f,
                      indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"env": env_rec}))
    failed = res["failed"]
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": res["metrics"]}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
