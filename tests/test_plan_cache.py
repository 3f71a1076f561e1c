"""Pin the engine-level plan memo (promql/engine.py ``_plan_cached``).

The memo holds DataFrames keyed on (kind, query, time parameters, row cap)
for PromQL and (kind, name, matchers, start, end, row cap) for metadata
and Series export.  It stores no rows, but a hit re-executes the SAME
Dataset: Spark reuses the first run's shuffle output (the scan stages show
SKIPPED), so an entry is valid for the file listing the engine's table
handle captured at first analysis — fixed for the life of ``serve``.  The
API's ``stats.samples`` report the scan each execution ran, so a hit whose
scan stages were skipped reports 0.
"""

from __future__ import annotations

import pytest

from tests.conftest import make_samples

S = 1000


def _eng(spark, rows, **kw):
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    return PromQLEngine(make_samples(spark, rows), lookback_ms=300_000, **kw)


ROWS = [({"__name__": "m", "job": "a"}, i * 10 * S, float(i)) for i in range(6)]


def test_plan_cache_hits_same_plan_and_results(spark):
    eng = _eng(spark, ROWS)
    a = eng.query_instant("sum(m)", 30 * S)
    b = eng.query_instant("sum(m)", 30 * S)
    assert b.df is a.df  # the PLAN is memoized...
    assert b is not a    # ...but the result wrapper is fresh per call
    assert a.df.collect() == b.df.collect()
    # different parameters / kinds miss
    c = eng.query_instant("sum(m)", 40 * S)
    assert c.df is not a.df
    d = eng.query_range("sum(m)", 0, 50 * S, 10 * S)
    assert d.df is not a.df


def test_plan_cache_no_result_caching(spark):
    """The memo stores a plan, not rows: a hit returns the same rows as
    the first run and as a fresh engine over the same source.  (A hit
    reuses the first run's shuffle output, so it answers from the source
    as it was at that run — see test_plan_cache_hit_skips_scan_stages.)"""
    eng = _eng(spark, ROWS)
    r1 = eng.query_instant("count(m)", 30 * S).df.collect()
    r2 = eng.query_instant("count(m)", 30 * S).df.collect()
    fresh = _eng(spark, ROWS).query_instant("count(m)", 30 * S).df.collect()
    assert r1 == r2 == fresh


def test_plan_cache_annotation_isolation(spark):
    """all_annotations folds probe results into the wrapper's list — a hit
    must never mutate the cached entry's annotations."""
    eng = _eng(spark, ROWS)
    q = "quantile(1.5, m)"  # static invalid-quantile warning
    a = eng.query_instant(q, 30 * S)
    ann_a = a.all_annotations()
    b = eng.query_instant(q, 30 * S)
    assert b.annotations == a.annotations[:len(b.annotations)] or \
        b.annotations is not a.annotations
    assert b.all_annotations() == ann_a


def test_plan_cache_bounded(spark):
    eng = _eng(spark, ROWS)
    eng._plan_cache.cap = 4
    for t in range(8):
        eng.query_instant("sum(m)", t * 10 * S)
    assert len(eng._plan_cache) <= 4
    # metadata and Series-export entries share the one cap
    for t in range(3):
        eng.label_values("job", None, 0, t * S)
        eng.series(["m"], 0, t * S, samples=True)
    assert len(eng._plan_cache) == 4
    assert {k[0] for k in eng._plan_cache} == {"label_values",
                                               "series_samples"}
    counts = eng.plan_cache_counts()
    assert counts["entries"] == 4 and counts["misses"] == 14
    assert counts["evictions"] == 10 and counts["hits"] == 0


def test_plan_cache_errors_not_cached(spark):
    eng = _eng(spark, ROWS)
    for _ in range(2):
        with pytest.raises(ValueError):
            eng.query_range('"a string"', 0, 50 * S, 10 * S)
    assert not any(k[0] == "range" and '"a string"' in k[1]
                   for k in eng._plan_cache)


def test_metadata_plans_memoized(spark):
    """label_names / label_values / series (both shapes) hand back the
    memoized DataFrame on an identical call; any change of kind, name,
    matchers, time range, row cap or samples flag is a different plan."""
    eng = _eng(spark, ROWS)

    calls = {
        "names": lambda **kw: eng.label_names(
            kw.get("match"), 0, kw.get("end", 50 * S), kw.get("limit", 0)),
        "values": lambda **kw: eng.label_values(
            kw.get("name", "job"), kw.get("match"), 0,
            kw.get("end", 50 * S), kw.get("limit", 0)),
        "series": lambda **kw: eng.series(
            kw.get("match", ["m"]), 0, kw.get("end", 50 * S),
            kw.get("limit", 0), samples=kw.get("samples", False)),
    }
    for name, call in calls.items():
        a = call()
        assert call() is a, name
        assert a.collect() == call().collect()
        assert call(limit=2) is not a
        assert call(limit=2) is call(limit=2)
        assert call(end=40 * S) is not a
        assert call(match=['m{job="a"}']) is not a
    assert calls["values"](name="__name__") is not calls["values"]()
    assert calls["series"](samples=True) is not calls["series"]()
    assert eng.series(["m"], 0, 50 * S, 1).collect() == \
        eng.series(["m"], 0, 50 * S).collect()[:1]


def test_metadata_build_errors_not_cached(spark):
    eng = _eng(spark, ROWS)
    for _ in range(2):
        with pytest.raises(ValueError, match="must be a selector"):
            eng.series(["sum(m)"], 0, 50 * S)
    assert not eng._plan_cache
    assert eng.plan_cache_counts()["misses"] == 2


def _three_files(spark, tmp_path) -> str:
    """ROWS written as a 3-file parquet table; its path."""
    path = str(tmp_path / "samples")
    make_samples(spark, ROWS).repartition(3).write.parquet(path)
    return path


def _staged(sc, group: str, action):
    """``action()`` under job group ``group``: its result, the input
    records of the stages that ran, and the number of stages Spark
    skipped.  The skip count is read off the job records: once the status
    store holds more than ``spark.ui.retainedStages`` stages it evicts the
    SKIPPED ones first, however new.  Completed stages go oldest first, so
    this group's are still there; the job records' counts check that."""
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    ids = tracker.getJobIdsForGroup(group)
    jobs = [store.job(jid) for jid in ids]
    held = [store.lastStageAttempt(sid) for jid in ids
            for sid in tracker.getJobInfo(jid).stageIds
            if tracker.getStageInfo(sid) is not None]
    done = [st for st in held if st.status().toString() == "COMPLETE"]
    assert len(done) == sum(job.numCompletedStages() for job in jobs)
    scanned = sum(st.inputRecords() for st in done)
    return out, scanned, sum(job.numSkippedStages() for job in jobs)


def test_plan_cache_hit_skips_scan_stages(spark, tmp_path):
    """On a parquet-backed engine the second identical query re-executes
    the memoized Dataset: its scan stage is SKIPPED (the first run's
    shuffle output is reused) and its rows equal the first run's, while a
    fresh engine over the same path scans again."""
    from thanos_parquet_gateway_spark.promql import PromQLEngine

    path = str(tmp_path / "samples")
    make_samples(spark, ROWS).write.parquet(path)
    sc = spark.sparkContext

    def run(eng, group):
        return _staged(sc, group, lambda: eng.query_instant(
            "sum by (job) (m)", 30 * S).df.collect())

    eng = PromQLEngine(spark.read.parquet(path), lookback_ms=300_000)
    rows1, scanned1, _ = run(eng, "memo-first")
    rows2, scanned2, skipped2 = run(eng, "memo-hit")
    fresh = PromQLEngine(spark.read.parquet(path), lookback_ms=300_000)
    rows3, scanned3, _ = run(fresh, "memo-fresh")
    assert scanned1 > 0
    assert scanned2 == 0 and skipped2
    assert scanned3 == scanned1
    assert rows1 == rows2 == rows3 and rows1


def test_api_stats_report_each_execution(spark, tmp_path):
    """QueryAPI ``stats.samples`` report the scan each execution ran: the
    first run reports rows, files and bytes; the memo hit, whose scan
    stages are SKIPPED, reports 0 on all four counters; a fresh engine
    reports the first run's counts again, also under a shard quota, whose
    admission lists the files before the first run."""
    from thanos_parquet_gateway_spark.api.http import QueryAPI
    from thanos_parquet_gateway_spark.promql import PromQLEngine

    path = _three_files(spark, tmp_path)
    sc = spark.sparkContext

    def run(api, group):
        out, scanned, skipped = _staged(
            sc, group, lambda: api.query("sum by (job) (m)", 30 * S))
        return out["result"], out["stats"]["samples"], scanned, skipped

    api = QueryAPI(PromQLEngine(spark.read.parquet(path),
                                lookback_ms=300_000))
    res1, st1, scanned1, _ = run(api, "stats-first")
    res2, st2, scanned2, skipped2 = run(api, "stats-hit")
    fresh = QueryAPI(PromQLEngine(spark.read.parquet(path),
                                  lookback_ms=300_000))
    res3, st3, _, _ = run(fresh, "stats-fresh")
    sharded = QueryAPI(PromQLEngine(spark.read.parquet(path),
                                    lookback_ms=300_000), shard_quota=1000)
    out4 = sharded.query("sum by (job) (m)", 30 * S)
    res4, st4 = out4["result"], out4["stats"]["samples"]
    assert scanned1 > 0
    assert st1["totalQueried"] >= len(ROWS) and st1["peakSamples"] > 0
    assert st1["filesScanned"] == 3 and st1["bytesScanned"] > 0
    assert scanned2 == 0 and skipped2
    assert st2 == {"totalQueried": 0, "peakSamples": 0,
                   "filesScanned": 0, "bytesScanned": 0}
    assert st3 == st4 == st1
    assert res1 == res2 == res3 == res4 and res1


def test_rescan_reports_each_scan(spark, tmp_path):
    """A plan with no shuffle (no AQE root) scans again on every
    execution, and each execution reports that scan — rows, files and
    bytes — although Spark resets the plan's metrics at every action and
    sets the file counters only in the first."""
    from thanos_parquet_gateway_spark.api.http import (executed_stats,
                                                       scan_rows, scan_stats)

    df = spark.read.parquet(_three_files(spark, tmp_path)).filter(
        "value >= 0")
    assert scan_rows(df) is None  # not walked before an action
    df.collect()
    first = executed_stats(df, None)
    before = scan_rows(df)
    df.collect()
    again = executed_stats(df, before)
    assert first == {"totalQueried": len(ROWS), "peakSamples": len(ROWS),
                     "filesScanned": 3, "bytesScanned":
                     first["bytesScanned"]} and first["bytesScanned"] > 0
    assert again == first
    # the metrics as Spark holds them: this execution's rows, no files
    assert scan_stats(df) == {"totalQueried": len(ROWS),
                              "peakSamples": len(ROWS),
                              "filesScanned": 0, "bytesScanned": 0}


def test_admission_runs_on_every_hit(spark, tmp_path, monkeypatch):
    """With byte and shard quotas set, every request — PromQL, metadata
    and Series export, memo hits included — estimates its plan's input
    bytes and shard count again, and a tighter quota rejects the hit."""
    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.api import http as api_http
    from thanos_parquet_gateway_spark.api.http import QueryAPI, QuotaExceeded

    samples = spark.read.parquet(_three_files(spark, tmp_path))
    quotas = {"byte_quota": 1 << 40, "shard_quota": 1000}
    qs = QueryServer(samples, lookback_ms=300_000, **quotas)
    api = qs._api(None)
    calls = [
        lambda: api.query("sum by (job) (m)", 30 * S),
        lambda: api.query_range("sum(m)", 0, 50 * S, 10 * S),
        lambda: api.labels(None, 0, 50 * S),
        lambda: api.label_values("job", ['m{job="a"}'], 0, 50 * S),
        lambda: api.series(["m"], 0, 50 * S),
        lambda: qs.series(["m"], 0, 50 * S),
    ]

    def answers():  # the results, without the per-execution stats
        return [{k: v for k, v in out.items() if k != "stats"}
                if isinstance(out, dict) else out
                for out in (call() for call in calls)]

    firsts = answers()
    hits0 = api.engine.plan_cache_counts()["hits"]
    estimates = []

    def counting(name, fn):
        def wrapper(*a, **kw):
            estimates.append(name)
            return fn(*a, **kw)
        return wrapper

    for name in ("plan_input_bytes", "plan_scan_files"):
        monkeypatch.setattr(api_http, name,
                            counting(name, getattr(api_http, name)))
    assert answers() == firsts
    assert api.engine.plan_cache_counts()["hits"] == hits0 + len(calls)
    assert sorted(estimates) == sorted(
        ["plan_input_bytes", "plan_scan_files"] * len(calls))
    for tight in ({"byte_quota": 1}, {"shard_quota": 1}):
        tight_api = QueryAPI(api.engine, **tight)
        with pytest.raises(QuotaExceeded):
            tight_api.query("sum by (job) (m)", 30 * S)
        with pytest.raises(QuotaExceeded):
            tight_api.series(["m"], 0, 50 * S)


# the dashboard panel shapes: instant and range aggregations, a rate, a
# topk over a one-to-one ratio, an _over_time per series and a regex
# selector (2024-01-20 and its preceding days in the events data)
END_MS = 1705708800000
DAY = 86_400_000
PANELS = [
    ("query", "sum by (shard) (click)", END_MS),
    ("query_range", "sum by (shard) (count_over_time(click[1d]))",
     END_MS - 14 * DAY, END_MS, DAY),
    ("query_range", 'rate(view{shard="1"}[2d])', END_MS - 7 * DAY, END_MS,
     DAY),
    ("query", "topk(5, count_over_time(click[7d]) / on(user) "
     "count_over_time(view[7d]))", END_MS),
    ("query_range", "max by (shard) (max_over_time(purchase[1d]))",
     END_MS - 14 * DAY, END_MS, DAY),
    ("query", 'count by (shard) (purchase{user=~"1.*"})', END_MS),
    ("query_range", 'avg_over_time(click{user="7"}[3d])', END_MS - 7 * DAY,
     END_MS, DAY // 4),
]


def test_memo_hit_py4j_round_trips_bounded(spark, sf_dir, monkeypatch):
    """A memo hit makes a fixed, small number of py4j round trips whatever
    its plan's size: the collect plus one read per scan metric before and
    after it, with no plan walk for its stats.  No quota is set, as on the
    dashboard (admission estimates each request's plan).  Covers the
    dashboard panel shapes over HTTP and a gRPC Query.

    Counted are the calls of the server thread that serves the hit,
    after the miss's server thread has finished: py4j deletes a Java
    object's handle when Python frees its proxy, and a proxy in a
    reference cycle is freed by the cyclic GC, inside whichever later
    request triggers a collection — a hit that followed a plan walk could
    pay a hundred deferred deletes that way.  gc.collect() after each
    request keeps one request's deletes out of the next."""
    import gc
    import json
    import threading
    import urllib.parse
    import urllib.request

    from py4j.java_gateway import GatewayClient

    from thanos_parquet_gateway_spark.api import PromHTTPServer, QueryServer
    from thanos_parquet_gateway_spark.api.grpc_client import ThanosGrpcClient
    from thanos_parquet_gateway_spark.api.grpc_server import ThanosGrpcServer
    from thanos_parquet_gateway_spark.sources import samples_from_events

    n = [0]
    old_threads: set = set()
    orig = GatewayClient.send_command

    def counted(self, *a, **kw):
        if threading.current_thread() not in old_threads:
            n[0] += 1
        return orig(self, *a, **kw)

    monkeypatch.setattr(GatewayClient, "send_command", counted)
    # one QueryServer behind both transports, as `serve` builds them
    qs = QueryServer(samples_from_events(spark, sf_dir),
                     lookback_ms=7 * DAY)
    srv = PromHTTPServer(qs, port=0)
    srv.serve_background()

    def http_call(endpoint, q, *times):
        keys = ("time",) if len(times) == 1 else ("start", "end", "step")
        params = [("query", q)] + [(k, str(t / 1000)) for k, t in
                                   zip(keys, times)]
        url = (f"http://127.0.0.1:{srv.port}/api/v1/{endpoint}?"
               + urllib.parse.urlencode(params))
        with urllib.request.urlopen(url) as r:
            return json.loads(r.read())["data"]["result"]

    def served(call):
        # call(), then wait for the server threads it started: a request
        # thread frees its proxies after the client has the reply
        before = set(threading.enumerate())
        out = call()
        for t in set(threading.enumerate()) - before:
            if t.name.endswith(("(process_request_thread)", "(run)")):
                t.join(30)
        gc.collect()
        return out

    def round_trips(call):
        first = served(call)
        old_threads.update(threading.enumerate())
        n0 = n[0]
        again = served(call)
        old_threads.clear()
        assert again == first
        return n[0] - n0

    try:
        hits = {q: round_trips(lambda: http_call(ep, q, *times))
                for ep, q, *times in PANELS}
        with ThanosGrpcServer(qs) as gsrv, \
                ThanosGrpcClient(gsrv.host, gsrv.port) as cli:
            hits["grpc"] = round_trips(lambda: [
                m for m in cli.query(PANELS[0][1], PANELS[0][2] // 1000)
                if "stats" not in m])
    finally:
        srv.shutdown()
    assert all(v <= 30 for v in hits.values()), hits


def test_scan_meters_shared_across_threads(spark):
    """Concurrent requests for one memo entry read one set of scan-metric
    handles and answer alike; their hits, whose scan stages are skipped,
    report no scan."""
    import sys
    import threading

    from thanos_parquet_gateway_spark.api import http as api_http
    from thanos_parquet_gateway_spark.api.http import QueryAPI

    eng = _eng(spark, ROWS)
    api = QueryAPI(eng)
    first = api.query("sum(m)", 30 * S)
    df = eng.query_instant("sum(m)", 30 * S).df
    meters, outs = [], []

    def worker():
        for _ in range(3):
            outs.append(api.query("sum(m)", 30 * S))
            meters.append(api_http._meters(df))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(outs) == 24 and len({id(m) for m in meters}) == 1
    assert all(o["result"] == first["result"] for o in outs)
    assert sum(o["stats"]["samples"]["totalQueried"] for o in outs) == 0
