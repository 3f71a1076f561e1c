"""Tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
import trace_spans  # noqa: E402
import workloads  # noqa: E402

PLAN_CACHE_ENTRIES = 256  # promql/engine.py plan-cache capacity


def request_bytes(reqs: list[dict]) -> bytes:
    return json.dumps(reqs, sort_keys=True).encode()


def plan_cache_key(req: dict):
    """The engine's plan-cache key of a PromQL request (None otherwise)."""
    if req["kind"] == "instant":
        return ("instant", req["query"], req["time"])
    if req["kind"] == "range":
        return ("range", req["query"], req["start"], req["end"], req["step"])
    return None


def test_same_seed_same_requests():
    for seed in (1, 2, 99):
        assert request_bytes(workloads.dashboard(seed)) == \
            request_bytes(workloads.dashboard(seed))
    assert request_bytes(workloads.dashboard(1)) != \
        request_bytes(workloads.dashboard(2))


def test_dashboard_keys_fit_plan_cache():
    reqs = workloads.dashboard(5)
    keys = {plan_cache_key(r) for r in reqs} - {None}
    assert 0 < len(keys) <= PLAN_CACHE_ENTRIES
    # every PromQL range query is step-aligned
    for r in reqs:
        if r["kind"] == "range":
            assert r["start"] % r["step"] == r["end"] % r["step"] == 0


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute("CREATE VIEW events AS SELECT * FROM "
              f"read_parquet('{run.DATA}/events.parquet')")
    return c


def test_ties_follow_the_registry_rules():
    """Two samples of one series at the same millisecond: the latest is
    the larger value, as in the engine's max(struct(ts, value))."""
    c = duckdb.connect()
    t = workloads.T0_MS + 2 * workloads.DAY_MS
    c.execute("CREATE VIEW events AS SELECT * FROM (VALUES "
              f"(epoch_ms({t - 1000}), 9, 'click', 3.0), "
              f"(epoch_ms({t - 1000}), 9, 'click', 5.0), "
              f"(epoch_ms({t - 2 * 60_000}), 9, 'click', 1.0)) "
              "AS v(ts, user_id, event_type, value)")
    latest = workloads.expected(c, workloads._promql(
        "instant", "sum by (shard) (click)", "sum_latest", "click", time=t))
    assert latest == {("1", None, t): 5.0}


def _as_response(req, want):
    """The API payload a correct gateway would send for ``want``."""
    k = req["kind"]
    if k in ("labels", "label_values"):
        return list(want)
    if k == "grpc_series":
        return [{"labels": {"shard": s, "user": u}, "samples": pts,
                 "histograms": []} for (s, u), pts in want.items()]
    if "top" in want:
        items = sorted(want["candidates"].items(), key=lambda kv: -kv[1])
        want = {(s, u, req["time"]): v for (s, u), v in items[:5]}
    series: dict = {}
    for (s, u, t), v in want.items():
        metric = {k2: v2 for k2, v2 in (("shard", s), ("user", u)) if v2}
        series.setdefault((s, u), {"metric": metric, "values": []})[
            "values"].append([t / 1000, repr(v)])
    if k == "instant":
        return {"result": [{"metric": x["metric"], "value": x["values"][0]}
                           for x in series.values()]}
    return {"result": list(series.values())}


def test_check_accepts_expected_and_rejects_perturbed(con):
    for req in workloads.dashboard(3):
        want = workloads.expected(con, req)
        good = _as_response(req, want)
        assert workloads.check(req, good, want) is None, req
        if req["kind"] in ("instant", "range"):
            bad = _as_response(req, want)
            v = bad["result"][0].get("value") or bad["result"][0]["values"][0]
            v[1] = repr(float(v[1]) * (1 + 1e-6))
            assert workloads.check(req, bad, want) is not None, req


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert run.percentile(xs, 50) == 50
    assert run.percentile(xs, 90) == 90
    assert run.percentile(xs, 100) == 100
    assert run.percentile([3.0], 90) == 3.0


def _span(sid, name, parent, start, end, cpu=0, req=None, **kw):
    return {"id": sid, "name": name, "parent": parent, "req": req or 1,
            "start": start * 10**6, "end": end * 10**6, "cpu": cpu * 10**6,
            "py4j": 0, "py4j_ns": 0, **kw}


def test_self_time_excludes_children_and_tracer():
    spans = [  # listed in closing order, like Tracer.spans
        _span(3, "spark.exec", 2, 20, 70),
        _span(4, "trace.stats", 2, 70, 80),
        _span(2, "api.request", 1, 10, 90, cpu=5),
        _span(1, "api.http", None, 0, 100),
    ]
    st = {s["name"]: s for s in trace_spans.self_times(spans)}
    assert st["api.http"]["self_ms"] == 20
    assert st["api.request"]["self_ms"] == 20  # 80 - 50 - 10
    assert st["api.request"]["dur_ms"] == 70  # tracer time left out
    assert st["api.http"]["dur_ms"] == 90
    tab = trace_spans.layer_table(trace_spans.requests(spans))
    # api.request: 20 ms self, 15 ms of it off CPU and outside py4j
    assert tab["wait"]["gil_ms"] == 15
    assert tab["api"]["self_ms"] == 20 + 5
    assert tab["spark"]["self_ms"] == 50


def test_orphan_spans_are_dropped():
    spans = [_span(5, "spark.exec", None, 0, 10, req=5)]
    assert trace_spans.requests(spans) == {}
