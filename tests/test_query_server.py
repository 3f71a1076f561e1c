"""Transport-independent QueryServer tests — the handler semantics of the
reference's gRPC surface (reference api/grpc/thanos.go:169-523): Info
advertisement, per-request ReplicaLabels, Series raw export, metadata."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_samples

S = 1000


def _server(spark, rows, **kw):
    from thanos_parquet_gateway_spark.api import QueryServer
    return QueryServer(make_samples(spark, rows), deterministic=True, **kw)


def test_info_advertises_streams(spark):
    """Info: per-stream labelsets + time ranges (thanos.go:194-233)."""
    from thanos_parquet_gateway_spark.api import QueryServer
    rows = ([({"__name__": "m"}, 10 * S, 1.0, "a")] +
            [({"__name__": "m"}, 50 * S, 2.0, "a")] +
            [({"__name__": "m"}, 30 * S, 3.0, "b")])
    df = make_samples(spark, [r[:3] for r in rows]).withColumn(
        "stream", F.when(F.col("ts") == 30 * S, "b").otherwise("a"))
    srv = QueryServer(df, streams={"a": {"zone": "us"}, "b": {"zone": "eu"}},
                      lookback_ms=60 * S, deterministic=True)
    info = srv.info()
    assert info["componentType"] == "query"
    assert info["store"]["minTime"] == 10 * S
    assert info["store"]["maxTime"] == 50 * S
    assert info["store"]["supportsWithoutReplicaLabels"] is True
    by_zone = {i["labels"]["zone"]: i for i in info["store"]["tsdbInfos"]}
    assert by_zone["us"] == {"minTime": 10 * S, "maxTime": 50 * S,
                             "labels": {"zone": "us"}}
    assert by_zone["eu"] == {"minTime": 30 * S, "maxTime": 30 * S,
                             "labels": {"zone": "eu"}}
    assert info["labelSets"] == [{"zone": "us"}, {"zone": "eu"}]


def test_query_per_request_replica_labels(spark):
    """ReplicaLabels arrive per request (thanos.go:235-296): the same server
    answers with and without HA dedup."""
    rows = [({"__name__": "m", "job": "x", "replica": "r1"}, 0, 10.0),
            ({"__name__": "m", "job": "x", "replica": "r2"}, 0, 99.0)]
    srv = _server(spark, rows, lookback_ms=60 * S)
    plain = srv.query("sum(m)", 0)["result"]
    assert plain[0]["value"][1] == "109"      # both replicas counted
    dedup = srv.query("sum(m)", 0, replica_labels=["replica"])["result"]
    assert dedup[0]["value"][1] == "10"       # winner replica (r1) only


def test_series_raw_export(spark):
    """Series bypasses the engine (thanos.go:376-459): raw samples in
    [start, end], no lookback fill, sorted per series."""
    rows = [({"__name__": "m", "job": "a"}, 10 * S, 1.0),
            ({"__name__": "m", "job": "a"}, 20 * S, 2.0),
            ({"__name__": "m", "job": "b"}, 15 * S, 5.0),
            ({"__name__": "m", "job": "b"}, 99 * S, 7.0),   # outside window
            ({"__name__": "n", "job": "a"}, 12 * S, 3.0)]   # other metric
    srv = _server(spark, rows, lookback_ms=300 * S)
    out, warns = srv.series(["m"], 0, 30 * S)
    assert warns == []
    got = {tuple(sorted(s["labels"].items())): s["samples"] for s in out}
    assert got == {
        (("__name__", "m"), ("job", "a")): [[10 * S, 1.0], [20 * S, 2.0]],
        (("__name__", "m"), ("job", "b")): [[15 * S, 5.0]],
    }
    # skip_samples ≡ SkipChunks: labels only
    out, _ = srv.series(["m"], 0, 30 * S, skip_samples=True)
    assert all("samples" not in s for s in out) and len(out) == 2
    # limit truncation carries the warning (thanos.go:413-418)
    out, warns = srv.series(["m"], 0, 30 * S, limit=1)
    assert len(out) == 1 and warns == ["results truncated due to limit"]


def test_series_export_with_replica_drop(spark):
    """Series honors WithoutReplicaLabels (thanos.go:377): one winner series
    per post-drop labelset, samples never blended."""
    rows = [({"__name__": "m", "job": "x", "rep": "r1"}, 10 * S, 1.0),
            ({"__name__": "m", "job": "x", "rep": "r2"}, 10 * S, 99.0),
            ({"__name__": "m", "job": "x", "rep": "r2"}, 20 * S, 88.0)]
    srv = _server(spark, rows, lookback_ms=300 * S)
    out, _ = srv.series(["m"], 0, 30 * S, replica_labels=["rep"])
    assert len(out) == 1
    assert out[0]["labels"] == {"__name__": "m", "job": "x"}
    # t=10s: r1 wins (1.0); t=20s: only r2 has a sample (88.0)
    assert out[0]["samples"] == [[10 * S, 1.0], [20 * S, 88.0]]


def test_metadata_with_replica_drop(spark):
    rows = [({"__name__": "m", "job": "x", "rep": "r1"}, 0, 1.0),
            ({"__name__": "m", "job": "x", "rep": "r2"}, 0, 2.0)]
    srv = _server(spark, rows, lookback_ms=60 * S)
    names, _ = srv.label_names(None, 0, 10 * S,
                               replica_labels=["rep"])
    assert names == ["__name__", "job"]
    vals, warns = srv.label_values("job", None, 0, 10 * S)
    assert vals == ["x"] and warns == []


def test_query_range_matches_http_api_shape(spark):
    rows = [({"__name__": "m", "job": "a"}, i * 10 * S, float(i + 1))
            for i in range(5)]
    srv = _server(spark, rows, lookback_ms=300 * S)
    out = srv.query_range("m", 0, 40 * S, 20 * S)
    assert out["resultType"] == "matrix"
    assert out["result"][0]["values"] == [[0.0, "1"], [20.0, "3"], [40.0, "5"]]
    assert out["stats"]["samples"]["totalQueried"] >= 5


def _vec(result):
    return {tuple(sorted(r["labels"].items())): r["value"]
            for r in result.df.collect()}


def test_heterogeneous_stream_labels(spark):
    """A label external in stream A but a DATA label in stream B: the matcher
    is consumed against A's descriptor but must still filter B's rows by
    their data label (reference search/search.go:356-376 matchExternalLabels
    is per-block), and decoration must not strip B's real data label."""
    from thanos_parquet_gateway_spark.promql.engine import PromQLEngine
    rows = [({"__name__": "m", "job": "ja"}, 10 * S, 1.0),
            ({"__name__": "m", "job": "jb", "zone": "x"}, 10 * S, 2.0),
            ({"__name__": "m", "job": "jb", "zone": "y"}, 10 * S, 4.0)]
    df = make_samples(spark, rows).withColumn(
        "stream", F.when(F.col("value") == 1.0, "a").otherwise("b"))
    eng = PromQLEngine(df, lookback_ms=60 * S, deterministic=True,
                       streams={"a": {"zone": "x"}, "b": {}})
    got = _vec(eng.query_instant('m{zone="x"}', 20 * S))
    assert got == {
        (("__name__", "m"), ("job", "ja"), ("zone", "x")): 1.0,  # by descriptor
        (("__name__", "m"), ("job", "jb"), ("zone", "x")): 2.0,  # by data
    }
    # negative matcher: A fails the descriptor; B keeps only zone=y
    got = _vec(eng.query_instant('m{zone!="x"}', 20 * S))
    assert got == {(("__name__", "m"), ("job", "jb"), ("zone", "y")): 4.0}
    # unmatched: no rows at all
    assert _vec(eng.query_instant('m{zone="zz"}', 20 * S)) == {}
    # decoration keeps B's data zone when no matcher touches it
    got = _vec(eng.query_instant("m", 20 * S))
    assert got[(("__name__", "m"), ("job", "jb"), ("zone", "y"))] == 4.0


def test_unconfigured_stream_value_falls_through(spark):
    """The streams dict is taken to cover the stream column's domain: a
    stream value absent from it is excluded by a matcher on a stream label
    in the mixed branch (a stream configured without the label), and goes
    with the configured streams when the matcher matches none of them."""
    from thanos_parquet_gateway_spark.promql.engine import PromQLEngine
    rows = [({"__name__": "m", "job": "ja"}, 10 * S, 1.0),            # stream a
            ({"__name__": "m", "job": "jc", "zone": "eu"}, 10 * S, 2.0),  # c
            ({"__name__": "m", "job": "jx", "zone": "eu"}, 10 * S, 3.0)]  # b!
    df = make_samples(spark, rows).withColumn(
        "stream", F.when(F.col("value") == 1.0, "a")
                   .when(F.col("value") == 2.0, "c").otherwise("b"))
    # mixed branch: stream c is configured without the label, so its data
    # label matches; "b" is not in the dict and is excluded
    eng = PromQLEngine(df, lookback_ms=60 * S, deterministic=True,
                       streams={"a": {"zone": "us"}, "c": {}})
    got = _vec(eng.query_instant('m{zone="eu"}', 20 * S))
    assert got == {(("__name__", "m"), ("job", "jc"), ("zone", "eu")): 2.0}
    # pure-IN elision: "b" rows go with the non-matching configured stream
    eng = PromQLEngine(df, lookback_ms=60 * S, deterministic=True,
                       streams={"a": {"zone": "us"}})
    assert _vec(eng.query_instant('m{zone="eu"}', 20 * S)) == {}


def _two_streams(spark, ext_labels=None):
    """m{job="j1"} in stream "a" (zone=us) and m{job="j2"} in stream "b"
    (zone=eu), one sample each at 10s, served by one QueryServer."""
    from thanos_parquet_gateway_spark.api import QueryServer
    rows = [({"__name__": "m", "job": "j1"}, 10 * S, 1.0),
            ({"__name__": "m", "job": "j2"}, 10 * S, 2.0)]
    df = make_samples(spark, rows).withColumn(
        "stream", F.when(F.col("value") == 1.0, "a").otherwise("b"))
    return QueryServer(df, streams={"a": {"zone": "us"}, "b": {"zone": "eu"}},
                       ext_labels=ext_labels, lookback_ms=60 * S,
                       deterministic=True)


def test_subquery_matches_stream_labels(spark):
    """A subquery selects series exactly as the plain selector does: a
    matcher on a stream label picks that stream, and results carry the
    stream's labels."""
    eng = _two_streams(spark)._api(None).engine
    us = {(("__name__", "m"), ("job", "j1"), ("zone", "us")): 1.0}
    assert _vec(eng.query_instant('m{zone="us"}', 20 * S)) == us
    assert _vec(eng.query_instant(
        'max_over_time(m{zone="us"}[30s:5s])', 20 * S)) == {
        (("job", "j1"), ("zone", "us")): 1.0}
    got = _vec(eng.query_instant("max_over_time(m[30s:5s])", 20 * S))
    assert got == {(("job", "j1"), ("zone", "us")): 1.0,
                   (("job", "j2"), ("zone", "eu")): 2.0}


def test_external_labels_under_stream_descriptors(spark):
    """Each stream's external labels are its descriptor over the
    process-wide ones: matching, decoration, /series, /labels and Info
    all read that one set."""
    srv = _two_streams(spark, ext_labels={"region": "r1", "zone": "z0"})
    eng = srv._api(None).engine
    us = {(("__name__", "m"), ("job", "j1"), ("region", "r1"),
           ("zone", "us")): 1.0}
    assert _vec(eng.query_instant('m{zone="us"}', 20 * S)) == us
    assert _vec(eng.query_instant('m{zone="z0"}', 20 * S)) == {}
    assert len(_vec(eng.query_instant('m{region="r1"}', 20 * S))) == 2
    series, _ = srv._api(None).series(["m"], 0, 20 * S)
    assert sorted(sorted(s.items()) for s in series) == [
        [("__name__", "m"), ("job", "j1"), ("region", "r1"), ("zone", "us")],
        [("__name__", "m"), ("job", "j2"), ("region", "r1"), ("zone", "eu")]]
    names, _ = srv.label_names(None, 0, 20 * S)
    assert names == ["__name__", "job", "region", "zone"]
    vals, _ = srv.label_values("zone", ['m{zone="us"}'], 0, 20 * S)
    assert vals == ["us"]
    info = srv.info()
    assert info["labelSets"] == [{"region": "r1", "zone": "us"},
                                 {"region": "r1", "zone": "eu"}]


def test_api_cache_is_lru_bounded(spark):
    """lookback_ms comes straight off the gRPC QueryRequest: a client
    cycling distinct lookbacks must not grow the engine/API cache (and its
    Spark plans) without bound (ADVICE r7)."""
    srv = _server(spark, [({"__name__": "m"}, 0, 1.0)])
    default = srv._api(None)
    for lb in range(1_000, 1_000 + 50):
        srv._api(None, lookback_ms=lb)
    assert len(srv._apis) <= srv._apis.cap
    # most-recent keys survive; the earliest one-shot lookbacks are evicted
    assert (tuple(), 1_049) in srv._apis
    assert (tuple(), 1_000) not in srv._apis


def test_one_concurrency_bound_per_server(spark):
    """Every engine's QueryAPI shares the server's one semaphore: while a
    request on the engine without replica labels holds the only slot, a
    request on the ``replica`` engine waits until it is released."""
    import threading

    rows = [({"__name__": "m", "replica": r}, 0, 1.0) for r in "ab"]
    srv = _server(spark, rows, lookback_ms=60 * S, max_concurrent=1)
    entered = {"plain": threading.Event(), "dedup": threading.Event()}
    release = threading.Event()
    outs = {}

    def holding(name, api):
        build = api.engine.query_instant

        def query_instant(*a, **kw):
            entered[name].set()
            if name == "plain":
                release.wait(60)
            return build(*a, **kw)
        api.engine.query_instant = query_instant

    holding("plain", srv._api(None))
    holding("dedup", srv._api(["replica"]))
    threads = [threading.Thread(target=lambda n=n, rl=rl: outs.__setitem__(
        n, srv.query("m", 0, replica_labels=rl)))
        for n, rl in (("plain", None), ("dedup", ["replica"]))]
    threads[0].start()
    try:
        assert entered["plain"].wait(60)
        threads[1].start()
        assert not entered["dedup"].wait(2)  # queued behind "plain"
    finally:
        release.set()
        for t in threads:
            t.join(120)
    assert not any(t.is_alive() for t in threads)
    assert len(outs["plain"]["result"]) == 2
    assert len(outs["dedup"]["result"]) == 1
