"""HTTP API shim tests: JSON contract of /api/v1/* (reference
api/http/query.go:194-277,536-564) driven through a real socket."""

from __future__ import annotations

import json
import re
import urllib.request

import pytest

from tests.conftest import make_samples

S = 1000


@pytest.fixture(scope="module")
def server(spark):
    from thanos_parquet_gateway_spark.api import PromHTTPServer, QueryServer
    rows = ([({"__name__": "m", "job": "a"}, i * 10 * S, float(i + 1))
             for i in range(5)] +
            [({"__name__": "m", "job": "b"}, i * 10 * S, float(10 * (i + 1)))
             for i in range(5)])
    qs = QueryServer(make_samples(spark, rows), lookback_ms=300_000,
                     deterministic=True)
    srv = PromHTTPServer(qs, port=0)
    srv.serve_background()
    yield srv
    srv.shutdown()


def _get(srv, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
        return json.loads(r.read())


def test_instant_query(server):
    out = _get(server, "/api/v1/query?query=sum(m)&time=40")
    assert out["status"] == "success"
    assert out["data"]["resultType"] == "vector"
    assert out["data"]["result"][0]["value"] == [40.0, "55"]


def test_range_query(server):
    out = _get(server, "/api/v1/query_range?query=m&start=0&end=40&step=20")
    assert out["data"]["resultType"] == "matrix"
    series = {tuple(sorted(s["metric"].items())): s["values"]
              for s in out["data"]["result"]}
    a = series[(("__name__", "m"), ("job", "a"))]
    assert a == [[0.0, "1"], [20.0, "3"], [40.0, "5"]]


def test_scalar_and_error(server):
    out = _get(server, "/api/v1/query?query=1%2B2&time=0")
    assert out["data"]["resultType"] == "scalar"
    assert out["data"]["result"] == [0.0, "3"]
    import urllib.error
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/v1/query?query=sum(&time=0")
    assert e.value.code == 422
    body = json.loads(e.value.read())
    assert body["status"] == "error"


def test_metadata_endpoints(server):
    assert _get(server, "/api/v1/labels?start=0&end=100")["data"] == \
        ["__name__", "job"]
    assert _get(server, "/api/v1/label/job/values?start=0&end=100")["data"] == \
        ["a", "b"]
    series = _get(server,
                  "/api/v1/series?match[]=m{job=%22a%22}&start=0&end=100")["data"]
    assert series == [{"__name__": "m", "job": "a"}]


def test_row_quota_admission(spark, sf_dir):
    """A25 quota analogue: a query materializing more rows than the quota is
    rejected; within-quota queries pass (reference limits/limit.go:66-93)."""
    import pytest as _pytest

    from thanos_parquet_gateway_spark.api.http import QueryAPI, QuotaExceeded
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from thanos_parquet_gateway_spark.sources import samples_from_events

    eng = PromQLEngine(samples_from_events(spark, sf_dir),
                       lookback_ms=7 * 86400_000, deterministic=True)
    api = QueryAPI(eng, row_quota=3)
    t = 1704412800000
    for _ in range(2):  # the second round runs on memoized capped plans
        with _pytest.raises(QuotaExceeded):
            api.query("click", t)           # one row per active series > 3
        with _pytest.raises(QuotaExceeded):
            api.query_range("click", t - 86400_000, t, 86400_000)
        out = api.query("sum(click)", t)    # aggregates to one row
        assert len(out["result"]) == 1
    assert eng.plan_cache_counts()["hits"] == 3


def test_byte_quota_admission(spark, sf_dir):
    """Byte-quota analogue of the reference's chunk-bytes Quota.Reserve:
    admission against the optimized plan's estimated input size."""
    import pytest as _pytest

    from thanos_parquet_gateway_spark.api.http import QueryAPI, QuotaExceeded
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from thanos_parquet_gateway_spark.sources import samples_from_events

    eng = PromQLEngine(samples_from_events(spark, sf_dir),
                       lookback_ms=7 * 86400_000, deterministic=True)
    t = 1704412800000
    api = QueryAPI(eng, byte_quota=1)      # nothing fits in one byte
    with _pytest.raises(QuotaExceeded):
        api.query("sum(click)", t)
    api = QueryAPI(eng, byte_quota=1 << 40)  # everything fits in a TiB
    assert len(api.query("sum(click)", t)["result"]) == 1


def test_shard_quota_admission(spark, sf_dir, tmp_path):
    """Shard-quota parity (reference internal/limits shard quota): a query
    may touch at most N parquet files, counted AFTER partition pruning —
    a narrow time window over the partitioned layout passes where a wide
    one is rejected, proving admission sees the pruned listing and not
    the table's total file count."""
    import pytest as _pytest

    from thanos_parquet_gateway_spark.api.http import (
        QueryAPI,
        QuotaExceeded,
        plan_scan_files,
    )
    from thanos_parquet_gateway_spark.convert.convert import convert_samples
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from thanos_parquet_gateway_spark.sources import samples_from_events

    out = str(tmp_path / "table")
    convert_samples(samples_from_events(spark, sf_dir), out,
                    max_records_per_file=200)  # many files per day
    conv = spark.read.parquet(out)
    total_files = len(conv.inputFiles())
    assert total_files >= 10
    eng = PromQLEngine(conv, lookback_ms=86400_000, deterministic=True)
    t = 1704412800000  # 2024-01-05: 1d lookback prunes to ~2 day-partitions

    # interface pin: the pruned-count probe works on a real plan (a Spark
    # upgrade changing FileSourceScanExec internals must fail HERE, not
    # silently disable the quota via the advisory-0 fallback)
    n_narrow = plan_scan_files(eng.query_instant("sum(click)", t).df)
    assert 0 < n_narrow < total_files

    api = QueryAPI(eng, shard_quota=n_narrow)
    assert api.query("sum(click)", t)["result"]  # narrow: admitted
    # the same query over a 29-day window touches every partition
    with _pytest.raises(QuotaExceeded, match="shards"):
        api.query_range("sum(count_over_time(click[5d]))",
                        1704153600000, 1706572800000, 86400_000)
    # broken frames degrade to advisory 0 (quota open), never crash
    class Broken:
        @property
        def _jdf(self):
            raise RuntimeError("no plan")
    assert plan_scan_files(Broken()) == 0


def test_duplicate_labelset_rejected(spark, sf_dir):
    """Prometheus execution error parity: an instant vector with two samples
    sharing one labelset (label_replace collapsing distinct series) is an
    error, not a silent duplicate."""
    import pytest as _pytest

    from thanos_parquet_gateway_spark.api.http import QueryAPI
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from thanos_parquet_gateway_spark.sources import samples_from_events

    eng = PromQLEngine(samples_from_events(spark, sf_dir),
                       lookback_ms=7 * 86400_000, deterministic=True)
    api = QueryAPI(eng)
    t = 1704412800000
    with _pytest.raises(ValueError, match="same labelset"):
        # wipe the distinguishing labels: every click series collapses
        api.query('label_replace(label_replace(sum by (user, shard) (click),'
                  ' "user", "", "user", ".*"), "shard", "", "shard", ".*")',
                  t)
    # the same shape with distinct labels still serializes fine
    out = api.query("sum by (shard) (click)", t)
    assert len(out["result"]) > 1
    # range serialization applies the same guard per (series, step)
    with _pytest.raises(ValueError, match="same labelset"):
        api.query_range(
            'label_replace(label_replace(sum by (user, shard) (click),'
            ' "user", "", "user", ".*"), "shard", "", "shard", ".*")',
            t - 86400_000, t, 86400_000)
    out = api.query_range("sum by (shard) (click)", t - 86400_000, t,
                          86400_000)
    assert len(out["result"]) > 1


def test_metadata_memo_over_http(server):
    """Repeated /labels, /label/<name>/values and /series calls hit the
    engine's plan memo and return identical payloads; a limit=1 call after
    an unlimited one is a different plan and still truncates and warns; a
    request whose time defaults to now bypasses the memo."""
    counts = server.query_server.plan_cache_counts
    for path in ("/api/v1/labels?start=0&end=91",
                 "/api/v1/label/job/values?start=0&end=91",
                 "/api/v1/series?match[]=m&start=0&end=91"):
        before = counts()
        first = _get(server, path)
        again = _get(server, path)
        after = counts()
        assert first == again and first["status"] == "success"
        assert len(first["data"]) == 2 and "warnings" not in first
        assert after["misses"] == before["misses"] + 1
        assert after["hits"] == before["hits"] + 1
        cut = _get(server, path + "&limit=1")
        assert cut["data"] == first["data"][:1]
        assert cut["warnings"] == ["results truncated due to limit"]
        assert counts()["misses"] == after["misses"] + 1
    # another name, matcher or time range is another plan
    for path in ("/api/v1/label/__name__/values?start=0&end=91",
                 "/api/v1/label/job/values?match[]=m{job=%22a%22}"
                 "&start=0&end=91",
                 "/api/v1/label/job/values?start=0&end=92"):
        before = counts()["misses"]
        _get(server, path)
        assert counts()["misses"] == before + 1, path
    # a time left to default to now is never repeated: built, not memoized
    for path in ("/api/v1/labels?start=0", "/api/v1/label/job/values",
                 "/api/v1/series?match[]=m", "/api/v1/query?query=m",
                 "/api/v1/query_range?query=m&step=30"):
        before = counts()
        assert _get(server, path) == _get(server, path)
        after = counts()
        assert after["misses"] == before["misses"] + 2, path
        assert (after["hits"], after["entries"]) == \
            (before["hits"], before["entries"]), path


def test_truncation_warning_on_series(server):
    """A32: a limit that truncates /series carries a warning in the response
    (reference internal/warnings/warnings.go:9, db/db.go:339-347)."""
    out = _get(server, "/api/v1/series?match[]=m&start=0&end=100&limit=1")
    assert len(out["data"]) == 1
    assert out["warnings"] == ["results truncated due to limit"]
    # no truncation → no warnings key
    out = _get(server, "/api/v1/series?match[]=m&start=0&end=100&limit=5")
    assert len(out["data"]) == 2
    assert "warnings" not in out
    out = _get(server, "/api/v1/labels?start=0&end=100&limit=1")
    assert out["data"] == ["__name__"]
    assert out["warnings"] == ["results truncated due to limit"]


def test_query_stats(server):
    """Per-query samples-scanned stats (reference api/grpc/thanos.go:561-566):
    scan row counts from the executed plan's metrics, per execution — a
    request that scans reports its scan, and its plan-memo hit, whose scan
    stage Spark skips, reports none."""
    path = "/api/v1/query?query=sum%20by%20(job)%20(m)&time=43"
    out = _get(server, path)
    st = out["data"]["stats"]["samples"]
    assert st["totalQueried"] >= 10   # all 10 samples scanned
    assert st["peakSamples"] >= 10
    hit = _get(server, path)
    assert hit["data"]["result"] == out["data"]["result"]
    assert hit["data"]["stats"]["samples"]["totalQueried"] == 0
    assert hit["data"]["stats"]["samples"]["peakSamples"] == 0


def test_http_quota_error_type(spark):
    """Quota rejections surface as HTTP 400 resource_exhausted, matching the
    reference's error mapping (api/http/query.go:188,216)."""
    import urllib.error

    from thanos_parquet_gateway_spark.api import PromHTTPServer, QueryServer
    rows = [({"__name__": "m", "job": str(i)}, 0, float(i)) for i in range(5)]
    qs = QueryServer(make_samples(spark, rows), lookback_ms=300_000,
                     deterministic=True, row_quota=2)
    srv = PromHTTPServer(qs, port=0)
    srv.serve_background()
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(srv, "/api/v1/query?query=m&time=0")
        assert e.value.code == 400
        body = json.loads(e.value.read())
        assert body["errorType"] == "resource_exhausted"
    finally:
        srv.shutdown()


def test_format_query_endpoint(server):
    import urllib.parse
    q = urllib.parse.quote('sum   by(job)( rate(m{job="a"}[300s]) )')
    out = _get(server, f"/api/v1/format_query?query={q}")
    assert out["status"] == "success"
    assert out["data"] == 'sum by (job) (rate(m{job="a"}[5m]))'
    import urllib.error
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/api/v1/format_query?query=sum(")
    assert e.value.code == 422


def test_printer_roundtrip_corpus(server):
    """format(parse(q)) must parse back to the same canonical form (string
    fixpoint) for a representative query corpus."""
    from thanos_parquet_gateway_spark.promql.parser import parse
    from thanos_parquet_gateway_spark.promql.printer import (
        format_expr,
        prettify,
    )
    corpus = [
        'sum by (job) (rate(http_requests{code=~"5..", job!="api"}[5m]))',
        'topk(3, m) / on(job, inst) group_left (extra) n',
        'a - ignoring(w) group_right b',
        '1 > bool m', 'm @ 20 offset 10s', 'foo[1h:10m] offset -5m',
        '-(a + b) * c ^ 2 ^ 3', 'quantile(0.9, m{x="a\\"b"})',
        'count_values("v", m)', 'm offset -1w3d',
        'max_over_time((rate(m[5m]))[30m:5m] @ end())',
        'a unless b or c and d', 'a / b % c * d', '2 ^ -2',
        'm[90s]', 'm[1500ms]', 'sum(m) + avg without () (n)',
        'label_replace(m, "a", "$1", "b", "(.*)")',
        # Prometheus 3 UTF-8 quoted names
        '{"http.requests.total", env="prod"}',
        'sum by ("service.name") (rate({"m.x"}[5m]))',
        '{"label with spaces"="x", "a.b"!~"c.*"}',
        'x * on("i.d") group_left("e.l") y',
        'sum without ("a.b", c) (m)',
    ]
    for q in corpus:
        once = format_expr(parse(q))
        assert format_expr(parse(once)) == once, q
        pretty = prettify(parse(q))
        assert format_expr(parse(pretty)) == once, q


def test_query_annotations(server):
    import urllib.parse
    # PossibleNonCounterInfo: rate over a name without a counter suffix →
    # top-level "infos" (upstream util/annotations via the v1 API)
    q = urllib.parse.quote("rate(m[30s])")
    out = _get(server, f"/api/v1/query?query={q}&time=40")
    assert out["status"] == "success"
    assert any("might not be a counter" in i for i in out["infos"])
    assert "infos" not in out["data"]  # lifted, not nested
    # InvalidQuantileWarning: φ outside [0,1] → top-level "warnings"
    q = urllib.parse.quote("quantile(1.5, m)")
    out = _get(server, f"/api/v1/query?query={q}&time=40")
    assert any("between 0 and 1, got 1.5" in w for w in out["warnings"])
    # histogram_quantile and quantile_over_time carry the same warning,
    # range queries included
    q = urllib.parse.quote("quantile_over_time(-0.5, m[30s])")
    out = _get(server, f"/api/v1/query_range?query={q}&start=0&end=40&step=20")
    assert any("got -0.5" in w for w in out["warnings"])
    # clean queries carry neither array
    out = _get(server, "/api/v1/query?query=sum(m)&time=40")
    assert "warnings" not in out and "infos" not in out


def test_mixed_range_ignored_histograms_info(spark):
    """HistogramIgnoredInMixedRangeInfo surfaces through the v1 API: a
    hist-IGNORING over_time fn (upstream functions.go funcMinOverTime et
    al.) over a window holding BOTH floats and histograms must carry the
    'ignored histograms' info annotation in the top-level "infos" array
    (corpus coverage: gen_hist_overtime.test:75-140)."""
    import urllib.parse
    import urllib.request

    from tests.conftest import make_samples
    from thanos_parquet_gateway_spark.api import PromHTTPServer, QueryServer

    inf = float("inf")
    h = (6.0, 9.0, [(0.0, 1.0), (1.0, 2.0), (4.0, 3.0), (inf, 0.0)], 0)
    rows = [({"__name__": "mm", "job": "a"}, 10 * S, 2.5),
            ({"__name__": "mm", "job": "a"}, 20 * S, {"hist": h}),
            ({"__name__": "mm", "job": "a"}, 30 * S, 4.5)]
    qs = QueryServer(make_samples(spark, rows), lookback_ms=60 * S,
                     deterministic=True)
    srv = PromHTTPServer(qs, port=0)
    srv.serve_background()
    try:
        for fn in ("min_over_time", "max_over_time", "stddev_over_time",
                   "quantile_over_time(0.5, mm[40s])"):
            q = fn if "(" in fn else f"{fn}(mm[40s])"
            out = _get(srv, "/api/v1/query?query="
                            f"{urllib.parse.quote(q)}&time=35")
            assert out["status"] == "success", q
            assert any("ignored histograms in a range containing both "
                       "floats and histograms" in i
                       for i in out.get("infos", [])), q
            # the float fold still produced the row (histograms dropped)
            assert len(out["data"]["result"]) == 1, q
    finally:
        srv.shutdown()


def test_parse_query_endpoint(server):
    import urllib.parse
    q = urllib.parse.quote('sum by (job) (rate(m{job="a"}[5m] @ end())) > bool 2')
    out = _get(server, f"/api/v1/parse_query?query={q}")
    assert out["status"] == "success"
    tree = out["data"]
    assert tree["type"] == "binaryExpr" and tree["op"] == ">"
    assert tree["bool"] is True and tree["matching"] is None
    agg = tree["lhs"]
    assert agg["type"] == "aggregation" and agg["op"] == "sum"
    assert agg["grouping"] == ["job"] and agg["without"] is False
    call = agg["expr"]
    assert call["type"] == "call" and call["func"] == {"name": "rate"}
    mat = call["args"][0]
    assert mat["type"] == "matrixSelector" and mat["range"] == 300_000
    assert mat["name"] == "m" and mat["startOrEnd"] == "end"
    assert {"name": "job", "type": "=", "value": "a"} in mat["matchers"]
    assert tree["rhs"] == {"type": "numberLiteral", "val": "2"}


def test_string_literal_query(server):
    import urllib.parse
    out = _get(server, "/api/v1/query?query=%s&time=7" % urllib.parse.quote('"hi there"'))
    assert out["data"]["resultType"] == "string"
    assert out["data"]["result"] == [7.0, "hi there"]
    # range queries reject string expressions like upstream
    import urllib.error, pytest as _pytest
    with _pytest.raises(urllib.error.HTTPError):
        _get(server, "/api/v1/query_range?query=%s&start=0&end=10&step=5"
             % urllib.parse.quote('"hi"'))


def test_scan_counters_on_range_query(spark, sf_dir):
    """Per-query scan observability (reference search/metrics.go:35-76
    exports pages/rows/bytes scanned per query): a parquet-backed range
    query must report non-zero file/byte/row scan counters in its stats."""
    from thanos_parquet_gateway_spark.api.http import QueryAPI
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from thanos_parquet_gateway_spark.sources import samples_from_events

    eng = PromQLEngine(samples_from_events(spark, sf_dir),
                       lookback_ms=7 * 86400_000, deterministic=True)
    api = QueryAPI(eng)
    out = api.query_range("sum(click)", 1704153600000, 1704412800000,
                          86400_000)
    st = out["stats"]["samples"]
    assert st["totalQueried"] > 0
    assert st["peakSamples"] > 0
    assert st["filesScanned"] > 0
    assert st["bytesScanned"] > 0
    # a plan-memo hit returns the same result and, its scan stages
    # skipped, reports no scan
    again = api.query_range("sum(click)", 1704153600000, 1704412800000,
                            86400_000)
    assert again["result"] == out["result"]
    assert again["stats"]["samples"] == {
        "totalQueried": 0, "peakSamples": 0,
        "filesScanned": 0, "bytesScanned": 0}


def test_native_histogram_http_payload(spark):
    """Hist-valued results surface in the Prometheus HTTP API shape: a
    "histogram" slot (vector) / "histograms" array (matrix) with boundary-
    rule bucket 4-tuples, never a NaN float "value"."""
    from tests.conftest import make_samples
    from thanos_parquet_gateway_spark.api.http import QueryAPI
    from thanos_parquet_gateway_spark.promql import PromQLEngine

    S = 1000
    inf = float("inf")
    h = (6.0, 9.0, [(0.0, 1.0), (1.0, 2.0), (4.0, 3.0), (inf, 0.0)], 0)
    rows = [({"__name__": "hm", "job": "a"}, 10 * S, {"hist": h}),
            ({"__name__": "fm", "job": "a"}, 10 * S, 2.5)]
    eng = PromQLEngine(make_samples(spark, rows), lookback_ms=60 * S,
                       deterministic=True)
    api = QueryAPI(eng)

    res = api.query("hm", 20 * S)
    (item,) = res["result"]
    assert "value" not in item
    t, hj = item["histogram"]
    assert (t, hj["count"], hj["sum"]) == (20.0, "6", "9")
    # zero bucket closed-both at 0; exponential buckets (lower, upper]
    assert hj["buckets"] == [[3, "0", "0", "1"],
                             [0, "0.5", "1", "2"],
                             [0, "2", "4", "3"]]

    # float metrics keep the plain value slot
    res = api.query("fm", 20 * S)
    assert res["result"][0]["value"] == [20.0, "2.5"]

    # matrix: histograms array, empty values slot omitted
    res = api.query_range("hm", 10 * S, 30 * S, 10 * S)
    (item,) = res["result"]
    assert "values" not in item and len(item["histograms"]) == 3
    assert all(hj["count"] == "6" for _t, hj in item["histograms"])


def test_row_quota_never_materializes_full_result(spark, sf_dir):
    """Reference parity for incremental reservation (limits/limit.go:66-93
    reserves DURING materialization): a query whose result is far larger
    than the quota must 400 after pulling at most quota+1 rows to the
    driver — the rejection must not first materialize the full result.
    Proven by spying on every driver collect() during the rejected call."""
    import pytest as _pytest
    try:  # Spark 4: the runtime class lives under sql.classic
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover — older Spark
        from pyspark.sql import DataFrame

    from thanos_parquet_gateway_spark.api.http import QueryAPI, QuotaExceeded
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from thanos_parquet_gateway_spark.sources import samples_from_events

    eng = PromQLEngine(samples_from_events(spark, sf_dir),
                       lookback_ms=7 * 86400_000, deterministic=True)
    t = 1704412800000
    full = len(eng.query_instant("click", t).df.collect())
    assert full > 6  # the quota is exceeded mid-stream, not at the edge

    api = QueryAPI(eng, row_quota=2)
    collected: list[int] = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    DataFrame.collect = spy
    try:
        with _pytest.raises(QuotaExceeded):
            api.query("click", t)
    finally:
        DataFrame.collect = orig
    assert collected, "quota path never collected?"
    assert max(collected) <= 2 + 1, (
        f"driver saw {max(collected)} rows for a 2-row quota "
        f"(full result is {full})")


def test_label_endpoint_row_quotas(spark, sf_dir):
    """Per-endpoint metadata quotas (reference LabelNamesRowCountQuota /
    LabelValuesRowCountQuota, api/http/query.go:130-140): exceeding the
    operator quota is a hard rejection, while the client limit still
    truncates with a warning below it; the quota probe never pulls more
    than quota+1 rows."""
    import pytest as _pytest

    from thanos_parquet_gateway_spark.api.http import QueryAPI, QuotaExceeded
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from thanos_parquet_gateway_spark.sources import samples_from_events

    eng = PromQLEngine(samples_from_events(spark, sf_dir),
                       lookback_ms=7 * 86400_000, deterministic=True)
    t0, t1 = 1704067200000, 1706486400000
    api = QueryAPI(eng, label_values_row_quota=3, label_names_row_quota=50)
    api_ok = QueryAPI(eng, label_values_row_quota=10)
    for _ in range(2):  # the second round runs on memoized plans
        with _pytest.raises(QuotaExceeded, match="3-row quota"):
            api.label_values("user", None, t0, t1)      # >3 distinct users
        with _pytest.raises(QuotaExceeded, match="3-row quota"):
            api.label_values("shard", None, t0, t1)     # 8 shards > 3
        # a quota the cardinality fits passes untouched (5 metric names)
        vals, warns = api_ok.label_values("__name__", None, t0, t1)
        assert 0 < len(vals) <= 10 and warns == []
        names, warns = api.labels(None, t0, t1)          # few label names
        assert names and warns == []
        # client limit truncates WITH warning under a satisfied quota
        names2, warns2 = api.labels(None, t0, t1, limit=1)
        assert len(names2) == 1 and warns2
    # limit=1 under the 50-row quota fetches the same quota+1 plan
    assert eng.plan_cache_counts()["hits"] == 1 + 5


def test_default_metadata_row_quota(spark, sf_dir):
    """Unconfigured metadata endpoints no longer collect unbounded (round-9
    verdict #6): with no operator quota and no client limit, a
    large-but-finite default quota backstops the collect — small data
    passes untouched, oversized results become a 400 resource_exhausted
    instead of a driver OOM, and 0 restores the reference's UnlimitedQuota
    parity behavior."""
    import pytest as _pytest

    from thanos_parquet_gateway_spark.api.http import (
        DEFAULT_METADATA_ROW_QUOTA, QueryAPI, QuotaExceeded)
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from thanos_parquet_gateway_spark.sources import samples_from_events

    eng = PromQLEngine(samples_from_events(spark, sf_dir),
                       lookback_ms=7 * 86400_000, deterministic=True)
    t0, t1 = 1704067200000, 1706486400000
    # defaults: everything here is far below 1e6 rows, so unconfigured
    # endpoints keep working exactly as before
    api = QueryAPI(eng)
    assert api.default_metadata_row_quota == DEFAULT_METADATA_ROW_QUOTA
    names, warns = api.labels(None, t0, t1)
    assert names and warns == []
    vals, warns = api.label_values("shard", None, t0, t1)
    assert vals and warns == []
    # a tiny default proves the backstop actually fires on the same calls
    api_tiny = QueryAPI(eng, default_metadata_row_quota=2)
    with _pytest.raises(QuotaExceeded, match="2-row quota"):
        api_tiny.label_values("shard", None, t0, t1)   # 8 shards > 2
    # ...but a client limit below it still truncates-with-warning (the
    # default only backstops the no-limit path)
    vals2, warns2 = api_tiny.label_values("shard", None, t0, t1, limit=1)
    assert len(vals2) == 1 and warns2
    # explicit quotas win over the default
    api_q = QueryAPI(eng, label_values_row_quota=50,
                     default_metadata_row_quota=2)
    vals3, warns3 = api_q.label_values("shard", None, t0, t1)
    assert len(vals3) > 2 and warns3 == []
    # 0 restores reference UnlimitedQuota parity (unbounded collect)
    api_off = QueryAPI(eng, default_metadata_row_quota=0)
    vals4, _ = api_off.label_values("shard", None, t0, t1)
    assert len(vals4) == len(vals3)


def test_internal_api_endpoints(server):
    """Reference cmd/config.go:183-191 internal API: /-/healthy and
    /-/ready answer plain "OK"; /metrics exposes request/error counters
    in Prometheus text exposition format (shared port here — the
    reference uses a second listener, one process either way)."""
    import urllib.error

    for path in ("/-/healthy", "/-/ready"):
        with urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}{path}") as r:
            assert r.status == 200
            assert r.read() == b"OK"

    # drive one success and one error, then read the counters back
    _get(server, "/api/v1/query?query=sum(m)&time=40")
    try:
        _get(server, "/api/v1/query?query=sum(m&time=40")  # parse error
    except urllib.error.HTTPError as e:
        assert e.code == 422
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/metrics") as r:
        assert r.status == 200
        assert "version=0.0.4" in r.headers["Content-Type"]
        text = r.read().decode()
    assert "# TYPE pqg_http_requests_total counter" in text
    m = re.search(r'pqg_http_requests_total\{endpoint="/api/v1/query"\} '
                  r'(\d+)', text)
    assert m and int(m.group(1)) >= 2
    assert re.search(r'pqg_http_errors_total\{type="execution"\} \d+', text)


def test_metrics_endpoint_cardinality_and_escaping(server):
    """/metrics must not echo raw client paths as label values: arbitrary
    /api/* paths (404s, label-values names, quote/backslash injection)
    collapse into bounded buckets so a scraper can't be corrupted and the
    counter map can't grow without bound on a long-running server."""
    import urllib.error
    import urllib.parse

    # a 404 path with exposition-hostile characters, and two distinct
    # dynamic label-values paths
    hostile = "/api/x" + urllib.parse.quote('"y\\z')
    for path in (hostile, "/api/v1/label/aaa/values",
                 "/api/v1/label/bbb/values", "/api/nope1", "/api/nope2"):
        try:
            _get(server, path)
        except urllib.error.HTTPError as e:
            assert e.code in (404, 422)
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/metrics") as r:
        text = r.read().decode()
    # raw paths never appear; dynamic + unknown paths share fixed buckets
    assert "x\"y" not in text and "nope1" not in text and "aaa" not in text
    m = re.search(
        r'pqg_http_requests_total\{endpoint="/api/v1/label/:name/values"\}'
        r' (\d+)', text)
    assert m and int(m.group(1)) >= 2
    m = re.search(r'pqg_http_requests_total\{endpoint="other"\} (\d+)', text)
    assert m and int(m.group(1)) >= 3
    # every exposed label value is exposition-clean
    for val in re.findall(r'\{[a-z]+="([^"]*)"\}', text):
        assert '"' not in val and "\\" not in val and "\n" not in val
    # the engine's plan memo: unlabelled series, counters and a gauge
    _get(server, "/api/v1/labels?start=0&end=77")
    _get(server, "/api/v1/labels?start=0&end=77")
    with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/metrics") as r:
        text = r.read().decode()
    memo = {}
    for name, kind in (("hits_total", "counter"), ("misses_total", "counter"),
                       ("evictions_total", "counter"), ("entries", "gauge")):
        assert f"# TYPE pqg_plan_cache_{name} {kind}" in text
        m = re.search(rf"^pqg_plan_cache_{name} (\d+)$", text, re.M)
        memo[name] = int(m.group(1))
    assert memo["hits_total"] >= 1 and memo["misses_total"] >= 1
    # a miss whose build raised (a parse error) leaves no entry
    assert 0 < memo["entries"] <= \
        memo["misses_total"] - memo["evictions_total"]


def test_internal_endpoints_drain_post_body(server):
    """/-/healthy, /-/ready and /metrics must read the request body before
    responding — unread Content-Length bytes become a request-smuggling
    desync if the server is ever switched to HTTP/1.1 keep-alive."""
    body = b"x" * 70000  # larger than one drain chunk
    for path in ("/-/healthy", "/-/ready", "/metrics"):
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}{path}", data=body)
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
            r.read()


def test_shard_quota_dpp_conservative_direction(spark, sf_dir, tmp_path):
    """Admission walks the AQE initialPlan (the query hasn't run yet), so
    dynamically-pruned files (DPP/AQE) are still counted: the quota can
    only OVER-estimate — reject a query that would have scanned fewer
    files — never admit one that scans more (r11 verdict item #7).  Also
    pins the one-time silently-disabled warning."""
    import warnings as _warnings

    from pyspark.sql import functions as F

    from thanos_parquet_gateway_spark.api import http as _http
    from thanos_parquet_gateway_spark.convert.convert import convert_samples
    from thanos_parquet_gateway_spark.sources import samples_from_events

    out = str(tmp_path / "table")
    convert_samples(samples_from_events(spark, sf_dir), out,
                    max_records_per_file=200)
    conv = spark.read.parquet(out)
    # DPP-eligible shape: join on the partition column against a small
    # FILE-backed dim filtered to ONE date — Spark inserts a dynamic
    # pruning subquery, so the runtime scan drops every other partition,
    # but admission (pre-run) cannot know that
    dimp = str(tmp_path / "dim")
    spark.createDataFrame(
        [(f"2024-01-{d:02d}", "keep" if d == 5 else "drop")
         for d in range(1, 31)], "date string, tag string") \
        .withColumn("date", F.to_date("date")) \
        .coalesce(1).write.parquet(dimp)
    dim = spark.read.parquet(dimp).filter(F.col("tag") == "keep")
    joined = conv.join(dim, "date").groupBy().agg(F.sum("value").alias("s"))
    assert "dynamicpruning" in \
        joined._jdf.queryExecution().executedPlan().toString().lower()
    pre = _http.plan_scan_files(joined)
    # admission counts every statically-listed file of both scans
    assert pre >= len(conv.inputFiles())
    joined.collect()  # execute: DPP prunes at runtime
    leaves: list = []
    _http._walk_leaves(joined._jdf.queryExecution().executedPlan(), leaves)
    runtime_files = 0
    for x in leaves:
        if x.getClass().getSimpleName() == "FileSourceScanExec":
            nf = x.metrics().get("numFiles")
            assert nf.isDefined()
            runtime_files += int(nf.get().value())
    # conservative: the files actually scanned are a strict subset of
    # what admission charged the query for
    assert 0 < runtime_files < pre

    # the advisory-0 fallback warns exactly once per process
    class Broken:
        @property
        def _jdf(self):
            raise RuntimeError("no plan")
    _http._scan_files_probe_warned = False
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        assert _http.plan_scan_files(Broken()) == 0
        assert _http.plan_scan_files(Broken()) == 0
    msgs = [x for x in w if "shard quota is DISABLED" in str(x.message)]
    assert len(msgs) == 1
