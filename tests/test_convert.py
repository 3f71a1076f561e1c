"""Conversion-layer tests: structural invariants on written files (mirrors
reference convert/convert_test.go:151-431), planner coverage anti-join
(convert/plan_test.go:22+), retention two-phase delete (locate/deletion.go)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from thanos_parquet_gateway_spark.convert import (
    apply_retention,
    convert_samples,
    mark_for_deletion,
    plan_days,
)
from thanos_parquet_gateway_spark.convert.planner import source_days
from thanos_parquet_gateway_spark.sources import samples_from_events


@pytest.fixture(scope="module")
def converted(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("samples_table"))
    raw = samples_from_events(spark, sf_dir)
    manifest = convert_samples(raw, out, max_records_per_file=100_000)
    return out, manifest, raw


def test_partition_layout(converted, spark):
    out, manifest, raw = converted
    days = sorted(p.split("date=")[-1] for p in glob.glob(f"{out}/stream=0/date=*"))
    assert len(days) == 30  # one UTC-day block per day (db/db.go:29-31)
    assert days[0] == "2024-01-01" and days[-1] == "2024-01-30"


def test_roundtrip_counts_and_dedup(converted, spark):
    out, manifest, raw = converted
    from thanos_parquet_gateway_spark.convert.convert import prepare_samples
    back = spark.read.parquet(out)
    assert back.count() == \
        prepare_samples(raw).dropDuplicates(["series_hash", "ts"]).count()
    # partition column recovered, every row in its right day partition
    bad = back.filter(
        F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd") !=
        F.col("date")).count()
    assert bad == 0


def test_files_sorted_within(converted):
    """Page-skip precondition: rows sorted by (__name__, series_hash, ts)
    within every file (reference sorting columns, convert/convert.go:102-111)."""
    out, _, _ = converted
    files = glob.glob(f"{out}/stream=0/date=2024-01-0*/**/*.parquet", recursive=True)
    assert files
    for f in files[:8]:
        t = pq.read_table(f, columns=["__name__", "series_hash", "ts"])
        rows = list(zip(t["__name__"].to_pylist(), t["series_hash"].to_pylist(),
                        t["ts"].to_pylist()))
        assert rows == sorted(rows), f"unsorted rows in {f}"


def test_manifest_bounds(converted, spark):
    out, manifest, raw = converted
    m = {r["date"]: r for r in manifest.collect()}
    assert len(m) == 30
    jan2 = m["2024-01-02"]
    assert 1704153600000 <= jan2["mint"] <= jan2["maxt"] < 1704240000000


def test_manifest_single_pass(converted, spark, sf_dir):
    """The manifest must aggregate the WRITTEN table, not re-scan the raw
    input (round-4 verdict: the old df re-aggregation doubled conversion
    input I/O at scale).  Its plan reads only the compacted output, column-
    pruned to (ts, series_hash)."""
    import io
    from contextlib import redirect_stdout

    out, manifest, raw = converted
    buf = io.StringIO()
    with redirect_stdout(buf):
        manifest.explain("formatted")
    plan = buf.getvalue()
    assert "events.parquet" not in plan  # no second pass over the raw source
    # the returned frame is pre-materialized (collected once for the meta
    # sidecars) — the I/O property lives in the underlying aggregation plan
    assert "ExistingRDD" in plan
    from thanos_parquet_gateway_spark.convert.convert import (
        _manifest_from_written,
    )
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        _manifest_from_written(spark, out).explain("formatted")
    plan2 = buf2.getvalue()
    assert "events.parquet" not in plan2
    assert out.split("/")[-1] in plan2   # scans the written table
    rs = [ln for ln in plan2.splitlines() if "ReadSchema" in ln]
    assert rs and "labels" not in rs[0] and "value" not in rs[0], plan2


def test_label_stats_sidecar(converted, spark):
    """Dictionary-shortcut parity (reference search/search.go:153-201 reads
    LabelValues from parquet dictionaries; SURVEY.md §7.3): convert writes a
    _label_stats sidecar, the engine's unconstrained metadata fast path
    answers from it — same results as the scan path, no samples scan in the
    plan — and time bounds still prune by date."""
    import io
    from contextlib import redirect_stdout

    from thanos_parquet_gateway_spark.convert.convert import read_label_stats
    from thanos_parquet_gateway_spark.promql import PromQLEngine

    out, manifest, raw = converted
    stats = read_label_stats(spark, out)
    assert set(stats.columns) == {"stream", "date", "label", "value"}
    conv = spark.read.parquet(out)
    t0, t1 = 1704153600000, 1704412800000  # Jan 2 .. Jan 5
    fast = PromQLEngine(conv, label_stats=stats)
    slow = PromQLEngine(conv)
    for name in ("shard", "__name__"):
        got = [r["value"] for r in
               fast.label_values(name, None, t0, t1).collect()]
        want = [r["value"] for r in
                slow.label_values(name, None, t0, t1).collect()]
        assert got == want and got
    got = [r["name"] for r in fast.label_names(None, t0, t1).collect()]
    want = [r["name"] for r in slow.label_names(None, t0, t1).collect()]
    assert got == want == ["__name__", "shard", "user"]
    # the fast plan reads the sidecar, not the samples
    buf = io.StringIO()
    with redirect_stdout(buf):
        fast.label_values("shard", None, t0, t1).explain("formatted")
    plan = buf.getvalue()
    assert "_label_stats" in plan
    assert "labels" not in [ln for ln in plan.splitlines()
                            if "ReadSchema" in ln][0]
    # matchers fall back to the filtered scan
    buf = io.StringIO()
    with redirect_stdout(buf):
        fast.label_values("shard", ['click{user="7"}'], t0, t1) \
            .explain("formatted")
    assert "_label_stats" not in buf.getvalue()


def test_grpc_label_stats_sidecar(converted, spark):
    """gRPC LabelNames/LabelValues (QueryServer) read the label-stats
    sidecar like HTTP does, but only on the engine that drops no replica
    labels: the sidecar carries raw labels."""
    import io
    from contextlib import redirect_stdout

    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.convert.convert import read_label_stats

    out, _, _ = converted
    conv = spark.read.parquet(out)
    t0, t1 = 1704153600000, 1704412800000  # Jan 2 .. Jan 5
    fast = QueryServer(conv, label_stats=read_label_stats(spark, out))
    slow = QueryServer(conv)
    for name in ("shard", "__name__"):
        got = fast.label_values(name, None, t0, t1)
        assert got == slow.label_values(name, None, t0, t1) and got[0]
    assert fast.label_names(None, t0, t1) == slow.label_names(None, t0, t1)

    def plan(srv, replica_labels):
        buf = io.StringIO()
        with redirect_stdout(buf):
            srv._api(replica_labels).engine.label_values(
                "shard", None, t0, t1).explain("formatted")
        return buf.getvalue()

    assert "_label_stats" in plan(fast, None)
    assert "_label_stats" not in plan(fast, ["user"])


def test_planner_anti_join(converted, spark):
    out, manifest, raw = converted
    src = source_days(raw)
    # nothing converted → all complete days planned (newest partial dropped
    # only when incomplete; our synthetic data covers full days)
    plan_all = plan_days(src, None, drop_partial_newest=False)
    assert plan_all.count() == 30
    # manifest covers everything → empty plan
    assert plan_days(src, manifest, drop_partial_newest=False).count() == 0
    # partial coverage → complement, newest-first, maxDays cap
    partial = manifest.filter(F.col("date") < "2024-01-20")
    p = plan_days(src, partial, max_days=5, drop_partial_newest=False)
    rows = [r["date"] for r in p.collect()]
    assert rows == sorted(rows, reverse=True) and len(rows) == 5
    assert rows[0] == "2024-01-30"


def test_retention_two_phase(converted, spark, tmp_path):
    out, manifest, raw = converted
    now = 1706486400000  # 2024-01-29
    marked = mark_for_deletion(manifest, retention_days=14, now_ms=now)
    n_marked = marked.filter(F.col("deleted_at").isNotNull()).count()
    assert n_marked == 14  # days 01..14 are past 14d retention
    # within consistency delay → nothing deleted yet
    assert apply_retention(marked, out, now_ms=now) == []
    # after the delay → partitions physically dropped
    deleted = apply_retention(marked, out, now_ms=now + 13 * 3600 * 1000)
    assert len(deleted) == 14
    days_left = glob.glob(f"{out}/stream=0/date=*")
    assert len(days_left) == 16


def test_streaming_convert_agrees_with_batch(spark, tmp_path):
    """Structured-Streaming conversion produces the same table as batch
    (availableNow drain ≡ one reference convert cycle)."""
    from tests.conftest import make_samples
    from thanos_parquet_gateway_spark.streaming import stream_convert

    rows = [({"__name__": "m", "job": str(i % 3)}, 1704067200000 + i * 3_600_000,
             float(i)) for i in range(72)]
    raw = make_samples(spark, rows)
    in_path = str(tmp_path / "in")
    raw.write.parquet(in_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_convert(spark, in_path, out, ckpt)
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() == 72
    assert sorted(p.split("date=")[-1] for p in glob.glob(f"{out}/stream=0/date=*")) \
        == ["2024-01-01", "2024-01-02", "2024-01-03"]


def test_streaming_sessionize_agrees_with_batch(spark, sf_dir, tmp_path):
    """Native session_window streaming sessionization drains (availableNow)
    to the same per-session rows as the batch window-lag oracle."""
    from thanos_parquet_gateway_spark.sources.tables import load_table
    from thanos_parquet_gateway_spark.streaming import (
        batch_equivalent_sessions,
        stream_sessionize,
    )

    events = load_table(spark, sf_dir, "events")
    in_path = str(tmp_path / "in")
    (events.select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                   "user_id", "event_type", "value")
     .write.parquet(in_path))
    out = str(tmp_path / "out")
    q = stream_sessionize(spark, in_path, out, str(tmp_path / "ckpt"),
                          watermark="0 seconds")
    q.awaitTermination(180)
    # append-mode session windows hold the still-open tail sessions in
    # state until the watermark passes them; a far-future sentinel event
    # in a second availableNow drain flushes every real session
    sentinel_user = -1
    (events.limit(1)
     .select(F.lit(0).cast("long").alias("event_id"),
             F.lit("2025-06-01 00:00:00").cast("timestamp").alias("ts"),
             F.lit(sentinel_user).cast("long").alias("user_id"),
             F.lit("flush").alias("event_type"),
             F.lit(0.0).alias("value"))
     .write.mode("append").parquet(in_path))
    q = stream_sessionize(spark, in_path, out, str(tmp_path / "ckpt"),
                          watermark="0 seconds")
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out)
                     .filter(F.col("user_id") != sentinel_user)
                     .select("user_id", "session_start", "n_events")
                     .collect()))
    want = sorted(map(tuple, batch_equivalent_sessions(events)
                      .select("user_id", "session_start", "n_events")
                      .collect()))
    assert got == want and got


def test_stateful_running_increase_agrees_with_batch(spark, tmp_path):
    """applyInPandasWithState custom operator: streaming reset-corrected
    running increase carries state across micro-batches and matches the
    batch window-based oracle."""
    from tests.conftest import make_samples
    from thanos_parquet_gateway_spark.streaming.stateful import (
        batch_running_increase,
        stream_running_increase,
    )
    rows = [({"__name__": "c", "job": "a"}, t * 1000, v)
            for t, v in enumerate([0, 5, 9, 2, 4, 1, 8])]  # resets at 2 and 1
    rows += [({"__name__": "c", "job": "b"}, t * 1000, float(t))
             for t in range(5)]
    df = make_samples(spark, rows)
    in_path, out, ckpt = (str(tmp_path / "in"), str(tmp_path / "out"),
                          str(tmp_path / "ckpt"))
    # two separate drops → two stream runs sharing the checkpointed state
    df.filter(df.ts < 3000).write.parquet(in_path)
    q = stream_running_increase(spark, in_path, out, ckpt)
    assert q.awaitTermination(120)
    df.filter(df.ts >= 3000).write.mode("append").parquet(in_path)
    q = stream_running_increase(spark, in_path, out, ckpt)
    assert q.awaitTermination(120)
    got = {(r["sig"], r["ts"]): r["cum_increase"]
           for r in spark.read.parquet(out).collect()}
    want = {(r["sig"], r["ts"]): r["cum_increase"]
            for r in batch_running_increase(df).collect()}
    assert got == want


def test_query_over_converted_layout(spark, sf_dir, tmp_path):
    """E2E: the PromQL engine over the converted partitioned table returns
    the same results as over raw samples, and the plan prunes date
    partitions for the query window (reference serve-over-converted path).
    Converts into its own directory — the shared `converted` fixture is
    mutated by the retention test."""
    import io
    from contextlib import redirect_stdout

    from thanos_parquet_gateway_spark.promql import PromQLEngine

    out = str(tmp_path / "table")
    raw = samples_from_events(spark, sf_dir)
    convert_samples(raw, out, max_records_per_file=100_000)
    conv = spark.read.parquet(out)  # keeps the date/stream partition columns
    t_eval = 1704412800000  # 2024-01-05
    lb = 2 * 86400_000
    e_raw = PromQLEngine(raw, lookback_ms=lb, deterministic=True)
    e_conv = PromQLEngine(conv, lookback_ms=lb, deterministic=True)
    q = "sum by (shard) (click)"
    rows_raw = sorted((dict(r["labels"])["shard"], r["value"])
                      for r in e_raw.query_instant(q, t_eval).df.collect())
    rows_conv = sorted((dict(r["labels"])["shard"], r["value"])
                       for r in e_conv.query_instant(q, t_eval).df.collect())
    assert rows_raw == rows_conv and rows_conv
    # partition pruning: the window (t-2d, t] covers Jan 3-5 — the compiler
    # derives date-partition predicates, so Catalyst prunes the other days
    df = e_conv.query_instant(q, t_eval).df
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(True)
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "2024-01-03" in pf[0] and "2024-01-05" in pf[0], plan


def test_cli_convert_incremental_and_retention(spark, sf_dir, tmp_path):
    """CLI surface (cli.py ≙ reference cmd/convert.go + retention): first
    run converts the planned days, a later run over a grown source adds only
    the new days (dynamic partition overwrite), results match a direct
    engine over raw, and retention mark+sweep drops everything expired."""
    from thanos_parquet_gateway_spark.cli import main
    from thanos_parquet_gateway_spark.promql import PromQLEngine

    src = str(tmp_path / "raw")
    dst = str(tmp_path / "conv")
    raw = samples_from_events(spark, sf_dir)
    jan10 = 1704844800000
    raw.filter(F.col("ts") < jan10).write.parquet(src)
    assert main(["convert", "--src", src, "--dst", dst]) == 0
    days1 = {p.split("date=")[-1] for p in glob.glob(f"{dst}/stream=0/date=*")}
    assert days1 and max(days1) <= "2024-01-09"
    # grow the source; the planner anti-join schedules only the new days
    raw.filter(F.col("ts") >= jan10).write.mode("append").parquet(src)
    assert main(["convert", "--src", src, "--dst", dst]) == 0
    days2 = {p.split("date=")[-1] for p in glob.glob(f"{dst}/stream=0/date=*")}
    # Jan 30 is the still-accumulating partial newest day — the planner
    # skips it (reference convert/plan.go:58-74)
    assert days1 < days2 and max(days2) == "2024-01-29"
    # converted table answers like the raw engine
    t = 1704412800000
    lb = 2 * 86400_000
    q = "sum by (shard) (click)"
    want = sorted((dict(r["labels"])["shard"], r["value"]) for r in
                  PromQLEngine(raw, lookback_ms=lb, deterministic=True)
                  .query_instant(q, t).df.collect())
    got = sorted((dict(r["labels"])["shard"], r["value"]) for r in
                 PromQLEngine(spark.read.parquet(dst), lookback_ms=lb,
                              deterministic=True)
                 .query_instant(q, t).df.collect())
    assert got == want
    # retention: everything is long past any 2024 retention window
    assert main(["retention", "--path", dst, "--days", "30", "--apply",
                 "--consistency-delay-ms", "0"]) == 0
    assert glob.glob(f"{dst}/stream=0/date=*") == []


def test_series_prunes_day_partitions(spark, tmp_path):
    """/series and the Series export over one day of a ten-day converted
    table scan only that day's files, like a PromQL selector does."""
    from thanos_parquet_gateway_spark.api.http import scan_stats
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from tests.conftest import make_samples

    day, t0 = 86_400_000, 1704067200000  # 2024-01-01
    rows = [({"__name__": "m", "job": j}, t0 + d * day + day // 2, float(d))
            for d in range(10) for j in ("j1", "j2")]
    out = str(tmp_path / "table")
    convert_samples(make_samples(spark, rows), out)
    day_files = len(glob.glob(f"{out}/stream=0/date=2024-01-03/*.parquet"))
    assert 0 < day_files < len(glob.glob(f"{out}/stream=0/date=*/*.parquet"))
    eng = PromQLEngine(spark.read.parquet(out))
    start, end = t0 + 2 * day, t0 + 3 * day - 1
    for samples in (False, True):
        df = eng.series(['m{job="j1"}'], start, end, samples=samples)
        got = df.collect()
        assert [dict(r["labels"]) for r in got] == [
            {"__name__": "m", "job": "j1"}]
        if samples:
            assert [s["value"] for s in got[0]["samples"]] == [2.0]
        assert scan_stats(df)["filesScanned"] == day_files


def test_multistream_convert_prune_decorate(spark, sf_dir, tmp_path):
    """Multi-stream mode end-to-end (reference locate/discover.go:125-305):
    two streams with distinct external labels converted into one layout; a
    matcher on a stream label prunes the other stream's partitions (explain
    shows a stream PartitionFilter) and results carry the stream's labels."""
    import io
    from contextlib import redirect_stdout

    from thanos_parquet_gateway_spark.convert import (
        convert_streams,
        read_stream_descriptors,
    )
    from thanos_parquet_gateway_spark.promql import PromQLEngine

    out = str(tmp_path / "ms")
    raw = samples_from_events(spark, sf_dir)
    user = F.element_at("labels", "user").cast("long")
    ext = {"a": {"zone": "us-east", "prometheus": "prom-a"},
           "b": {"zone": "eu-west", "prometheus": "prom-b"}}
    convert_streams({"a": raw.filter(user % 2 == 0),
                     "b": raw.filter(user % 2 == 1)}, out, ext_labels=ext,
                    max_records_per_file=100_000)
    streams = read_stream_descriptors(spark, out)
    assert streams == ext
    conv = spark.read.parquet(out)
    lb = 2 * 86400_000
    t = 1704412800000  # 2024-01-05
    eng = PromQLEngine(conv, lookback_ms=lb, deterministic=True,
                       streams=streams)
    res = eng.query_instant('sum by (zone) (click{zone="us-east"})', t)
    rows = res.df.collect()
    assert len(rows) == 1 and dict(rows[0]["labels"]) == {"zone": "us-east"}
    # same number from a single-stream engine over just the even users
    single = PromQLEngine(raw.filter(user % 2 == 0), lookback_ms=lb,
                          deterministic=True)
    want = single.query_instant("sum(click)", t).df.collect()
    assert rows[0]["value"] == pytest.approx(want[0]["value"], rel=1e-12)
    # the elided matcher must surface as a partition filter on `stream`
    buf = io.StringIO()
    with redirect_stdout(buf):
        res.df.explain(True)
    pf = [ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln]
    assert pf and any("stream" in ln and "a" in ln for ln in pf), buf.getvalue()
    # metadata APIs see decorated labels: values of an ext label = per-stream
    zones = [r["value"]
             for r in eng.label_values("zone", None, 0, t, 0).collect()]
    assert zones == ["eu-west", "us-east"]
    names = [r["name"] for r in eng.label_names(None, 0, t, 0).collect()]
    assert {"zone", "prometheus"} <= set(names)


def test_cli_query_instant_and_range(spark, sf_dir, tmp_path, capsys):
    """CLI one-shot query (promtool query analogue): instant and range JSON
    on stdout, parse errors as status=error with exit 1."""
    import json as _json

    from thanos_parquet_gateway_spark.cli import main

    path = str(tmp_path / "samples")
    samples_from_events(spark, sf_dir).drop("__ts_raw").write.parquet(path)
    t = 1704412800000
    assert main(["query", "--path", path, "sum by (shard) (click)",
                 "--time", str(t), "--lookback-ms", str(7 * 86400_000)]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "success"
    assert out["data"]["resultType"] == "vector" and out["data"]["result"]
    assert main(["query", "--path", path, "sum by (shard) (click)",
                 "--start", str(t - 86400_000), "--end", str(t),
                 "--step", str(86400_000),
                 "--lookback-ms", str(7 * 86400_000)]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["data"]["resultType"] == "matrix"
    assert main(["query", "--path", path, "sum(", "--time", "0"]) == 1
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["status"] == "error"


DAY, JAN1 = 86_400_000, 1704067200000  # 2024-01-01


def _m(spark, job, day):
    """One ``m{job=<job>}`` sample one second into ``day`` (days after
    2024-01-01)."""
    from tests.conftest import make_samples
    return make_samples(spark, [({"__name__": "m", "job": job},
                                 JAN1 + day * DAY + 1000, float(day))])


def _metrics(data):
    return sorted(sorted(r["metric"].items()) for r in data["result"])


def test_incremental_convert_keeps_idle_stream(spark, tmp_path):
    """A convert that writes only stream a's next day leaves stream b's
    descriptor in place beside b's data: b's series still match and carry
    its ``zone``, and a ``zone="us"`` matcher never lets b's rows through."""
    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.convert import (
        convert_streams,
        read_stream_descriptors,
    )

    out = str(tmp_path / "table")
    ext = {"a": {"zone": "us"}, "b": {"zone": "eu"}}
    convert_streams({"a": _m(spark, "j1", 0), "b": _m(spark, "j2", 0)}, out,
                    ext_labels=ext)
    convert_streams({"a": _m(spark, "j1", 1)}, out,
                    ext_labels={"a": ext["a"]})
    streams = read_stream_descriptors(spark, out)
    assert streams == ext
    srv = QueryServer(spark.read.parquet(out), streams=streams,
                      lookback_ms=2 * DAY)
    t = JAN1 + DAY + 2000
    assert _metrics(srv.query('m{zone="eu"}', t)) == [
        [("__name__", "m"), ("job", "j2"), ("zone", "eu")]]
    assert _metrics(srv.query('m{zone="us"}', t)) == [
        [("__name__", "m"), ("job", "j1"), ("zone", "us")]]


def test_cli_query_reads_stream_descriptors(spark, tmp_path, capsys):
    """``cli query`` opens a converted table as ``serve`` does: a matcher
    on a stream's descriptor label answers what QueryServer answers."""
    import json as _json

    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.cli import main
    from thanos_parquet_gateway_spark.convert import convert_streams

    out = str(tmp_path / "table")
    ext = {"a": {"zone": "us"}, "b": {"zone": "eu"}}
    convert_streams({"a": _m(spark, "j1", 0), "b": _m(spark, "j2", 0)}, out,
                    ext_labels=ext)
    t, lb = JAN1 + 2000, DAY
    want = QueryServer(spark.read.parquet(out), streams=ext,
                       lookback_ms=lb).query('m{zone="us"}', t)
    assert _metrics(want) == [[("__name__", "m"), ("job", "j1"),
                               ("zone", "us")]]
    assert main(["query", "--path", out, 'm{zone="us"}', "--time", str(t),
                 "--lookback-ms", str(lb)]) == 0
    got = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got == {"status": "success", "data": _json.loads(_json.dumps(want))}


def test_retention_refreshes_label_stats(spark, tmp_path):
    """A sweep rewrites the label-stats sidecar: unconstrained /labels over
    a swept day names nothing, and the kept day still answers."""
    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.convert.convert import read_label_stats

    out = str(tmp_path / "table")
    manifest = convert_samples(_m(spark, "j1", 0).unionByName(
        _m(spark, "j2", 1)), out)
    now = JAN1 + 2 * DAY
    marked = mark_for_deletion(manifest, retention_days=1, now_ms=now)
    assert len(apply_retention(marked, out, now_ms=now,
                               consistency_delay_ms=0)) == 1
    srv = QueryServer(spark.read.parquet(out),
                      label_stats=read_label_stats(spark, out))
    assert srv.label_names(None, JAN1, JAN1 + DAY - 1)[0] == []
    assert srv.label_names(None, JAN1 + DAY, JAN1 + 2 * DAY - 1)[0] == [
        "__name__", "job"]


def test_native_histograms_survive_conversion(spark, tmp_path):
    """Native-histogram samples at rest: the hist struct column (including
    the schema field) rides through convert_samples' partitioned write and
    queries identically off the converted parquet layout (the reference
    stores HISTOGRAM chunks in its blocks the same way)."""
    from tests.conftest import make_samples
    from thanos_parquet_gateway_spark.promql import PromQLEngine

    S = 1000
    rows = [({"__name__": "h", "job": "a"}, 10 * S,
             {"hist": (4.0, 14.0, [(1.0, 2), (2.0, 1), (4.0, 1),
                                   (float("inf"), 0.0)], 0)}),
            ({"__name__": "h", "job": "b"}, 10 * S,
             {"hist": (2.0, 6.0, [(1.0, 1), (float("inf"), 1.0)], None)}),
            ({"__name__": "f", "job": "a"}, 10 * S, 3.5)]
    out = str(tmp_path / "hist_table")
    convert_samples(make_samples(spark, rows), out)
    eng = PromQLEngine(spark.read.parquet(out), lookback_ms=60 * S,
                       deterministic=True)

    got = {tuple(sorted(r["labels"].items())): r["value"]
           for r in eng.query_instant("histogram_count(h)", 20 * S)
                       .df.collect()}
    assert got == {(("job", "a"),): 4.0, (("job", "b"),): 2.0}
    # schema survives: exponential bounds for job=a (schema 0 → q0.1 in
    # (0.5, 1], lower 0.5), classic clamp for job=b (NULL schema → lower 0)
    q = {tuple(sorted(r["labels"].items())): r["value"]
         for r in eng.query_instant("histogram_quantile(0.1, h)", 20 * S)
                     .df.collect()}
    assert q[(("job", "a"),)] == 0.5 + 0.5 * (0.4 / 2.0)
    assert q[(("job", "b"),)] == 0.0 + 1.0 * (0.2 / 1.0)
    # float series coexist
    f = eng.query_instant("f", 20 * S).df.collect()
    assert len(f) == 1 and f[0]["value"] == 3.5
