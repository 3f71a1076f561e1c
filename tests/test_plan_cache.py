"""Pin the engine-level plan memo (promql/engine.py ``_plan_cached``).

The memo holds DataFrames keyed on (kind, query, time parameters, row cap)
for PromQL and (kind, name, matchers, start, end, row cap) for metadata
and Series export.  It stores no rows, but a hit re-executes the SAME
Dataset: Spark reuses the first run's shuffle output (the scan stages show
SKIPPED), so an entry is valid for the file listing the engine's table
handle captured at first analysis — fixed for the life of ``serve`` — and
``stats.samples`` on a hit repeat the first run's scan counts.
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
    eng._plan_cache_cap = 4
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
        sc.setJobGroup(group, group)
        try:
            rows = eng.query_instant("sum by (job) (m)", 30 * S).df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
        stages = [store.lastStageAttempt(sid)
                  for jid in tracker.getJobIdsForGroup(group)
                  for sid in tracker.getJobInfo(jid).stageIds]
        scanned = sum(st.inputRecords() for st in stages
                      if st.status().toString() == "COMPLETE")
        skipped = [st for st in stages if st.status().toString() == "SKIPPED"]
        return rows, scanned, skipped

    eng = PromQLEngine(spark.read.parquet(path), lookback_ms=300_000)
    rows1, scanned1, _ = run(eng, "memo-first")
    rows2, scanned2, skipped2 = run(eng, "memo-hit")
    fresh = PromQLEngine(spark.read.parquet(path), lookback_ms=300_000)
    rows3, scanned3, _ = run(fresh, "memo-fresh")
    assert scanned1 > 0
    assert scanned2 == 0 and skipped2
    assert scanned3 == scanned1
    assert rows1 == rows2 == rows3 and rows1
