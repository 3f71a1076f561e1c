"""Pin the engine-level compiled-plan cache (promql/engine.py, r13).

The cache memoizes UNEXECUTED DataFrame plans keyed on (kind, query,
time parameters) — no data, no results; every action re-scans the source.
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
    """The cached object is an unexecuted plan: a second execution must
    recompute from the CURRENT source rows (here: the same immutable local
    relation — collect twice and via a fresh equal plan to prove the cache
    returns a live plan, not captured rows)."""
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


def test_plan_cache_errors_not_cached(spark):
    eng = _eng(spark, ROWS)
    for _ in range(2):
        with pytest.raises(ValueError):
            eng.query_range('"a string"', 0, 50 * S, 10 * S)
    assert not any(k[0] == "range" and '"a string"' in k[1]
                   for k in eng._plan_cache)
