"""PromQL evaluation fixtures: hand-computed expectations in the style of the
reference's differential tests (db/db_test.go:313-1127) and the upstream
promqltest corpus semantics (db/db_test.go:53-71)."""

from __future__ import annotations

import math
import re

import pytest

from tests.conftest import make_samples

S = 1000  # one second in ms
NAN, INF = float("nan"), float("inf")


def eng_for(spark, rows, lookback_ms=300_000, **kw):
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    return PromQLEngine(make_samples(spark, rows), lookback_ms=lookback_ms,
                        deterministic=True, **kw)


def vec(result):
    """result df → {labels_frozenset: value}"""
    out = {}
    for r in result.df.collect():
        out[frozenset(dict(r["labels"]).items())] = r["value"]
    return out


def counter(name, labels, start_ts, step_ms, values):
    return [({**labels, "__name__": name}, start_ts + i * step_ms, v)
            for i, v in enumerate(values)]


BASIC = (
    counter("m", {"job": "a"}, 0, 10 * S, [1, 2, 3, 4, 5]) +
    counter("m", {"job": "b"}, 0, 10 * S, [10, 20, 30, 40, 50]) +
    counter("n", {"job": "a"}, 0, 10 * S, [7, 7, 7, 7, 7])
)


def test_instant_lookback_last_sample(spark):
    eng = eng_for(spark, BASIC)
    r = vec(eng.query_instant("m", 25 * S))
    assert r == {frozenset({("__name__", "m"), ("job", "a")}): 3.0,
                 frozenset({("__name__", "m"), ("job", "b")}): 30.0}
    # beyond lookback → empty
    assert vec(eng.query_instant("m", 1000 * S)) == {}


def test_sum_by_without(spark):
    eng = eng_for(spark, BASIC)
    r = vec(eng.query_instant("sum by (job) (m)", 40 * S))
    assert r == {frozenset({("job", "a")}): 5.0, frozenset({("job", "b")}): 50.0}
    r = vec(eng.query_instant("sum without (job) (m)", 40 * S))
    assert r == {frozenset(): 55.0}
    r = vec(eng.query_instant("sum(m)", 40 * S))
    assert r == {frozenset(): 55.0}


def test_arith_vector_scalar_drops_name(spark):
    eng = eng_for(spark, BASIC)
    r = vec(eng.query_instant("m * 2", 40 * S))
    assert r == {frozenset({("job", "a")}): 10.0, frozenset({("job", "b")}): 100.0}


def test_comparison_filter_keeps_name(spark):
    eng = eng_for(spark, BASIC)
    r = vec(eng.query_instant("m > 10", 40 * S))
    assert r == {frozenset({("__name__", "m"), ("job", "b")}): 50.0}
    r = vec(eng.query_instant("m > bool 10", 40 * S))
    assert r == {frozenset({("job", "a")}): 0.0, frozenset({("job", "b")}): 1.0}


def test_vector_vector_matching(spark):
    eng = eng_for(spark, BASIC)
    # default matching: m and n share {job="a"} only after __name__ drop
    r = vec(eng.query_instant("m + n", 40 * S))
    assert r == {frozenset({("job", "a")}): 12.0}
    r = vec(eng.query_instant("m + on(job) n", 40 * S))
    assert r == {frozenset({("job", "a")}): 12.0}


def test_group_left_include(spark):
    rows = (counter("req", {"pod": "p1", "node": ""}, 0, 10 * S, [10]) +
            counter("req", {"pod": "p2", "node": ""}, 0, 10 * S, [20]) +
            [({"__name__": "info", "pod": "p1", "role": "web"}, 0, 1.0),
             ({"__name__": "info", "pod": "p2", "role": "db"}, 0, 1.0)])
    eng = eng_for(spark, rows)
    r = vec(eng.query_instant("req * on(pod) group_left(role) info", 5 * S))
    assert r == {frozenset({("pod", "p1"), ("node", ""), ("role", "web")}): 10.0,
                 frozenset({("pod", "p2"), ("node", ""), ("role", "db")}): 20.0}


def test_vector_matching_duplicate_groups_error(spark):
    """Prometheus errors on non-unique match groups instead of joining
    per-pair: dup on the 'one' side → 'found duplicate series'; many-to-one
    without group_left → explicit-matching error."""
    rows = (counter("req", {"pod": "p1", "job": "x"}, 0, 10 * S, [10]) +
            counter("req", {"pod": "p1", "job": "y"}, 0, 10 * S, [20]) +
            [({"__name__": "info", "pod": "p1"}, 0, 1.0)])
    eng = eng_for(spark, rows)
    # rhs unique, lhs dup, one-to-one → many-to-one must be explicit
    with pytest.raises(Exception, match="group_left"):
        eng.query_instant("req * on(pod) info", 5 * S).df.collect()
    # explicit group_left → fine
    r = vec(eng.query_instant("req * on(pod) group_left info", 5 * S))
    assert len(r) == 2
    # dup on the 'one' (rhs) side under group_left → duplicate-series error
    rows2 = (counter("req", {"pod": "p1", "job": "x"}, 0, 10 * S, [10]) +
             [({"__name__": "info", "pod": "p1", "v": "1"}, 0, 1.0),
              ({"__name__": "info", "pod": "p1", "v": "2"}, 0, 2.0)])
    eng2 = eng_for(spark, rows2)
    with pytest.raises(Exception, match="duplicate series"):
        eng2.query_instant("req * on(pod) group_left info", 5 * S).df.collect()


def test_duplicate_one_side_without_partner_errors(spark):
    """Prometheus raises while building its rightSigs map, BEFORE matching —
    a duplicate 'one'-side match group errors even when it has no partner on
    the other side (the guard lives on the pre-join rows)."""
    rows = (counter("req", {"pod": "p1"}, 0, 10 * S, [10]) +
            [({"__name__": "info", "pod": "p2", "v": "1"}, 0, 1.0),
             ({"__name__": "info", "pod": "p2", "v": "2"}, 0, 2.0)])
    eng = eng_for(spark, rows)
    with pytest.raises(Exception, match="duplicate series"):
        eng.query_instant("req * on(pod) group_left info", 5 * S).df.collect()


def test_count_values_fixed_notation(spark):
    """count_values label formatting follows Go FormatFloat('f', -1, 64):
    fixed notation (never scientific), shortest-roundtrip digits, integral
    without fraction, -0.0 as '-0'."""
    vals = [3.0, 0.5, 1e-7, 123456789.25, 1e20, -0.0, float("inf"), 0.00015]
    rows = [({"__name__": "cv", "i": str(i)}, 0, v)
            for i, v in enumerate(vals)]
    eng = eng_for(spark, rows)
    r = vec(eng.query_instant('count_values("v", cv)', 5 * S))
    got = {dict(k)["v"] for k in r}
    assert got == {"3", "0.5", "0.0000001", "123456789.25",
                   "100000000000000000000", "-0", "+Inf", "0.00015"}
    assert all(v == 1.0 for v in r.values())


def test_set_ops(spark):
    eng = eng_for(spark, BASIC)
    r = vec(eng.query_instant("m and n", 40 * S))
    assert r == {frozenset({("__name__", "m"), ("job", "a")}): 5.0}
    r = vec(eng.query_instant("m unless n", 40 * S))
    assert r == {frozenset({("__name__", "m"), ("job", "b")}): 50.0}
    # or-matching ignores __name__: n{job="a"}'s label set {job=a} already
    # exists in lhs → excluded (upstream set-op matching semantics)
    r = vec(eng.query_instant("m or n", 40 * S))
    assert len(r) == 2
    r = vec(eng.query_instant('m or on(nope) n', 40 * S))
    assert len(r) == 2  # all match-sigs equal on absent label


def test_rate_extrapolation_exact(spark):
    """counter 0,10,20,30,40 @0..40s, rate[50s] at t=50s → exactly 1.0
    (delta 40 over sampled 40s, extrapolated by 10s at the end: 50/40 factor,
    divided by 50s range)."""
    rows = counter("c", {"job": "x"}, 0, 10 * S, [0, 10, 20, 30, 40])
    eng = eng_for(spark, rows)
    r = vec(eng.query_instant("rate(c[50s])", 50 * S))
    assert r == {frozenset({("job", "x")}): 1.0}
    r = vec(eng.query_instant("increase(c[50s])", 50 * S))
    assert r == {frozenset({("job", "x")}): 50.0}


def test_rate_clamp_order_matches_prometheus(spark):
    """Prometheus clamps durationToStart to avgDur/2 BEFORE comparing against
    durationToZero.  Counter 1..11 at 50..60s, rate[60s] at t=60s: raw
    durStart=50s >= threshold(1.1s) → clamped to avgDur/2=0.5s; durToZero =
    10*(1/10) = 1.0s is NOT < 0.5s, so it must not re-raise the clamp.
    increase = 10 * (10 + 0.5 + 0) / 10 = 10.5 (clamp-after ordering would
    give 11.0)."""
    rows = counter("c", {"job": "x"}, 50 * S, S, list(range(1, 12)))
    eng = eng_for(spark, rows)
    r = vec(eng.query_instant("increase(c[60s])", 60 * S))
    assert r[frozenset({("job", "x")})] == pytest.approx(10.5, rel=1e-12)


def test_rate_counter_reset(spark):
    rows = counter("c", {"job": "x"}, 0, 10 * S, [0, 10, 5, 15])
    eng = eng_for(spark, rows)
    # window (t-40s, t] at t=30 holds all 4 samples (left-open windows, as in
    # modern Prometheus): delta = 15 - 0 + reset-correction(10) = 25;
    # counter duration-to-zero = sampled*(first_v/delta) = 0 → no start
    # extrapolation; durEnd = 0 → factor 1 → exactly 25.
    r = vec(eng.query_instant("increase(c[40s])", 30 * S))
    assert r == {frozenset({("job", "x")}): 25.0}


def test_delta_and_idelta(spark):
    rows = counter("g", {"job": "x"}, 0, 10 * S, [100, 90, 70])
    eng = eng_for(spark, rows)
    # window (-10s, 20s]: delta = -30 over sampled 20s; durStart 10s < 1.1*avg
    # → extrapolate by full 10s; durEnd 0 → factor 30/20 → -45.
    r = vec(eng.query_instant("delta(g[30s])", 20 * S))
    assert r == {frozenset({("job", "x")}): -45.0}
    # idelta: last two samples only
    r = vec(eng.query_instant("idelta(g[20s])", 20 * S))
    assert r == {frozenset({("job", "x")}): -20.0}


def test_over_time_family(spark):
    rows = counter("m", {"j": "a"}, 0, 10 * S, [1, 2, 3, 4])
    eng = eng_for(spark, rows)
    t = 30 * S
    assert vec(eng.query_instant("sum_over_time(m[40s])", t)) == {
        frozenset({("j", "a")}): 10.0}
    assert vec(eng.query_instant("avg_over_time(m[40s])", t)) == {
        frozenset({("j", "a")}): 2.5}
    assert vec(eng.query_instant("count_over_time(m[40s])", t)) == {
        frozenset({("j", "a")}): 4.0}
    assert vec(eng.query_instant("min_over_time(m[40s])", t)) == {
        frozenset({("j", "a")}): 1.0}
    assert vec(eng.query_instant("max_over_time(m[40s])", t)) == {
        frozenset({("j", "a")}): 4.0}
    # last_over_time keeps the metric name
    assert vec(eng.query_instant("last_over_time(m[40s])", t)) == {
        frozenset({("__name__", "m"), ("j", "a")}): 4.0}
    assert vec(eng.query_instant("stdvar_over_time(m[40s])", t)) == {
        frozenset({("j", "a")}): 1.25}


def test_quantile_interpolation(spark):
    rows = [({"__name__": "q", "i": str(i)}, 0, float(v))
            for i, v in enumerate([1, 2, 3, 4])]
    eng = eng_for(spark, rows)
    r = vec(eng.query_instant("quantile(0.5, q)", 0))
    assert r == {frozenset(): 2.5}
    r = vec(eng.query_instant("quantile(0.25, q)", 0))
    assert r == {frozenset(): 1.75}


def test_topk_bottomk(spark):
    eng = eng_for(spark, BASIC)
    r = vec(eng.query_instant("topk(1, m)", 40 * S))
    assert r == {frozenset({("__name__", "m"), ("job", "b")}): 50.0}
    r = vec(eng.query_instant("bottomk(1, m)", 40 * S))
    assert r == {frozenset({("__name__", "m"), ("job", "a")}): 5.0}


def test_histogram_quantile(spark):
    rows = [({"__name__": "h_bucket", "le": "1"}, 0, 10.0),
            ({"__name__": "h_bucket", "le": "2"}, 0, 30.0),
            ({"__name__": "h_bucket", "le": "+Inf"}, 0, 30.0)]
    eng = eng_for(spark, rows)
    r = vec(eng.query_instant("histogram_quantile(0.5, h_bucket)", 0))
    # rank = 15 → bucket (1,2]: 1 + 1*(15-10)/(30-10) = 1.25
    assert r == {frozenset(): 1.25}
    # rank in +Inf bucket → highest finite le
    r = vec(eng.query_instant("histogram_quantile(1, h_bucket)", 0))
    assert r == {frozenset(): 2.0}


def test_nan_semantics(spark):
    rows = [({"__name__": "d", "g": "1"}, 0, float("nan")),
            ({"__name__": "d", "g": "2"}, 0, 2.0),
            ({"__name__": "d", "g": "3"}, 0, 8.0)]
    eng = eng_for(spark, rows)
    # comparisons with NaN are false → NaN row filtered out
    r = vec(eng.query_instant("d > 0", 0))
    assert set(r.values()) == {2.0, 8.0}
    # sum propagates NaN
    r = vec(eng.query_instant("sum(d)", 0))
    assert math.isnan(r[frozenset()])
    # min/max skip NaN
    assert vec(eng.query_instant("min(d)", 0)) == {frozenset(): 2.0}
    assert vec(eng.query_instant("max(d)", 0)) == {frozenset(): 8.0}


def test_division_by_zero_is_inf(spark):
    rows = [({"__name__": "z", "g": "1"}, 0, 0.0),
            ({"__name__": "p", "g": "1"}, 0, 5.0)]
    eng = eng_for(spark, rows)
    r = vec(eng.query_instant("p / on(g) z", 0))
    assert r[frozenset({("g", "1")})] == float("inf")


def test_offset_and_at(spark):
    rows = counter("m", {"j": "a"}, 0, 10 * S, [1, 2, 3, 4, 5])
    eng = eng_for(spark, rows)
    assert vec(eng.query_instant("m offset 20s", 40 * S)) == {
        frozenset({("__name__", "m"), ("j", "a")}): 3.0}
    assert vec(eng.query_instant("m @ 20", 40 * S)) == {
        frozenset({("__name__", "m"), ("j", "a")}): 3.0}


def test_range_query_step_grid(spark):
    rows = counter("m", {"j": "a"}, 0, 10 * S, [1, 2, 3, 4, 5])
    eng = eng_for(spark, rows)
    r = eng.query_range("m", 0, 40 * S, 20 * S)
    got = {row["t"]: row["value"] for row in r.df.collect()}
    assert got == {0: 1.0, 20 * S: 3.0, 40 * S: 5.0}


def test_subquery_max_over_time(spark):
    rows = counter("m", {"j": "a"}, 0, 10 * S, [1, 5, 2, 4, 3])
    eng = eng_for(spark, rows, lookback_ms=300_000)
    r = vec(eng.query_instant("max_over_time(m[40s:10s])", 40 * S))
    assert r == {frozenset({("j", "a")}): 5.0}


def test_subquery_annotations_surface(spark):
    """What a subquery's body raises surfaces like the body alone: a
    static warning and a data-dependent probe."""
    rows = (counter("m", {"j": "a"}, 0, 10 * S, [1, 5, 2, 4, 3])
            + [({"__name__": "m", "j": "h"}, 30 * S,
                {"hist": (1, 1.0, [(1.0, 1)])})])
    eng = eng_for(spark, rows)
    warn = ("warn", "quantile value should be between 0 and 1, got 2")
    assert warn in eng.query_instant("quantile(2, m)", 40 * S) \
        .all_annotations()
    res = eng.query_instant("max_over_time(quantile(2, m)[40s:10s])", 40 * S)
    assert warn in res.all_annotations()
    info = ("info", "ignored histogram in max aggregation")
    res = eng.query_instant("max_over_time(max(m)[40s:10s])", 40 * S)
    assert info in res.all_annotations()


def test_math_functions(spark):
    rows = [({"__name__": "v", "g": "1"}, 0, -4.0)]
    eng = eng_for(spark, rows)
    assert vec(eng.query_instant("abs(v)", 0)) == {frozenset({("g", "1")}): 4.0}
    assert vec(eng.query_instant("sgn(v)", 0)) == {frozenset({("g", "1")}): -1.0}
    assert vec(eng.query_instant("clamp(v, -1, 1)", 0)) == {
        frozenset({("g", "1")}): -1.0}
    assert vec(eng.query_instant("sqrt(abs(v))", 0)) == {
        frozenset({("g", "1")}): 2.0}


def test_label_replace_and_join(spark):
    rows = [({"__name__": "m", "src": "abc"}, 0, 1.0)]
    eng = eng_for(spark, rows)
    r = vec(eng.query_instant(
        'label_replace(m, "dst", "x-$1", "src", "a(b)c")', 0))
    assert r == {frozenset({("__name__", "m"), ("src", "abc"),
                            ("dst", "x-b")}): 1.0}
    r = vec(eng.query_instant('label_join(m, "j", "-", "src", "src")', 0))
    assert r == {frozenset({("__name__", "m"), ("src", "abc"),
                            ("j", "abc-abc")}): 1.0}


def test_absent_and_vector_scalar_time(spark):
    eng = eng_for(spark, BASIC)
    assert vec(eng.query_instant('absent(zzz{a="b"})', 0)) == {
        frozenset({("a", "b")}): 1.0}
    assert vec(eng.query_instant("vector(3)", 0)) == {frozenset(): 3.0}
    r = eng.query_instant("scalar(sum(m))", 40 * S)
    assert r.result_type == "scalar"
    assert r.df.collect()[0]["value"] == 55.0
    r = eng.query_instant("time()", 60 * S)
    assert r.df.collect()[0]["value"] == 60.0


def test_changes_resets_deriv(spark):
    rows = counter("c", {"j": "a"}, 0, 10 * S, [0, 10, 5, 5, 20])
    eng = eng_for(spark, rows)
    t = 40 * S
    assert vec(eng.query_instant("resets(c[50s])", t)) == {
        frozenset({("j", "a")}): 1.0}
    assert vec(eng.query_instant("changes(c[50s])", t)) == {
        frozenset({("j", "a")}): 3.0}
    # deriv of a perfect line = slope
    lin = counter("l", {"j": "a"}, 0, 10 * S, [0, 5, 10, 15, 20])
    eng2 = eng_for(spark, lin)
    r = vec(eng2.query_instant("deriv(l[50s])", t))
    assert abs(r[frozenset({("j", "a")})] - 0.5) < 1e-12


def test_replica_dedup(spark):
    """External/replica label semantics (db/db_test.go:118-312)."""
    rows = [({"__name__": "m", "job": "a", "replica": "r1"}, 0, 5.0),
            ({"__name__": "m", "job": "a", "replica": "r2"}, 0, 5.0)]
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    eng = PromQLEngine(make_samples(spark, rows), lookback_ms=300_000,
                       deterministic=True, replica_labels=["replica"])
    r = vec(eng.query_instant("m", 0))
    assert r == {frozenset({("__name__", "m"), ("job", "a")}): 5.0}


def test_replica_dedup_disagreeing_replicas(spark):
    """Replicas disagreeing at the same ts: winner replica (lowest key) wins
    — never a value blend (reference db/shard.go:252-268 keeps one series)."""
    rows = [({"__name__": "m", "job": "a", "replica": "r1"}, 0, 3.0),
            ({"__name__": "m", "job": "a", "replica": "r2"}, 0, 9.0),
            # r2-only timestamp still contributes (penalty-dedup fill-in)
            ({"__name__": "m", "job": "a", "replica": "r2"}, 1000, 7.0)]
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    eng = PromQLEngine(make_samples(spark, rows), lookback_ms=300_000,
                       deterministic=True, replica_labels=["replica"])
    assert vec(eng.query_instant("m", 0)) == {
        frozenset({("__name__", "m"), ("job", "a")}): 3.0}
    assert vec(eng.query_instant("m", 1000)) == {
        frozenset({("__name__", "m"), ("job", "a")}): 7.0}


def test_replica_dedup_preserves_histograms(spark):
    """Native-histogram samples must survive replica dedup (the hist column
    rides through the winner-row pick)."""
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    inf = float("inf")
    rows = [
        ({"__name__": "h", "job": "a", "replica": "r1"}, 0, 4, 10.0,
         [(1, 2), (inf, 2)]),
        ({"__name__": "h", "job": "a", "replica": "r2"}, 0, 6, 12.0,
         [(1, 3), (inf, 3)]),
    ]
    eng = PromQLEngine(_hist_samples(spark, rows), lookback_ms=300_000,
                       deterministic=True, replica_labels=["replica"])
    r = vec(eng.query_instant("histogram_count(h)", 0))
    assert r == {frozenset({("job", "a")}): 4.0}  # r1 wins, not blended


def test_external_labels_decoration_and_elision(spark):
    """External-label overlay + matcher consumption (A17;
    search/search.go:356-376)."""
    rows = [({"__name__": "m", "job": "a"}, 0, 5.0)]
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    eng = PromQLEngine(make_samples(spark, rows), lookback_ms=300_000,
                       deterministic=True, ext_labels={"prom": "p1"})
    r = vec(eng.query_instant('m{prom="p1"}', 0))
    assert r == {frozenset({("__name__", "m"), ("job", "a"), ("prom", "p1")}): 5.0}
    assert vec(eng.query_instant('m{prom="other"}', 0)) == {}


def test_staleness_markers(spark):
    """A NULL-valued marker (long-format staleNaN) suppresses the series from
    instant lookback when latest, and never enters range windows
    (SURVEY §4.2 #5)."""
    rows = [
        ({"__name__": "m", "job": "a"}, 0, 1.0),
        ({"__name__": "m", "job": "a"}, 10 * S, 2.0),
        ({"__name__": "m", "job": "a"}, 20 * S, None),   # stale at 20s
        ({"__name__": "m", "job": "b"}, 0, 9.0),
    ]
    eng = eng_for(spark, rows)
    # at t=15s: job=a alive (latest = 2.0)
    r = vec(eng.query_instant("m", 15 * S))
    assert r[frozenset({("__name__", "m"), ("job", "a")})] == 2.0
    # at t=25s: job=a stale (marker is latest); job=b still alive
    r = vec(eng.query_instant("m", 25 * S))
    assert frozenset({("__name__", "m"), ("job", "a")}) not in r
    assert r[frozenset({("__name__", "m"), ("job", "b")})] == 9.0
    # range window skips markers: count_over_time sees 2 samples, not 3
    r = vec(eng.query_instant("count_over_time(m{job=\"a\"}[1m])", 25 * S))
    assert r[frozenset({("job", "a")})] == 2.0
    # a real sample after the marker revives the series
    rows.append(({"__name__": "m", "job": "a"}, 30 * S, 5.0))
    r = vec(eng_for(spark, rows).query_instant("m", 35 * S))
    assert r[frozenset({("__name__", "m"), ("job", "a")})] == 5.0


def test_double_exponential_smoothing(spark):
    """Level/trend recurrence, hand-computed (s0=v0, b0=v1-v0)."""
    rows = counter("m", {"job": "a"}, 0, 10 * S, [147.42, 55.56, 12.58, 33.05])
    eng = eng_for(spark, rows, lookback_ms=60_000)
    r = vec(eng.query_instant(
        "double_exponential_smoothing(m[1m], 0.5, 0.3)", 40 * S))
    got = r[frozenset({("job", "a")})]
    s, b = 147.42, 55.56 - 147.42
    for v in (55.56, 12.58, 33.05):
        s_new = 0.5 * v + 0.5 * (s + b)
        b = 0.3 * (s_new - s) + 0.7 * b
        s = s_new
    assert got == pytest.approx(s, abs=0, rel=0)  # exact


def _hist_samples(spark, rows):
    """rows: (labels, ts, count, sum, buckets[(le, count)])"""
    from pyspark.sql import types as T
    from thanos_parquet_gateway_spark.promql.histograms import HIST_TYPE
    schema = T.StructType([
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("hist", HIST_TYPE, True),
    ])
    data = [(labels, ts, float("nan"), (float(c), float(s),
             [(float(le), float(bc)) for le, bc in bks], None))
            for labels, ts, c, s, bks in rows]
    return spark.createDataFrame(data, schema)


def test_native_histograms(spark):
    """Native-histogram samples: count/sum/avg/quantile/fraction + sum-merge
    (reference float-histogram coverage db/db_test.go:344-351)."""
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    inf = float("inf")
    rows = [
        ({"__name__": "h", "job": "a"}, 0, 4, 10.0, [(1, 2), (2, 1), (inf, 1)]),
        ({"__name__": "h", "job": "b"}, 0, 2, 6.0, [(1, 1), (inf, 1)]),
    ]
    eng = PromQLEngine(_hist_samples(spark, rows), lookback_ms=300_000,
                       deterministic=True)
    r = vec(eng.query_instant("histogram_count(h)", 0))
    assert r[frozenset({("job", "a")})] == 4.0
    assert r[frozenset({("job", "b")})] == 2.0
    r = vec(eng.query_instant("histogram_sum(h)", 0))
    assert r[frozenset({("job", "a")})] == 10.0
    r = vec(eng.query_instant("histogram_avg(h)", 0))
    assert r[frozenset({("job", "a")})] == 2.5
    # quantile: rank=0.5*4=2 → first bucket [0,1], interp 0+1*2/2 = 1.0
    r = vec(eng.query_instant("histogram_quantile(0.5, h)", 0))
    assert r[frozenset({("job", "a")})] == 1.0
    # fraction of [0,2]: cumulative at 2 = 3 of 4
    r = vec(eng.query_instant("histogram_fraction(0, 2, h)", 0))
    assert r[frozenset({("job", "a")})] == 0.75
    # sum-merge: bucket union le-aligned, totals add
    res = eng.query_instant("sum(h)", 0)
    row = res.df.collect()[0]
    assert row["hist"]["count"] == 6.0 and row["hist"]["sum"] == 16.0
    assert [(b["le"], b["count"]) for b in row["hist"]["buckets"]] == \
        [(1.0, 3.0), (2.0, 1.0), (inf, 2.0)]
    # quantile over the merged histogram
    r = vec(eng.query_instant("histogram_quantile(0.5, sum(h))", 0))
    assert r[frozenset()] == 1.0


def test_native_histogram_rate(spark):
    """rate/increase/delta, irate/idelta and resets/changes over
    native-histogram samples: bucket-wise delta + boundary extrapolation
    (reference float-histogram rate served through promql-engine,
    db/db_test.go:344-351).  No counter-to-zero clamp for histograms
    (Prometheus gates that on float samples).  Every literal holds in
    both engines: the histogram windows run one body in both modes."""
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    inf = float("inf")

    def engines(df):
        return [PromQLEngine(df, lookback_ms=300_000, deterministic=d)
                for d in (True, False)]

    def one_hist(eng, q, t):
        r = [x for x in eng.query_instant(q, t).df.collect()
             if x["hist"] is not None]
        assert len(r) == 1, (q, eng.deterministic)
        return r[0]["hist"]

    def scalars(eng, q, t):
        return {frozenset(dict(x["labels"]).items()): x["value"]
                for x in eng.query_instant(q, t).df.collect()}

    # cumulative counter histogram every 10s: count 2,4,6,8; sum 2x;
    # buckets grow monotonically
    rows = [({"__name__": "h", "job": "a"}, i * 10 * S, 2 * (i + 1),
             4.0 * (i + 1), [(1, i + 1), (inf, i + 1)])
            for i in range(4)]
    for eng in engines(_hist_samples(spark, rows)):
        # window (0, 40] at t=40: samples at ts 10,20,30 (ts=0 excluded)
        # with counts 4,6,8.  delta: count 8-4=4, sum 16-8=8, bucket le=1:
        # 4-2=2.  extrapolation: sampled=20s n=3 avg=10 thresh=11;
        # durStart=10<11 keep; durEnd=10<11 keep; extrap=40 → factor=2;
        # rate = delta*2/40
        r = eng.query_instant("rate(h[40s])", 40 * S).df.collect()
        assert len(r) == 1
        h = r[0]["hist"]
        assert h["count"] == pytest.approx(4 * 2 / 40)
        assert h["sum"] == pytest.approx(8 * 2 / 40)
        assert dict((b["le"], b["count"]) for b in h["buckets"])[1.0] == \
            pytest.approx(2 * 2 / 40)
        # increase = rate * range_s
        r = eng.query_instant("increase(h[40s])", 40 * S).df.collect()
        assert r[0]["hist"]["count"] == pytest.approx(4 * 2)
    # counter reset mid-window: sample 3 drops below sample 2 → correction
    # adds the pre-reset histogram (count 6, le1 bucket 3)
    rows_reset = [
        ({"__name__": "h", "job": "a"}, 10 * S, 2, 4.0, [(1, 1), (inf, 1)]),
        ({"__name__": "h", "job": "a"}, 20 * S, 6, 12.0, [(1, 3), (inf, 3)]),
        ({"__name__": "h", "job": "a"}, 30 * S, 1, 2.0, [(1, 1), (inf, 0)]),
        ({"__name__": "h", "job": "a"}, 40 * S, 3, 6.0, [(1, 2), (inf, 1)]),
    ]
    for eng in engines(_hist_samples(spark, rows_reset)):
        h = one_hist(eng, "increase(h[40s])", 40 * S)
        # samples at 10..40, counts 2,6,1,3: delta = (3-2) + 6 (pre-reset)
        # = 7; sampled=30 n=4 avg=10 thresh=11; durStart=10<11; durEnd=0;
        # extrap=40 → factor=4/3.  Buckets: le=1 (2-1)+3 = 4, le=+Inf
        # (1-1)+3 = 3
        assert h["count"] == pytest.approx(7 * 4 / 3)
        assert h["sum"] == pytest.approx((6 - 4 + 12) * 4 / 3)
        assert [(b["le"], b["count"]) for b in h["buckets"]] == \
            [(1.0, pytest.approx(4 * 4 / 3)), (inf, pytest.approx(3 * 4 / 3))]
        # gauge delta: no reset correction → (3-2)*4/3
        h = one_hist(eng, "delta(h[40s])", 40 * S)
        assert h["count"] == pytest.approx(1 * 4 / 3)
        # resets: only the 6 → 1 pair drops (1 → 3 grows in every bucket);
        # changes: every one of the three pairs differs
        assert scalars(eng, "resets(h[40s])", 40 * S) == \
            {frozenset({("job", "a")}): 1.0}
        assert scalars(eng, "changes(h[40s])", 40 * S) == \
            {frozenset({("job", "a")}): 3.0}
        # irate across the reset: the last pair 6 → 1 resets, so the last
        # histogram stands alone over the 10s pair interval
        h = one_hist(eng, "irate(h[20s])", 30 * S)
        assert h["count"] == pytest.approx(1 / 10)
        assert h["sum"] == pytest.approx(2 / 10)
        assert [(b["le"], b["count"]) for b in h["buckets"]] == \
            [(1.0, pytest.approx(1 / 10)), (inf, 0.0)]
        # ... and with no reset in the last pair (1 → 3) it is the
        # bucket-wise difference: (3-1)/10
        h = one_hist(eng, "irate(h[20s])", 40 * S)
        assert h["count"] == pytest.approx(2 / 10)
        assert [(b["le"], b["count"]) for b in h["buckets"]] == \
            [(1.0, pytest.approx(1 / 10)), (inf, pytest.approx(1 / 10))]

    # float → histogram → float (values as in gen_hist_overtime.test): both
    # type switches count for resets AND changes
    flip = make_samples(spark, [
        ({"__name__": "mixed"}, 0, 5.0),
        ({"__name__": "mixed"}, 60 * S,
         {"hist": (12.0, 12.0, [(1.0, 4.0), (2.0, 8.0), (inf, 0.0)], 0)}),
        ({"__name__": "mixed"}, 120 * S, 9.0)])
    for eng in engines(flip):
        assert scalars(eng, "resets(mixed[3m])", 120 * S) == \
            {frozenset(): 2.0}
        assert scalars(eng, "changes(mixed[3m])", 120 * S) == \
            {frozenset(): 2.0}

    # float series through the same plan shape: hist column NULL everywhere
    both = _hist_samples(spark, rows).unionByName(
        spark.createDataFrame(
            [({"__name__": "f", "job": "a"}, i * 10 * S, float(i * 4), None)
             for i in range(4)],
            _hist_samples(spark, rows).schema))
    for eng in engines(both):
        out = eng.query_instant("rate({__name__=~'h|f'}[40s])",
                                40 * S).df.collect()
        assert len(out) == 2  # one float row, one hist row
        floats = [r for r in out if r["hist"] is None]
        hists = [r for r in out if r["hist"] is not None]
        assert len(floats) == 1 and len(hists) == 1
        # float series: values 0,4,8,12 at 0,10,20,30; window (0,40] →
        # 4,8,12 at 10,20,30: delta=8, n=3, sampled=20, avg=10,
        # durStart=10<11, durEnd=40-30=10<11 → extrap = 20+10+10 = 40,
        # factor 2 → rate = 8*2/40 = 0.4
        assert floats[0]["value"] == pytest.approx(0.4)
        # irate over histograms: last two samples, bucket-wise; dt=10s,
        # counts 6->8 -> (8-6)/10 = 0.2
        h = one_hist(eng, "irate(h[40s])", 40 * S)
        assert h["count"] == pytest.approx(0.2)
        # idelta: plain last-prev
        h = one_hist(eng, "idelta(h[40s])", 40 * S)
        assert h["count"] == pytest.approx(2.0)


def test_nan_inf_aggregation_corpus(spark):
    """FIXTURES.md F-corpus 3 (db/db_test.go:413-432): aggregation semantics
    over NaN/±Inf values — sum/avg propagate NaN and Inf-Inf=NaN; min/max
    skip NaN unless the whole group is NaN."""
    inf, nan = float("inf"), float("nan")
    rows = [({"__name__": "data", "test": t, "point": p}, 0, v)
            for t, pts in {
                "ten": [("a", 2.0), ("b", 8.0)],
                "pos_inf": [("a", inf), ("b", 3.0)],
                "inf_inf": [("a", inf), ("b", -inf)],
                "nan": [("a", nan), ("b", 5.0)],
            }.items() for p, v in pts]
    eng = eng_for(spark, rows)

    s = vec(eng.query_instant("sum by (test) (data)", 0))
    assert s[frozenset({("test", "ten")})] == 10.0
    assert s[frozenset({("test", "pos_inf")})] == inf
    assert math.isnan(s[frozenset({("test", "inf_inf")})])
    assert math.isnan(s[frozenset({("test", "nan")})])

    mn = vec(eng.query_instant("min by (test) (data)", 0))
    assert mn[frozenset({("test", "ten")})] == 2.0
    assert mn[frozenset({("test", "pos_inf")})] == 3.0
    assert mn[frozenset({("test", "inf_inf")})] == -inf
    assert mn[frozenset({("test", "nan")})] == 5.0  # NaN skipped

    mx = vec(eng.query_instant("max by (test) (data)", 0))
    assert mx[frozenset({("test", "nan")})] == 5.0
    assert mx[frozenset({("test", "inf_inf")})] == inf

    av = vec(eng.query_instant("avg by (test) (data)", 0))
    assert av[frozenset({("test", "ten")})] == 5.0
    assert math.isnan(av[frozenset({("test", "nan")})])

    # all-NaN group: min/max fall back to NaN
    rows2 = [({"__name__": "m", "g": "x", "p": "a"}, 0, nan),
             ({"__name__": "m", "g": "x", "p": "b"}, 0, nan)]
    r2 = vec(eng_for(spark, rows2).query_instant("min(m)", 0))
    assert math.isnan(r2[frozenset()])


def test_nan_inf_production_mode_agrees(spark):
    """Production mode (native partial aggregation) must agree with the
    deterministic fold mode on the NaN/Inf corpus (same semantics, different
    execution strategy)."""
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    inf, nan = float("inf"), float("nan")
    rows = [({"__name__": "data", "test": t, "point": p}, 0, v)
            for t, pts in {
                "ten": [("a", 2.0), ("b", 8.0)],
                "pos_inf": [("a", inf), ("b", 3.0)],
                "inf_inf": [("a", inf), ("b", -inf)],
                "nan": [("a", nan), ("b", 5.0)],
            }.items() for p, v in pts]
    det = eng_for(spark, rows)
    prod = PromQLEngine(make_samples(spark, rows), lookback_ms=300_000,
                        deterministic=False)
    for q in ("sum by (test) (data)", "min by (test) (data)",
              "max by (test) (data)", "avg by (test) (data)",
              "count by (test) (data)", "stddev by (test) (data)"):
        a = vec(det.query_instant(q, 0))
        b = vec(prod.query_instant(q, 0))
        assert set(a) == set(b), q
        for k in a:
            if math.isnan(a[k]):
                assert math.isnan(b[k]), (q, k)
            else:
                assert a[k] == pytest.approx(b[k], rel=1e-12), (q, k)


def test_exact_aggregations_one_plan_in_both_modes(spark):
    """count/group/min/max are exact, so det mode runs production mode's
    native aggregation: the optimized plans are equal once expression ids
    are masked.  sum reassociates and still folds in det mode only."""
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    samples = make_samples(spark, BASIC)
    det, prod = (PromQLEngine(samples, lookback_ms=300_000,
                              deterministic=d) for d in (True, False))

    def plan(eng, q):
        qe = eng.query_instant(q, 25 * S).df._jdf.queryExecution()
        return re.sub(r"#\d+L?", "#", qe.optimizedPlan().toString())

    for op in ("count", "group", "min", "max"):
        q = f"{op} by (job) (m)"
        assert plan(det, q) == plan(prod, q), q
    assert plan(det, "sum by (job) (m)") != plan(prod, "sum by (job) (m)")


def test_round_to_zero_is_nan_everywhere(spark):
    """round(v, 0): upstream funcRound computes 1/0 = +Inf in Go float math
    and every sample becomes NaN — a valid (if odd) query that must not
    error out (ADVICE r7: Python 1.0/to raised ZeroDivisionError)."""
    eng = eng_for(spark, BASIC)
    r = vec(eng.query_instant("round(m, 0)", 25 * S))
    assert len(r) == 2 and all(math.isnan(v) for v in r.values())
    # sanity: plain round still behaves
    r = vec(eng.query_instant("round(m)", 25 * S))
    assert sorted(r.values()) == [3.0, 30.0]


def test_count_values_denormal_shortest_roundtrip(spark):
    """Go strconv.FormatFloat('f', -1, 64) parity at the floating-point
    extremes: the value label carries SHORTEST-roundtrip digits in fixed
    notation — min denormal prints ...0005 (not Java 17's 49 mantissa),
    max double 17976931348623157 + 292 zeros, min normal the full
    22250738585072014 tail.  Closes the divergence carried since r5."""
    from tests.conftest import make_samples
    from thanos_parquet_gateway_spark.promql import PromQLEngine

    S = 1000
    vals = {"a": 5e-324, "b": 1.7976931348623157e308,
            "c": 2.2250738585072014e-308}
    rows = [({"__name__": "den", "i": k}, 60 * S, v)
            for k, v in vals.items()]
    eng = PromQLEngine(make_samples(spark, rows), lookback_ms=300 * S,
                       deterministic=True)
    res = eng.query_instant('count_values("v", den)', 120 * S)
    want = {"0." + "0" * 323 + "5",
            "17976931348623157" + "0" * 292,
            "0." + "0" * 307 + "22250738585072014"}
    got = {dict(r["labels"])["v"] for r in res.df.collect()}
    assert got == want
    # every label round-trips to its source double
    assert {float(s) for s in got} == set(vals.values())


def _mat(result):
    """range result df → {(t, labels_frozenset): value}"""
    out = {}
    for r in result.df.collect():
        out[(r["t"], frozenset(dict(r["labels"]).items()))] = r["value"]
    return out


def _plan_str(df) -> str:
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _assert_collects_guarded(plan: str, q: str) -> None:
    """Every collect_list in ``plan`` buffers only rows that pass a CASE
    WHEN guard (a window's boundary rows or its reset pairs) — never one
    entry per window sample."""
    args = [m.end() for m in re.finditer(r"collect_list\(", plan)]
    assert args, q
    for i in args:
        assert plan.startswith("CASE WHEN ", i), (q, plan[i:i + 120])
        # a float/histogram kind mask still buffers every sample of a kind
        assert not re.match(r"CASE WHEN isn(ot)?null\(hist#\d+\) THEN ",
                            plan[i:]), (q, plan[i:i + 120])


# Exact range functions over the corpus of the test below, at steps
# t = 0s, 10s, ..., 80s; None = no output sample at that step.  Computed by
# hand from the window (t - range, t] (subquery points: the latest sample
# at each 10s inner step); one native aggregation path serves both modes.
_ = None
_EXACT = {
    "count_over_time(g[30s])": {
        "a": [1, 2, 3, 3, 3, 3, 2, 1, _],
        "inf": [1, 1, 2, 1, 2, 1, 2, 1, 1],
        "nanlead": [1, 2, 3, 2, 1, _, _, _, _],
        "one": [_, _, _, _, 1, 1, 1, _, _],
    },
    # NaN samples are skipped; an all-NaN window is NaN
    "min_over_time(g[30s])": {
        "a": [1.5, 1.5, 1.5, 2, 2, -3.5, -3.5, -3.5, _],
        "inf": [-INF, -INF, -INF, 3, 3, INF, 3, 3, 3],
        "nanlead": [NAN, NAN, 3, 3, 3, _, _, _, _],
        "one": [_, _, _, _, 42, 42, 42, _, _],
    },
    "max_over_time(g[30s])": {
        "a": [1.5, 1.5, 1.5, 2, 2, 2, 2, -3.5, _],
        "inf": [-INF, -INF, 3, 3, INF, INF, INF, 3, 3],
        "nanlead": [NAN, NAN, 3, 3, 3, _, _, _, _],
        "one": [_, _, _, _, 42, 42, 42, _, _],
    },
    "first_over_time(g[30s])": {
        "a": [1.5, 1.5, 1.5, NAN, NAN, 2, 2, -3.5, _],
        "inf": [-INF, -INF, -INF, 3, 3, INF, INF, 3, 3],
        "nanlead": [NAN, NAN, NAN, NAN, 3, _, _, _, _],
        "one": [_, _, _, _, 42, 42, 42, _, _],
    },
    "last_over_time(g[30s])": {
        "a": [1.5, NAN, NAN, 2, 2, -3.5, -3.5, -3.5, _],
        "inf": [-INF, -INF, 3, 3, INF, INF, 3, 3, 3],
        "nanlead": [NAN, NAN, 3, 3, 3, _, _, _, _],
        "one": [_, _, _, _, 42, 42, 42, _, _],
    },
    "present_over_time(g[30s])": {
        "a": [1, 1, 1, 1, 1, 1, 1, 1, _],
        "inf": [1, 1, 1, 1, 1, 1, 1, 1, 1],
        "nanlead": [1, 1, 1, 1, 1, _, _, _, _],
        "one": [_, _, _, _, 1, 1, 1, _, _],
    },
    "ts_of_first_over_time(g[30s])": {
        "a": [0, 0, 0, 10, 20, 30, 40, 50, _],
        "inf": [0, 0, 0, 20, 20, 40, 40, 60, 60],
        "nanlead": [0, 0, 0, 10, 20, _, _, _, _],
        "one": [_, _, _, _, 37, 37, 37, _, _],
    },
    "ts_of_last_over_time(g[30s])": {
        "a": [0, 10, 20, 30, 40, 50, 50, 50, _],
        "inf": [0, 0, 20, 20, 40, 40, 60, 60, 60],
        "nanlead": [0, 10, 20, 20, 20, _, _, _, _],
        "one": [_, _, _, _, 37, 37, 37, _, _],
    },
    # a drop (counter reset) rates the post-reset value alone
    "irate(c[30s])": {
        "a": [_, 5 / 10, 2 / 10, 7 / 10, 3 / 10, 7 / 10, 0, 2 / 10, 2 / 10],
        "b": [_, _, 0, 0, 3 / 15, 2 / 15, 2 / 15, 6 / 15, _],
    },
    "idelta(c[30s])": {
        "a": [_, 5, -3, 7, -6, 7, 0, 2, 2],
        "b": [_, _, 0, 0, 3, -2, -2, 6, _],
    },
    "resets(c[30s])": {
        "a": [0, 0, 1, 1, 1, 1, 0, 0, 0],
        "b": [_, 0, 0, 0, 0, 1, 1, 0, 0],
    },
    # NaN masks: x < NaN and NaN < x never count as resets (Spark alone
    # would order NaN above every double)
    "resets(g[30s])": {
        "a": [0, 0, 0, 0, 0, 1, 1, 0, _],
        "inf": [0, 0, 0, 0, 0, 0, 1, 0, 0],
        "nanlead": [0, 0, 0, 0, 0, _, _, _, _],
        "one": [_, _, _, _, 0, 0, 0, _, _],
    },
    "changes(c[30s])": {
        "a": [0, 1, 2, 2, 2, 2, 1, 1, 1],
        "b": [_, 0, 0, 0, 1, 1, 1, 1, 0],
    },
    # NaN -> number is a change, NaN -> NaN is not; a window's first sample
    # never counts, so a leading NaN scores no phantom change (nanlead at
    # 0s/10s, and at 40s where the in-window 3 follows an out-of-window NaN)
    "changes(g[25s])": {
        "a": [0, 1, 1, 1, 1, 1, 1, 0, _],
        "inf": [0, 0, 1, 0, 1, 0, 1, 0, 0],
        "nanlead": [0, 0, 1, 1, 0, _, _, _, _],
        "one": [_, _, _, _, 0, 0, 0, _, _],
    },
    "irate(c[40s:10s])": {
        "a": [_, 5 / 10, 2 / 10, 7 / 10, 3 / 10, 7 / 10, 0, 2 / 10, 0],
        "b": [_, _, 0, 0, 3 / 10, 2 / 10, 0, 6 / 10, 0],
    },
    "idelta(c[40s:10s])": {
        "a": [_, 5, -3, 7, -6, 7, 0, 2, 0],
        "b": [_, _, 0, 0, 3, -2, 0, 6, 0],
    },
    "resets(c[40s:10s])": {
        "a": [0, 0, 1, 1, 2, 1, 1, 0, 0],
        "b": [_, 0, 0, 0, 0, 1, 1, 1, 0],
    },
    "changes(c[40s:10s])": {
        "a": [0, 1, 2, 3, 3, 3, 2, 2, 1],
        "b": [_, 0, 0, 0, 1, 2, 2, 2, 1],
    },
    # @-anchored windows repeat the (30s, 60s] / (20s, 60s] window at every
    # step; ts_of_* exposes the original timestamps
    "irate(c[30s] @ 60)": {"a": [0] * 9, "b": [2 / 15] * 9},
    "resets(c[40s:10s] @ 60)": {"a": [1] * 9, "b": [1] * 9},
    "ts_of_last_over_time(g[30s] @ 60)": {
        "a": [50] * 9, "inf": [60] * 9, "one": [37] * 9},
}


def _by_job(result):
    """range result df → {job: [value at t = 0s, 10s, ..., 80s]}"""
    out = {}
    for r in result.df.collect():
        vals = out.setdefault(dict(r["labels"])["job"], [None] * 9)
        vals[r["t"] // (10 * S)] = r["value"]
    return out


def _same(a, b) -> bool:
    """exact equality, NaN equal to NaN, None only to None"""
    if a is None or b is None:
        return a is b
    return a == b or (math.isnan(a) and math.isnan(b))


def test_production_native_range_functions_agree(spark):
    """Range functions over a corpus with counter resets, NaN runs, ±Inf,
    off-grid/sparse series and single-sample windows.  The exact families
    (counts, first/last/min/max selections, irate/idelta, resets/changes)
    run one native aggregation path in both modes: both engines must give
    the hand-computed values exactly.  The families whose native form
    reassociates float sums (sum/avg/stddev/stdvar_over_time, the rate
    family's reset correction, deriv/predict_linear) keep an order-stable
    fold in deterministic mode: production must agree with it to 1e-9.
    Production plans must actually BE native (no collect_list fold, no
    SortAggregate), @-anchored windows included."""
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    rows = (
        counter("c", {"job": "a"}, 0, 10 * S, [0, 5, 2, 9, 3, 10, 10, 12]) +
        counter("c", {"job": "b"}, 5 * S, 15 * S, [1, 1, 4, 2, 8]) +
        counter("g", {"job": "a"}, 0, 10 * S, [1.5, NAN, NAN, 2.0, 2.0, -3.5]) +
        counter("g", {"job": "nanlead"}, 0, 10 * S, [NAN, NAN, 3.0]) +
        counter("g", {"job": "inf"}, 0, 20 * S, [-INF, 3.0, INF, 3.0]) +
        [({"__name__": "g", "job": "one"}, 37 * S, 42.0)]
    )
    det = eng_for(spark, rows)
    prod = PromQLEngine(make_samples(spark, rows), lookback_ms=300_000,
                        deterministic=False)

    for q, want in _EXACT.items():
        for eng in (det, prod):
            got = _by_job(eng.query_range(q, 0, 80 * S, 10 * S))
            assert set(got) == set(want), (q, eng.deterministic)
            for job, vals in want.items():
                vals = [None if v is None else float(v) for v in vals]
                assert all(map(_same, got[job], vals)), \
                    (q, eng.deterministic, job, got[job], vals)

    queries = ([f"{fn}(g[30s])" for fn in (
                    "sum_over_time", "avg_over_time", "stddev_over_time",
                    "stdvar_over_time")] +
               ["rate(c[30s])", "increase(c[30s])", "delta(c[30s])",
                "rate(c[30s] offset 10s)",
                # native covar_pop/var_pop regression
                "deriv(c[30s])", "deriv(g[30s])",
                "predict_linear(c[30s], 120)", "predict_linear(g[25s], 60)",
                "deriv(c[40s:10s])",
                # subquery range vectors carry prev too, so the whole rate
                # family is native over subqueries as well
                "rate(c[40s:10s])", "increase(c[40s:10s])",
                "delta(g[40s:10s])", "rate(c[35s:10s] offset 10s)",
                # @-anchored windows carry prev too: native in production
                "sum_over_time(g[30s] @ 60)", "rate(c[30s] @ 60)",
                "rate(c[40s:10s] @ 60)"])
    for q in queries:
        a = _mat(det.query_range(q, 0, 80 * S, 10 * S))
        b = _mat(prod.query_range(q, 0, 80 * S, 10 * S))
        assert set(a) == set(b), q
        for k in a:
            if math.isnan(a[k]):
                assert math.isnan(b[k]), (q, k)
            else:
                assert a[k] == pytest.approx(b[k], rel=1e-9, abs=1e-300), \
                    (q, k, a[k], b[k])

    # the production plans must be native aggregations: no collect_list
    # buffer, no SortAggregate demotion (the optimization this pins)
    for q in ("rate(c[30s])", "count_over_time(g[30s])", "resets(c[30s])",
              "irate(c[30s])", "deriv(c[30s])", "predict_linear(c[30s], 60)",
              # rate over a subquery is native too (prev through the inner
              # grid); the inner selector itself is aggregation-free
              "rate(c[40s:10s])", "irate(c[40s:10s])",
              # @-anchored windows lag before the grid cross join
              "rate(c[30s] @ 60)", "irate(c[30s] @ 60)",
              "resets(c[40s:10s] @ 60)"):
        p = _plan_str(prod.query_range(q, 0, 80 * S, 10 * S).df)
        assert "collect_list" not in p, q
        assert "SortAggregate" not in p, q
    # the deterministic engine runs the exact families natively too, and
    # keeps the order-stable fold where float sums reassociate
    for q in ("irate(c[30s])", "resets(c[30s])", "count_over_time(g[30s])"):
        p = _plan_str(det.query_range(q, 0, 80 * S, 10 * S).df)
        assert "collect_list" not in p, q
    # det rate folds only its reset-correction sum: the collect holds the
    # window's reset pairs, never every sample
    p = _plan_str(det.query_range("rate(c[30s])", 0, 80 * S, 10 * S).df)
    _assert_collects_guarded(p, "rate(c[30s])")


def _hmat(result):
    """range result df → {(t, labels): (value, hist-tuple|None)}"""
    out = {}
    for r in result.df.collect():
        h = r["hist"] if "hist" in r.__fields__ else None
        ht = None
        if h is not None:
            ht = (h["count"], h["sum"],
                  tuple((b["le"], b["count"]) for b in h["buckets"]),
                  h["schema"])
        out[(r["t"], frozenset(dict(r["labels"]).items()))] = \
            (r["value"], ht)
    return out


def test_production_native_histogram_rate_agrees(spark):
    """The histogram-window rate family runs one body in both modes: a
    native aggregation whose buffers hold only each window's first/last
    rows and reset pairs (no per-sample collect).  Differential pin
    between the engines (they differ only in the float reset sum) over a
    corpus with histogram counter resets, bucket-set changes mid-window,
    NULL (custom) and exponential schemas, float series alongside,
    mixed float/histogram windows (dropped) and single-sample windows —
    values, bucket SETS (a mid-window-only le must not appear: it would
    shift histogram_quantile anchors), counts and schema must all agree.
    The _over_time, regression and smoothing functions over the same
    windows agree the same way, and carry their mixed-window annotations
    in production."""
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    nan = float("nan")

    def h(cnt, s, bks, sch=None):
        return {"hist": (cnt, s, bks, sch) if sch is not None
                else (cnt, s, bks)}

    rows = (
        # plain growing counter histogram (custom/NULL schema)
        [({"__name__": "lh", "job": "a"}, i * 10 * S,
          h(4 + 3 * i, 10.5 + 2.25 * i,
            [(1.0, 1 + i), (5.0, 2 + i), (float("inf"), 1 + i)]))
         for i in range(8)] +
        # counter reset at i=3 + a bucket (2.5) that exists only mid-window
        [({"__name__": "lh", "job": "rst"}, i * 10 * S,
          h(*(lambda c: (c, 2.0 * c,
                         ([(1.0, c / 2), (2.5, 1), (float("inf"), c / 2)]
                          if i in (2, 3) else
                          [(1.0, c / 2), (float("inf"), c / 2)])))(
              [4, 8, 12, 2, 6, 10, 14, 18][i])))
         for i in range(8)] +
        # exponential schema 0
        [({"__name__": "lh", "job": "exp"}, i * 10 * S,
          h(2 * i + 2, 3.0 * i + 1.0,
            [(2.0, i + 1), (4.0, i + 1)], sch=0))
         for i in range(6)] +
        # float series under the same metric name
        counter("lh", {"job": "flt"}, 0, 10 * S, [0, 5, 2, 9, 3, 10]) +
        # mixed series: float then histograms (mixed windows drop)
        [({"__name__": "lh", "job": "mix"}, 0, 1.0),
         ({"__name__": "lh", "job": "mix"}, 10 * S, 2.0),
         ({"__name__": "lh", "job": "mix"}, 20 * S, h(3, 4.0, [(1.0, 3)])),
         ({"__name__": "lh", "job": "mix"}, 30 * S, h(5, 6.0, [(1.0, 5)]))] +
        # singleton (never >= 2 samples in any window)
        [({"__name__": "lh", "job": "one"}, 37 * S, h(1, 1.0, [(1.0, 1)]))]
    )
    det = eng_for(spark, rows)
    prod = PromQLEngine(make_samples(spark, rows), lookback_ms=300_000,
                        deterministic=False)

    def agree(q, exact):
        a = _hmat(det.query_range(q, 0, 80 * S, 10 * S))
        b = _hmat(prod.query_range(q, 0, 80 * S, 10 * S))
        assert set(a) == set(b), q
        assert a, q
        for k in a:
            av, ah = a[k]
            bv, bh = b[k]
            if exact:
                assert _same(av, bv) and ah == bh, (q, k, a[k], b[k])
                continue
            if math.isnan(av):
                assert math.isnan(bv), (q, k)
            else:
                assert av == pytest.approx(bv, rel=1e-9, abs=1e-300), (q, k)
            assert (ah is None) == (bh is None), (q, k)
            if ah is not None:
                assert ah[0] == pytest.approx(bh[0], rel=1e-9, abs=1e-12), \
                    (q, k, "count")
                assert ah[1] == pytest.approx(bh[1], rel=1e-9, abs=1e-12), \
                    (q, k, "sum")
                assert ah[3] == bh[3], (q, k, "schema")
                les_a = [x[0] for x in ah[2]]
                les_b = [x[0] for x in bh[2]]
                assert les_a == les_b, (q, k, "bucket set")
                for (le, ca), (_, cb) in zip(ah[2], bh[2]):
                    assert ca == pytest.approx(cb, rel=1e-9, abs=1e-12), \
                        (q, k, le)

    for q in ["rate(lh[30s])", "increase(lh[30s])", "delta(lh[30s])",
              "rate(lh[25s] offset 10s)", "rate(lh[30s] @ 60)",
              # subquery range vectors carry lagged hist + led ts too
              "rate(lh[40s:10s])", "increase(lh[35s:10s])"]:
        agree(q, exact=False)
    # the _over_time/regression families over the same windows: exact
    # selections and counts agree exactly, float sums and folds to 1e-9
    for fn in ("count", "min", "max", "last", "first", "ts_of_last"):
        agree(f"{fn}_over_time(lh[30s])", exact=True)
    for q in [f"{fn}_over_time(lh[30s])" for fn in (
                  "sum", "avg", "stddev", "stdvar", "mad", "ts_of_max")] + [
              "quantile_over_time(0.5, lh[30s])", "deriv(lh[30s])",
              "predict_linear(lh[30s], 60)",
              "double_exponential_smoothing(lh[30s], 0.5, 0.5)"]:
        agree(q, exact=False)
    # the mix series' windows at 30s hold floats and histograms: the
    # histogram-ignoring families note it, sum/avg drop it with a warning
    info = ("info", "ignored histograms in a range containing both floats "
                    "and histograms for metric name \"lh\"")
    warn = ("warn", "encountered a mix of histograms and floats for "
                    "metric name \"lh\"")
    for q, ann in (("min_over_time(lh[30s])", info),
                   ("deriv(lh[30s])", info),
                   ("sum_over_time(lh[30s])", warn),
                   ("avg_over_time(lh[30s])", warn)):
        got = prod.query_range(q, 0, 80 * S, 10 * S).all_annotations()
        assert ann in got, (q, got)
    # histogram-ignoring families aggregate natively in production; last/
    # first buffer only the window's flagged last/first row in both modes
    for q in ("min_over_time(lh[30s])", "deriv(lh[30s])"):
        p = _plan_str(prod.query_range(q, 0, 80 * S, 10 * S).df)
        assert "collect_list" not in p, q
        assert "SortAggregate" not in p, q
    for eng in (det, prod):
        p = _plan_str(eng.query_range("last_over_time(lh[30s])", 0, 80 * S,
                                      10 * S).df)
        _assert_collects_guarded(p, "last_over_time(lh[30s])")

    # plan pins: histogram windows buffer only their first/last rows and
    # reset pairs (≤ 2 + resets entries per window) in both engines;
    # resets/changes collect nothing; no SortAggregate demotion
    for eng in (det, prod):
        for q in ("rate(lh[30s])", "irate(lh[30s])"):
            p = _plan_str(eng.query_range(q, 0, 80 * S, 10 * S).df)
            _assert_collects_guarded(p, q)
            assert "SortAggregate" not in p, q
        p = _plan_str(eng.query_range("resets(lh[30s])", 0, 80 * S,
                                      10 * S).df)
        assert "collect_list" not in p
        assert "SortAggregate" not in p
