"""Differential fuzz for native-histogram functions: random explicit-bound
histograms evaluated by the engine (Spark array algebra, histograms.py) vs
an independent Python oracle implementing the same documented semantics
(reference serves these through promql-engine, db/db_test.go:344-351;
bucket math follows Prometheus bucketQuantile / histogram_fraction applied
to the explicit-bound NHCB-style model).

The oracle is plain Python over (count, sum, [(le, c)]) tuples — any bug in
the Spark higher-order-function implementation (indexing, cumulative fold,
interpolation anchors) shows up as a divergence.
"""

from __future__ import annotations

import math
import random

import pytest

# heavy seeded-fuzz/property suite: excluded from the default pytest
# run (see pytest.ini); select with -m ""
pytestmark = pytest.mark.slow

from tests.conftest import make_samples

INF = float("inf")
T0 = 100_000


# ------------------------------------------------------------ Python oracle
def _cumulative(buckets):
    out, run = [], 0.0
    for le, c in buckets:
        run += c
        out.append((le, run))
    return out


def o_quantile(q, count, buckets):
    if math.isnan(q):
        return float("nan")
    if q < 0:
        return -INF
    if q > 1:
        return INF
    cum = _cumulative(buckets)
    b = len(cum)
    if b < 1 or count == 0:
        return float("nan")
    rank = q * count
    idx = next((i for i, (_, c) in enumerate(cum) if c >= rank), None)
    if idx is None:
        return float("nan")
    if idx == b - 1:
        return cum[-2][0] if b >= 2 else float("nan")
    lower = (cum[0][0] if cum[0][0] <= 0 else 0.0) if idx == 0 \
        else cum[idx - 1][0]
    upper = cum[idx][0]
    count_lo = 0.0 if idx == 0 else cum[idx - 1][1]
    count_hi = cum[idx][1]
    if count_hi == count_lo:
        return float("nan")  # Go: 0/0 in the interpolation ratio
    return lower + (upper - lower) * (rank - count_lo) / (count_hi - count_lo)


def o_cum_at(count, buckets, x):
    cum = _cumulative(buckets)
    les = [le for le, _ in cum]
    idx = next((i for i, le in enumerate(les) if le >= x), None)
    if idx is None:
        return count
    if x <= 0.0:
        return 0.0
    lower = 0.0 if idx == 0 else les[idx - 1]
    count_lo = 0.0 if idx == 0 else cum[idx - 1][1]
    upper = les[idx]
    count_hi = cum[idx][1]
    frac = 0.0 if upper == lower else (x - lower) / (upper - lower)
    frac = min(max(frac, 0.0), 1.0)
    return count_lo + (count_hi - count_lo) * frac


def o_fraction(lo, hi, count, buckets):
    if count == 0:
        return float("nan")
    return (o_cum_at(count, buckets, hi) - o_cum_at(count, buckets, lo)) / count


def o_stdvar(count, total, buckets):
    if count == 0:
        return float("nan")
    mean = total / count
    var = 0.0
    les = [le for le, _ in buckets]
    for i, (le, c) in enumerate(buckets):
        lower = (le if le <= 0 else 0.0) if i == 0 else les[i - 1]
        if le <= 0:
            mid = le
        elif le == INF:
            mid = lower
        else:
            mid = (lower + le) / 2
        var += c * (mid - mean) ** 2
    return var / count


# ------------------------------------------------------------ corpus
BOUNDS = [0.25, 0.5, 1.0, 2.0, 4.0, 8.0, 16.0]


def _gen(rng, n):
    hists = {}
    for i in range(n):
        k = rng.randrange(2, 6)
        les = sorted(rng.sample(BOUNDS, k))
        if rng.random() < 0.25:
            les = [rng.choice([-1.0, 0.0])] + les
        counts = [float(rng.choice([0, 0, 1, 2, 5, 9])) for _ in les]
        buckets = list(zip(les, counts))
        buckets.append((INF, float(rng.choice([0, 0, 3]))))
        count = sum(c for _, c in buckets)
        total = round(rng.uniform(-5, 50), 3)
        hists[f"j{i}"] = (count, total, buckets)
    return hists


@pytest.fixture(scope="module")
def nh_corpus(spark):
    rng = random.Random(424242)
    hists = _gen(rng, 30)
    rows = [({"__name__": "hm", "job": job}, T0, {"hist": h})
            for job, h in hists.items()]
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    eng = PromQLEngine(make_samples(spark, rows), lookback_ms=300_000,
                       deterministic=True)
    return eng, hists


def _close(a, b):
    if a is None or b is None:
        return False
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    if math.isinf(a) or math.isinf(b):
        return a == b
    return abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1e-30)


def _collect(eng, promql):
    res = eng.query_instant(promql, T0 + 1000)
    return {dict(r["labels"])["job"]: r["value"] for r in res.df.collect()}


def test_native_histogram_differential(nh_corpus):
    eng, hists = nh_corpus
    rng = random.Random(131313)
    failures = []

    cases = [("histogram_count(hm)", lambda c, s, b: c),
             ("histogram_sum(hm)", lambda c, s, b: s),
             ("histogram_avg(hm)",
              lambda c, s, b: s / c if c else
              (float("nan") if s == 0 or math.isnan(s)
               else math.copysign(INF, s))),
             ("histogram_stdvar(hm)", o_stdvar),
             ("histogram_stddev(hm)",
              lambda c, s, b: math.sqrt(o_stdvar(c, s, b)))]
    for q in (0.0, 0.1, 0.5, 0.9, 0.99, 1.0):
        cases.append((f"histogram_quantile({q}, hm)",
                      lambda c, s, b, q=q: o_quantile(q, c, b)))
    cases.append(("histogram_quantile((0/0), hm)",
                  lambda c, s, b: float("nan")))
    cases.append(("histogram_fraction((0/0), 1, hm)",
                  lambda c, s, b: float("nan")))
    for _ in range(6):
        lo = round(rng.uniform(-1, 8), 2)
        hi = round(lo + rng.uniform(0, 10), 2)
        cases.append((f"histogram_fraction({lo}, {hi}, hm)",
                      lambda c, s, b, lo=lo, hi=hi: o_fraction(lo, hi, c, b)))

    for promql, oracle in cases:
        got = _collect(eng, promql)
        for job, (c, s, b) in hists.items():
            want = oracle(c, s, b)
            g = got.get(job)
            if g is None or not _close(g, want):
                failures.append(f"{promql} {job}: got {g}, want {want} "
                                f"(hist count={c} sum={s} buckets={b})")
    assert not failures, (f"{len(failures)} divergences:\n"
                          + "\n".join(failures[:15]))


# ------------------------------------------- binop oracle (merge/sub/scale)
def o_merge(a, b, sign=1.0):
    ca, sa, ba = a
    cb, sb, bb = b
    les = sorted({le for le, _ in ba} | {le for le, _ in bb})
    da, db = dict(ba), dict(bb)
    buckets = [(le, da.get(le, 0.0) + sign * db.get(le, 0.0)) for le in les]
    return (ca + sign * cb, sa + sign * sb, buckets)


def o_scale(h, s):
    c, t, b = h
    return (c * s, t * s, [(le, cnt * s) for le, cnt in b])


def test_native_histogram_binop_differential(spark):
    """h+h / h-h / h*s / s*h / h/s through the engine vs the Python oracle
    (upstream FloatHistogram Add/Sub/Mul/Div; compiler histogram binop
    path)."""
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    rng = random.Random(777001)
    ha, hb = _gen(rng, 12), _gen(rng, 12)
    rows = ([({"__name__": "ha", "job": j}, T0, {"hist": h})
             for j, h in ha.items()] +
            [({"__name__": "hb", "job": j}, T0, {"hist": h})
             for j, h in hb.items()])
    eng = PromQLEngine(make_samples(spark, rows), lookback_ms=300_000,
                       deterministic=True)
    failures = []
    shapes = [
        ("ha + ignoring(__name__) hb", lambda a, b: o_merge(a, b, 1.0)),
        ("ha - ignoring(__name__) hb", lambda a, b: o_merge(a, b, -1.0)),
        ("ha * 3", lambda a, b: o_scale(a, 3.0)),
        ("2.5 * hb", lambda a, b: o_scale(b, 2.5)),
        ("ha / 4", lambda a, b: o_scale(a, 0.25)),
        ("-ha", lambda a, b: o_scale(a, -1.0)),
    ]
    probes = [("histogram_count(%s)", lambda h: h[0]),
              ("histogram_sum(%s)", lambda h: h[1]),
              ("histogram_quantile(0.5, %s)",
               lambda h: o_quantile(0.5, h[0], h[2]))]
    for shape, combine in shapes:
        for probe, extract in probes:
            if "quantile" in probe and ("-" in shape):
                # subtraction can produce non-monotone negative-count
                # buckets where quantile interpolation is not meaningfully
                # defined either side — count/sum still checked
                continue
            got = _collect(eng, probe % f"({shape})")
            for j in ha:
                want = extract(combine(ha[j], hb[j]))
                g = got.get(j)
                if g is None or not _close(g, want):
                    failures.append(
                        f"{probe % shape} {j}: got {g}, want {want}")
    assert not failures, (f"{len(failures)} divergences:\n"
                          + "\n".join(failures[:15]))


def test_native_histogram_agg_differential(spark):
    """sum/avg/count grouped aggregations over native histograms vs the
    Python merge oracle (upstream aggregations fold FloatHistogram.Add
    bucket-wise; avg scales the merged histogram by 1/n; count emits a
    FLOAT).  Randomized group memberships — the corpus pins fixed cases,
    this pins the fold against arbitrary bucket layouts."""
    import functools

    from thanos_parquet_gateway_spark.promql import PromQLEngine
    rng = random.Random(909009)
    hists = _gen(rng, 18)
    ordered = sorted(hists.items())
    rows = [({"__name__": "hm", "job": j, "g": f"g{i % 3}"}, T0, {"hist": h})
            for i, (j, h) in enumerate(ordered)]
    eng = PromQLEngine(make_samples(spark, rows), lookback_ms=300_000,
                       deterministic=True)
    groups = {}
    for i, (_j, h) in enumerate(ordered):
        groups.setdefault(f"g{i % 3}", []).append(h)

    def collect_g(promql):
        res = eng.query_instant(promql, T0 + 1000)
        return {dict(r["labels"]).get("g"): r["value"]
                for r in res.df.collect()}

    failures = []
    probes = [("histogram_count(%s)", lambda h: h[0]),
              ("histogram_sum(%s)", lambda h: h[1]),
              ("histogram_quantile(0.5, %s)",
               lambda h: o_quantile(0.5, h[0], h[2]))]
    for agg, fold in (
            ("sum by (g) (hm)",
             lambda hs: functools.reduce(o_merge, hs)),
            ("avg by (g) (hm)",
             lambda hs: o_scale(functools.reduce(o_merge, hs),
                                1.0 / len(hs)))):
        for probe, extract in probes:
            got = collect_g(probe % f"({agg})")
            for g, hs in groups.items():
                want = extract(fold(hs))
                gv = got.get(g)
                if gv is None or not _close(gv, want):
                    failures.append(
                        f"{probe % agg} {g}: got {gv}, want {want}")
    got = collect_g("count by (g) (hm)")
    for g, hs in groups.items():
        if not _close(got.get(g), float(len(hs))):
            failures.append(f"count by (g) {g}: got {got.get(g)}, "
                            f"want {len(hs)}")
    assert not failures, (f"{len(failures)} divergences:\n"
                          + "\n".join(failures[:15]))


def test_native_histogram_rate_differential(spark):
    """rate/increase over monotone native-histogram counters vs the
    Python extrapolation oracle (upstream extrapolatedRate: bucket-wise
    delta scaled by the extrapolated-window factor; the zero-clamp
    branch is guarded by len(samples.Floats) > 0 so it does NOT apply
    to histogram samples).  Randomized layouts/spacings — the corpus
    pins fixed reset/boundary cases, this pins the factor arithmetic.
    Both engines answer against the same oracle."""
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    rng = random.Random(515099)
    series = {}
    rows = []
    for i in range(8):
        k = rng.randrange(2, 5)
        les = sorted(rng.sample(BOUNDS, k)) + [INF]
        counts = [float(rng.randrange(0, 4)) for _ in les]
        total = round(rng.uniform(0, 10), 3)
        pts = []
        t0 = rng.choice([0, 30_000])
        for step in range(6):
            ts = t0 + step * 60_000
            pts.append((ts, (sum(counts), total, list(zip(les, counts)))))
            counts = [cc + rng.randrange(0, 5) for cc in counts]
            total = round(total + rng.uniform(0, 8), 3)
        series[f"j{i}"] = pts
        rows += [({"__name__": "hm", "job": f"j{i}"}, ts, {"hist": h})
                 for ts, h in pts]
    samples = make_samples(spark, rows)

    def oracle(pts, t, w_ms, is_rate):
        lo, hi = t - w_ms, t
        win = [(ts, h) for ts, h in pts if lo < ts <= hi]
        if len(win) < 2:
            return None
        (t1, h1), (t2, h2) = win[0], win[-1]
        delta = o_merge(h2, h1, -1.0)
        dur_start = (t1 - lo) / 1000.0
        dur_end = (hi - t2) / 1000.0
        sampled = (t2 - t1) / 1000.0
        avg = sampled / (len(win) - 1)
        if dur_start >= avg * 1.1:
            dur_start = avg / 2
        if dur_end >= avg * 1.1:
            dur_end = avg / 2
        factor = (sampled + dur_start + dur_end) / sampled
        if is_rate:
            factor /= w_ms / 1000.0
        return o_scale(delta, factor)

    failures = []
    T = 310_000
    for det in (True, False):
        eng = PromQLEngine(samples, lookback_ms=300_000, deterministic=det)
        for w_s in (150, 240, 310):
            for fn, is_rate in (("rate", True), ("increase", False)):
                for probe, extract in (
                        ("histogram_count(%s)", lambda h: h[0]),
                        ("histogram_sum(%s)", lambda h: h[1]),
                        ("histogram_quantile(0.7, %s)",
                         lambda h: o_quantile(0.7, h[0], h[2]))):
                    q = probe % f"{fn}(hm[{w_s}s])"
                    res = eng.query_instant(q, T)
                    got = {dict(r["labels"])["job"]: r["value"]
                           for r in res.df.collect()}
                    for j, pts in series.items():
                        want_h = oracle(pts, T, w_s * 1000, is_rate)
                        want = None if want_h is None else extract(want_h)
                        g = got.get(j)
                        tag = f"det={det} {q} {j}"
                        if want is None:
                            if g is not None:
                                failures.append(
                                    f"{tag}: got {g}, want absent")
                        elif g is None or not _close(g, want):
                            failures.append(f"{tag}: got {g}, want {want}")
    assert not failures, (f"{len(failures)} divergences:\n"
                          + "\n".join(failures[:15]))
