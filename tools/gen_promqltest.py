"""Generate promqltest corpus slices (tests/promqltest/gen_*.test).

Expected values are computed by an INDEPENDENT pure-Python simulation of
the public PromQL semantics (upstream promql/functions.go + engine.go
algorithms, re-derived here from the public sources) — NOT by the engine
under test.  A divergence between a generated expectation and the engine
is therefore a real finding for one of the two sides.

Deterministic: re-running overwrites the gen_*.test files byte-for-byte.

Usage: python tools/gen_promqltest.py
"""

from __future__ import annotations

import math
import os

OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "tests", "promqltest")

LOOKBACK_MS = 300_000  # runner default (upstream 5m lookback delta)


# ---------------------------------------------------------------------------
# independent semantics helpers


def fmt(v: float) -> str:
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if v == math.inf:
        return "Inf"
    if v == -math.inf:
        return "-Inf"
    if float(v) == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(float(v))


def series_id(labels: dict[str, str]) -> str:
    name = labels.get("__name__", "")
    rest = ", ".join(f'{k}="{v}"' for k, v in sorted(labels.items())
                     if k != "__name__")
    if name and rest:
        return f"{name}{{{rest}}}"
    if name:
        return name
    return f"{{{rest}}}"


def load_samples(start: float, delta: float, n: int,
                 interval_ms: int = 10_000) -> list[tuple[int, float]]:
    """``start+deltaxN`` notation → [(ts_ms, value)] (N+1 samples)."""
    return [(i * interval_ms, start + i * delta) for i in range(n + 1)]


def instant(samples: list[tuple[int, float]], t: int) -> float | None:
    """Newest sample in [t - lookback, t] (upstream instant selection)."""
    best = None
    for ts, v in samples:
        if t - LOOKBACK_MS <= ts <= t:
            best = v
    return best


def window(samples: list[tuple[int, float]], t: int,
           range_ms: int) -> list[tuple[int, float]]:
    """Range selection (t - range, t] (upstream matrix selection)."""
    return [(ts, v) for ts, v in samples if t - range_ms < ts <= t]


def extrapolated_rate(sams: list[tuple[int, float]], t: int, range_ms: int,
                      is_counter: bool, is_rate: bool) -> float | None:
    """Upstream extrapolatedRate (promql/functions.go, public): linear
    extrapolation to the window bounds, clamped at the average sample
    interval and (for counters) at the zero crossing."""
    if len(sams) < 2:
        return None
    range_start, range_end = t - range_ms, t
    first_t, first_v = sams[0]
    last_t, last_v = sams[-1]
    result = last_v - first_v
    if is_counter:
        prev = first_v
        for _, v in sams:
            if v < prev:
                result += prev
            prev = v
    sampled_interval = (last_t - first_t) / 1000.0
    duration_to_start = (first_t - range_start) / 1000.0
    duration_to_end = (range_end - last_t) / 1000.0
    avg_interval = sampled_interval / (len(sams) - 1)
    threshold = avg_interval * 1.1
    if duration_to_start >= threshold:
        duration_to_start = avg_interval / 2
    if is_counter and result > 0 and first_v >= 0:
        duration_to_zero = sampled_interval * (first_v / result)
        if duration_to_zero < duration_to_start:
            duration_to_start = duration_to_zero
    if duration_to_end >= threshold:
        duration_to_end = avg_interval / 2
    factor = (sampled_interval + duration_to_start + duration_to_end) \
        / sampled_interval
    result *= factor
    if is_rate:
        result /= range_ms / 1000.0
    return result


def linear_regression(sams: list[tuple[int, float]],
                      intercept_ms: int) -> tuple[float, float]:
    """Upstream linearRegression: least squares over x = seconds relative
    to ``intercept_ms``; returns (slope, intercept)."""
    n = float(len(sams))
    sx = sy = sxy = sx2 = 0.0
    const = all(v == sams[0][1] for _, v in sams)
    if const:
        return 0.0, sams[0][1]
    for ts, v in sams:
        x = (ts - intercept_ms) / 1000.0
        sx += x
        sy += v
        sxy += x * v
        sx2 += x * x
    cov = sxy - sx * sy / n
    var = sx2 - sx * sx / n
    slope = cov / var
    return slope, sy / n - slope * sx / n


def quantile(phi: float, vals: list[float]) -> float:
    """Upstream quantile: linear interpolation on the sorted values."""
    if not vals:
        return math.nan
    if phi < 0:
        return -math.inf
    if phi > 1:
        return math.inf
    s = sorted(vals)
    n = len(s)
    rank = phi * (n - 1)
    lo = int(math.floor(rank))
    hi = min(n - 1, lo + 1)
    w = rank - lo
    return s[lo] * (1 - w) + s[hi] * w


def stddev(vals: list[float]) -> float:
    m = sum(vals) / len(vals)
    return math.sqrt(sum((v - m) ** 2 for v in vals) / len(vals))


def mad(vals: list[float]) -> float:
    med = quantile(0.5, vals)
    return quantile(0.5, [abs(v - med) for v in vals])


# Go-math edge conventions (out-of-domain → NaN, poles → ±Inf)
def _ln(v):
    if v < 0:
        return math.nan
    if v == 0:
        return -math.inf
    return math.log(v)


def _safe(f):
    def g(v):
        try:
            return f(v)
        except (ValueError, OverflowError):
            return math.nan
    return g


def _atanh(v):
    if v == 1:
        return math.inf
    if v == -1:
        return -math.inf
    if abs(v) > 1:
        return math.nan
    return math.atanh(v)


MATH_FNS: dict[str, object] = {
    "abs": abs,
    "ceil": math.ceil,
    "floor": math.floor,
    "exp": _safe(math.exp),
    "ln": _ln,
    "log2": lambda v: _ln(v) / math.log(2),
    "log10": lambda v: _ln(v) / math.log(10),
    "sqrt": _safe(math.sqrt),
    "sgn": lambda v: float((v > 0) - (v < 0)),
    "sin": math.sin,
    "cos": math.cos,
    "tan": math.tan,
    "asin": _safe(math.asin),
    "acos": _safe(math.acos),
    "atan": math.atan,
    "sinh": math.sinh,
    "cosh": math.cosh,
    "tanh": math.tanh,
    "asinh": math.asinh,
    "acosh": _safe(math.acosh),
    "atanh": _atanh,
    "deg": math.degrees,
    "rad": math.radians,
}


# ---------------------------------------------------------------------------
# file generators


def gen_functions() -> str:
    values = {
        "neg_big": -2.5, "neg_one": -1.0, "neg_half": -0.5, "zero": 0.0,
        "half": 0.5, "one": 1.0, "two_half": 2.5, "big": 100.75,
    }
    lines = ["# GENERATED by tools/gen_promqltest.py — math function edge",
             "# table; expected values from an independent Python port of",
             "# the public Go math conventions (out-of-domain -> NaN).",
             "", "load 10s"]
    for case, v in values.items():
        lines.append(f"\tm{{case=\"{case}\"}} {fmt(v)}+0x50")
    lines.append("")
    t = "500s"
    for fn, f in MATH_FNS.items():
        lines.append(f"eval instant at {t} {fn}(m)")
        for case, v in values.items():
            lines.append(f"\t{{case=\"{case}\"}} {fmt(f(v))}")
        lines.append("")
    # round with and without to_nearest
    for expr, f in [
        ("round(m)", lambda v: math.floor(v + 0.5)),
        ("round(m, 0.5)", lambda v: math.floor(v * (1.0 / 0.5) + 0.5) / (1.0 / 0.5)),
        ("round(m, 2)", lambda v: math.floor(v * (1.0 / 2.0) + 0.5) / (1.0 / 2.0)),
        ("clamp(m, -1, 1)", lambda v: max(-1.0, min(1.0, v))),
        ("clamp_min(m, 0)", lambda v: max(0.0, v)),
        ("clamp_max(m, 0)", lambda v: min(0.0, v)),
        ("clamp(m, 1, -1)", None),  # min > max -> drop all (empty result)
    ]:
        lines.append(f"eval instant at {t} {expr}")
        if f is not None:
            for case, v in values.items():
                lines.append(f"\t{{case=\"{case}\"}} {fmt(f(v))}")
        lines.append("")
    return "\n".join(lines)


def gen_binops() -> str:
    a_vals = {"p": 4.0, "q": -3.0, "r": 0.0, "s": 7.5}
    b_vals = {"p": 2.0, "q": 6.0, "r": -1.5}  # no "s": tests matching drops
    lines = ["# GENERATED by tools/gen_promqltest.py — binary operator",
             "# matrix over vector/scalar operand shapes.",
             "", "load 10s"]
    for g, v in a_vals.items():
        lines.append(f"\ta{{g=\"{g}\"}} {fmt(v)}+0x50")
    for g, v in b_vals.items():
        lines.append(f"\tb{{g=\"{g}\"}} {fmt(v)}+0x50")
    lines.append("")

    def emit(expr: str, rows: dict[str, float | None], name: str = ""):
        lines.append(f"eval instant at 500s {expr}")
        for g, v in rows.items():
            if v is None:
                continue
            sid = f"{name}{{g=\"{g}\"}}" if name else f"{{g=\"{g}\"}}"
            lines.append(f"\t{sid} {fmt(v)}")
        lines.append("")

    def div(x, y):
        if y == 0:
            return math.nan if x == 0 else math.copysign(math.inf, x)
        return x / y

    def powg(x, y):
        # Go math.Pow: Pow(±0, y<0) is ±Inf (odd-integer y keeps the sign)
        if x == 0 and y < 0:
            if y == int(y) and int(y) % 2 == 1:
                return math.copysign(math.inf, x)
            return math.inf
        try:
            return math.pow(x, y)
        except (ValueError, OverflowError):
            return math.nan

    ARITH = {"+": lambda x, y: x + y, "-": lambda x, y: x - y,
             "*": lambda x, y: x * y, "/": div,
             "%": lambda x, y: math.fmod(x, y) if y != 0 else math.nan,
             "^": powg}
    for op, f in ARITH.items():
        for s in (2.0, -1.5, 0.0):
            # parenthesize negative literals: -1.5 ^ a would otherwise
            # parse as -(1.5 ^ a) (unary minus binds looser than ^)
            lit = f"({fmt(s)})" if s < 0 else fmt(s)
            emit(f"a {op} {lit}", {g: f(v, s) for g, v in a_vals.items()})
            emit(f"{lit} {op} a", {g: f(s, v) for g, v in a_vals.items()})
        emit(f"a {op} on(g) b",
             {g: f(a_vals[g], b_vals[g]) for g in a_vals if g in b_vals})
    CMP = {"==": lambda x, y: x == y, "!=": lambda x, y: x != y,
           ">": lambda x, y: x > y, "<": lambda x, y: x < y,
           ">=": lambda x, y: x >= y, "<=": lambda x, y: x <= y}
    for op, f in CMP.items():
        for s in (2.0, -3.0):
            # filter form keeps the metric name and original value
            emit(f"a {op} {fmt(s)}", {g: (v if f(v, s) else None)
                                      for g, v in a_vals.items()}, name="a")
            emit(f"a {op} bool {fmt(s)}", {g: float(f(v, s))
                                           for g, v in a_vals.items()})
        emit(f"a {op} bool on(g) b",
             {g: float(f(a_vals[g], b_vals[g]))
              for g in a_vals if g in b_vals})
    # set operations: full-labelset matching (different names never match
    # because on() is not given — __name__ differs, so match on g only)
    emit("a and on(g) b", {g: (v if g in b_vals else None)
                           for g, v in a_vals.items()}, name="a")
    emit("a unless on(g) b", {g: (v if g not in b_vals else None)
                              for g, v in a_vals.items()}, name="a")
    return "\n".join(lines)


def gen_agg() -> str:
    rows = ["1", "2", "3", "4"]
    cols = ["a", "b", "c"]
    val = {(r, c): 10.0 * int(r) + (ord(c) - ord("a")) * 3.5
           for r in rows for c in cols}
    lines = ["# GENERATED by tools/gen_promqltest.py — aggregation matrix",
             "# over a 4x3 labeled grid (value = 10*r + 3.5*col_index).",
             "", "load 10s"]
    for (r, c), v in val.items():
        lines.append(f"\tm{{r=\"{r}\", c=\"{c}\"}} {fmt(v)}+0x50")
    lines.append("")

    AGGS = {
        "sum": sum,
        "min": min,
        "max": max,
        "avg": lambda vs: sum(vs) / len(vs),
        "count": lambda vs: float(len(vs)),
        "group": lambda vs: 1.0,
        "stddev": stddev,
        "stdvar": lambda vs: stddev(vs) ** 2,
    }

    def emit(expr: str, groups: dict[tuple, float], keyname: str):
        lines.append(f"eval instant at 500s {expr}")
        for key, v in groups.items():
            lbls = ", ".join(f'{keyname}="{k}"' for k in key) if keyname \
                else ""
            lines.append(f"\t{{{lbls}}} {fmt(v)}")
        lines.append("")

    for op, f in AGGS.items():
        emit(f"{op}(m)", {(): f(list(val.values()))}, "")
        emit(f"{op} by (r) (m)",
             {(r,): f([val[(r, c)] for c in cols]) for r in rows}, "r")
        emit(f"{op} by (c) (m)",
             {(c,): f([val[(r, c)] for r in rows]) for c in cols}, "c")
        emit(f"{op} without (c) (m)",
             {(r,): f([val[(r, c)] for c in cols]) for r in rows}, "r")
    for phi in (0.0, 0.25, 0.5, 0.9, 1.0):
        emit(f"quantile({fmt(phi)}, m)",
             {(): quantile(phi, list(val.values()))}, "")
        emit(f"quantile({fmt(phi)}, m) by (r)" if False else
             f"quantile by (r) ({fmt(phi)}, m)",
             {(r,): quantile(phi, [val[(r, c)] for c in cols])
              for r in rows}, "r")
    # out-of-range phi clamps to ±Inf (with an upstream warning annotation)
    emit("quantile(-0.5, m)", {(): -math.inf}, "")
    emit("quantile(1.5, m)", {(): math.inf}, "")
    # topk/bottomk keep full series identity
    for k in (1, 2, 3, 5):
        lines.append(f"eval instant at 500s topk({k}, m)")
        for (r, c), v in sorted(val.items(), key=lambda kv: -kv[1])[:k]:
            lines.append(f"\tm{{c=\"{c}\", r=\"{r}\"}} {fmt(v)}")
        lines.append("")
        lines.append(f"eval instant at 500s bottomk({k}, m)")
        for (r, c), v in sorted(val.items(), key=lambda kv: kv[1])[:k]:
            lines.append(f"\tm{{c=\"{c}\", r=\"{r}\"}} {fmt(v)}")
        lines.append("")
    return "\n".join(lines)


def gen_overtime() -> str:
    # non-monotone gauge: v(i) = i + 6*sin(i/3) sampled every 10s
    n = 60
    sams = [(i * 10_000, i + 6 * math.sin(i / 3)) for i in range(n + 1)]
    lines = ["# GENERATED by tools/gen_promqltest.py — *_over_time matrix",
             "# over a non-monotone gauge (v = i + 6*sin(i/3), 10s steps).",
             "", "load 10s",
             "\tg " + " ".join(fmt(v) for _, v in sams), ""]
    FNS = {
        "sum_over_time": sum,
        "avg_over_time": lambda vs: sum(vs) / len(vs),
        "min_over_time": min,
        "max_over_time": max,
        "count_over_time": lambda vs: float(len(vs)),
        "last_over_time": lambda vs: vs[-1],
        "stddev_over_time": stddev,
        "stdvar_over_time": lambda vs: stddev(vs) ** 2,
        "present_over_time": lambda vs: 1.0,
        "mad_over_time": mad,
    }
    times = [95_000, 180_000, 300_000, 455_000, 540_000, 600_000]
    windows = [(30_000, "30s"), (90_000, "90s"), (170_000, "170s"),
               (250_000, "250s")]
    for fn, f in FNS.items():
        for t in times:
            for w_ms, w_s in windows:
                vals = [v for _, v in window(sams, t, w_ms)]
                if not vals:
                    continue
                keep_name = fn == "last_over_time"
                sid = "g" if keep_name else "{}"
                lines.append(f"eval instant at {t // 1000}s {fn}(g[{w_s}])")
                lines.append(f"\t{sid} {fmt(f(vals))}")
                lines.append("")
    for phi in (0.1, 0.5, 0.95):
        for t in times[:2]:
            vals = [v for _, v in window(sams, t, 90_000)]
            lines.append(f"eval instant at {t // 1000}s "
                         f"quantile_over_time({fmt(phi)}, g[90s])")
            lines.append(f"\t{{}} {fmt(quantile(phi, vals))}")
            lines.append("")
    # ts_of_* return the sample timestamp in seconds
    for t in times[:2]:
        w = window(sams, t, 90_000)
        mx = max(w, key=lambda sv: (sv[1], sv[0]))
        mn = min(w, key=lambda sv: (sv[1], -sv[0]))
        lines.append(f"eval instant at {t // 1000}s ts_of_max_over_time(g[90s])")
        lines.append(f"\t{{}} {fmt(mx[0] / 1000)}")
        lines.append("")
        lines.append(f"eval instant at {t // 1000}s ts_of_min_over_time(g[90s])")
        lines.append(f"\t{{}} {fmt(mn[0] / 1000)}")
        lines.append("")
        lines.append(f"eval instant at {t // 1000}s ts_of_last_over_time(g[90s])")
        lines.append(f"\t{{}} {fmt(w[-1][0] / 1000)}")
        lines.append("")
        lines.append(f"eval instant at {t // 1000}s "
                     "ts_of_first_over_time(g[90s])")
        lines.append(f"\t{{}} {fmt(w[0][0] / 1000)}")
        lines.append("")
    return "\n".join(lines)


def gen_rate() -> str:
    # counter with two resets: v grows 2/sample, resets at i=25 and i=43
    vals = []
    v = 0.0
    for i in range(61):
        if i in (25, 43):
            v = 1.0
        vals.append(v)
        v += 2.0
    sams = [(i * 10_000, vals[i]) for i in range(61)]
    # plain gauge for delta/deriv: v = 3*i + 10
    gs = [(i * 10_000, 3.0 * i + 10) for i in range(61)]
    lines = ["# GENERATED by tools/gen_promqltest.py — rate-family matrix:",
             "# counter with resets at samples 25 and 43 (2/sample slope),",
             "# linear gauge (3/sample).  Expected values from an",
             "# independent Python port of the public extrapolatedRate /",
             "# linearRegression algorithms.",
             "", "load 10s",
             "\tc " + " ".join(fmt(x) for x in vals),
             "\tg " + " ".join(fmt(v) for _, v in gs), ""]
    times = [100_000, 260_000, 350_000, 440_000, 505_000, 605_000]
    windows = [(50_000, "50s"), (130_000, "130s"), (220_000, "220s"),
               (300_000, "300s")]
    for t in times:
        for w_ms, w_s in windows:
            w = window(sams, t, w_ms)
            if len(w) < 2:
                continue
            ts = t // 1000
            for fn, is_counter, is_rate in [("rate", True, True),
                                            ("increase", True, False),
                                            ("delta", False, False)]:
                src = "c" if is_counter else "g"
                ww = w if is_counter else window(gs, t, w_ms)
                r = extrapolated_rate(ww, t, w_ms, is_counter, is_rate)
                lines.append(f"eval instant at {ts}s {fn}({src}[{w_s}])")
                lines.append(f"\t{{}} {fmt(r)}")
                lines.append("")
            # changes / resets over the counter window
            ch = sum(1 for i in range(1, len(w)) if w[i][1] != w[i - 1][1])
            rs = sum(1 for i in range(1, len(w)) if w[i][1] < w[i - 1][1])
            lines.append(f"eval instant at {ts}s changes(c[{w_s}])")
            lines.append(f"\t{{}} {fmt(float(ch))}")
            lines.append("")
            lines.append(f"eval instant at {ts}s resets(c[{w_s}])")
            lines.append(f"\t{{}} {fmt(float(rs))}")
            lines.append("")
    # irate/idelta from the last two samples
    for t in times:
        w = window(sams, t, 60_000)
        if len(w) < 2:
            continue
        (t1, v1), (t2, v2) = w[-2], w[-1]
        ts = t // 1000
        iv = (v2 if v2 < v1 else v2 - v1) / ((t2 - t1) / 1000)
        lines.append(f"eval instant at {ts}s irate(c[60s])")
        lines.append(f"\t{{}} {fmt(iv)}")
        lines.append("")
        lines.append(f"eval instant at {ts}s idelta(c[60s])")
        lines.append(f"\t{{}} {fmt(v2 - v1)}")
        lines.append("")
    # deriv / predict_linear on the gauge (exact slope 0.3/s)
    for t in times:
        w = window(gs, t, 130_000)
        if len(w) < 2:
            continue
        ts = t // 1000
        slope, intercept = linear_regression(w, t)
        lines.append(f"eval instant at {ts}s deriv(g[130s])")
        lines.append(f"\t{{}} {fmt(slope)}")
        lines.append("")
        for d in (60.0, 600.0):
            lines.append(f"eval instant at {ts}s predict_linear(g[130s], {fmt(d)})")
            lines.append(f"\t{{}} {fmt(slope * d + intercept)}")
            lines.append("")
    # range-query form: rate over the counter at a 60s step grid
    start, end, step = 200_000, 500_000, 60_000
    pts = []
    for t in range(start, end + 1, step):
        w = window(sams, t, 120_000)
        pts.append(extrapolated_rate(w, t, 120_000, True, True)
                   if len(w) >= 2 else None)
    lines.append("eval range from 200s to 500s step 60s rate(c[120s])")
    lines.append("\t{} " + " ".join("_" if p is None else fmt(p)
                                    for p in pts))
    lines.append("")
    pts = []
    for t in range(start, end + 1, step):
        vals_w = [v for _, v in window(gs, t, 120_000)]
        pts.append(sum(vals_w) if vals_w else None)
    lines.append("eval range from 200s to 500s step 60s sum_over_time(g[120s])")
    lines.append("\t{} " + " ".join("_" if p is None else fmt(p)
                                    for p in pts))
    lines.append("")
    return "\n".join(lines)


def bucket_quantile(phi: float, buckets: list[tuple[float, float]]) -> float:
    """Upstream bucketQuantile (classic histograms): ``buckets`` is
    [(le, cumulative_count)] sorted by le, last le = +Inf."""
    if math.isnan(phi):
        return math.nan
    if phi < 0:
        return -math.inf
    if phi > 1:
        return math.inf
    obs = buckets[-1][1]
    if obs == 0:
        return math.nan
    rank = phi * obs
    b = 0
    while buckets[b][1] < rank:
        b += 1
    if buckets[b][0] == math.inf:
        return buckets[-2][0]
    start, count = 0.0, buckets[b][1]
    if b > 0:
        start = buckets[b - 1][0]
        count -= buckets[b - 1][1]
        rank -= buckets[b - 1][1]
    # Go float division: 0/0 = NaN (no exception), rank>0 / 0 = +Inf
    if count == 0:
        frac = math.nan if rank == 0 else math.inf
    else:
        frac = rank / count
    return start + (buckets[b][0] - start) * frac


def gen_hist() -> str:
    les = [0.1, 0.5, 1.0, 5.0, math.inf]
    apps = {
        # cumulative counts per bucket
        "api": [12.0, 40.0, 70.0, 95.0, 100.0],
        "web": [0.0, 5.0, 5.0, 30.0, 42.0],
        "idle": [0.0, 0.0, 0.0, 0.0, 0.0],
    }
    def le_str(le):
        return "+Inf" if le == math.inf else fmt(le)
    lines = ["# GENERATED by tools/gen_promqltest.py — classic",
             "# histogram_quantile over cumulative bucket series; expected",
             "# values from an independent port of the public",
             "# bucketQuantile interpolation.",
             "", "load 10s"]
    for app, counts in apps.items():
        for le, c in zip(les, counts):
            lines.append(f"\thb_bucket{{app=\"{app}\", le=\"{le_str(le)}\"}} "
                         f"{fmt(c)}+0x50")
    lines.append("")
    for phi in (0.0, 0.1, 0.5, 0.9, 0.99, 1.0):
        lines.append(f"eval instant at 500s histogram_quantile({fmt(phi)}, hb_bucket)")
        for app, counts in apps.items():
            q_ = bucket_quantile(phi, list(zip(les, counts)))
            lines.append(f"\t{{app=\"{app}\"}} {fmt(q_)}")
        lines.append("")
    # aggregate buckets across apps first (the canonical dashboard shape)
    summed = [sum(apps[a][i] for a in apps) for i in range(len(les))]
    for phi in (0.25, 0.75, 0.95):
        q_ = bucket_quantile(phi, list(zip(les, summed)))
        lines.append(f"eval instant at 500s "
                     f"histogram_quantile({fmt(phi)}, sum by (le) (hb_bucket))")
        lines.append(f"\t{{}} {fmt(q_)}")
        lines.append("")
    return "\n".join(lines)


def gen_time() -> str:
    import datetime as dt
    lines = ["# GENERATED by tools/gen_promqltest.py — calendar functions",
             "# at edge instants (epoch, leap day, year end); expected from",
             "# Python UTC datetime.",
             "", "load 10s", "\tm 7+0x50", ""]
    epochs = [0, 1_709_208_896,  # 2024-02-29 12:14:56 (leap day)
              1_609_459_199,     # 2020-12-31 23:59:59
              1_704_412_800,     # 2024-01-05 00:00:00
              951_827_696]       # 2000-02-29 (century leap)
    FNS = {
        "minute": lambda d: float(d.minute),
        "hour": lambda d: float(d.hour),
        "day_of_week": lambda d: float((d.weekday() + 1) % 7),
        "day_of_month": lambda d: float(d.day),
        "day_of_year": lambda d: float(d.timetuple().tm_yday),
        "days_in_month": lambda d: float(
            (dt.date(d.year + (d.month == 12), d.month % 12 + 1, 1)
             - dt.date(d.year, d.month, 1)).days),
        "month": lambda d: float(d.month),
        "year": lambda d: float(d.year),
    }
    for t in epochs:
        d = dt.datetime.fromtimestamp(t, dt.timezone.utc)
        for fn, f in FNS.items():
            lines.append(f"eval instant at {t}s {fn}()")
            lines.append(f"\t{{}} {fmt(f(d))}")
            lines.append("")
        lines.append(f"eval instant at {t}s time()")
        lines.append(f"\t{fmt(float(t))}")
        lines.append("")
    # timestamp() returns the SAMPLE timestamp (grid-aligned below t)
    for t_s in (505, 500):
        lines.append(f"eval instant at {t_s}s timestamp(m)")
        lines.append(f"\t{{}} {fmt(float(t_s // 10 * 10))}")
        lines.append("")
    return "\n".join(lines)


def gen_label_fns() -> str:
    lines = ["# GENERATED by tools/gen_promqltest.py — label_replace /",
             "# label_join shapes (capture groups, no-match keep, empty",
             "# removal, separators).",
             "", "load 10s",
             "\tm{src=\"abc-def\", dst=\"x\"} 4+0x50",
             "\tm{src=\"zz\", dst=\"y\"} 6+0x50", ""]

    def emit(expr, rows):
        lines.append(f"eval instant at 500s {expr}")
        for labels, v in rows:
            lines.append(f"\t{series_id(labels)} {fmt(v)}")
        lines.append("")

    emit('label_replace(m, "new", "$1", "src", "([a-z]+)-.*")',
         [({"__name__": "m", "src": "abc-def", "dst": "x", "new": "abc"}, 4.0),
          ({"__name__": "m", "src": "zz", "dst": "y"}, 6.0)])
    emit('label_replace(m, "src", "$1", "src", "([a-z]+)-.*")',
         [({"__name__": "m", "src": "abc", "dst": "x"}, 4.0),
          ({"__name__": "m", "src": "zz", "dst": "y"}, 6.0)])
    emit('label_replace(m, "dst", "", "src", "zz")',
         [({"__name__": "m", "src": "abc-def", "dst": "x"}, 4.0),
          ({"__name__": "m", "src": "zz"}, 6.0)])
    emit('label_replace(m, "copy", "$0-$0", "dst", ".*")',
         [({"__name__": "m", "src": "abc-def", "dst": "x", "copy": "x-x"}, 4.0),
          ({"__name__": "m", "src": "zz", "dst": "y", "copy": "y-y"}, 6.0)])
    emit('label_join(m, "j", "-", "src", "dst")',
         [({"__name__": "m", "src": "abc-def", "dst": "x",
            "j": "abc-def-x"}, 4.0),
          ({"__name__": "m", "src": "zz", "dst": "y", "j": "zz-y"}, 6.0)])
    emit('label_join(m, "j", "", "dst")',
         [({"__name__": "m", "src": "abc-def", "dst": "x", "j": "x"}, 4.0),
          ({"__name__": "m", "src": "zz", "dst": "y", "j": "y"}, 6.0)])
    emit('label_join(m, "src", "|", "dst", "src")',
         [({"__name__": "m", "src": "x|abc-def", "dst": "x"}, 4.0),
          ({"__name__": "m", "src": "y|zz", "dst": "y"}, 6.0)])
    return "\n".join(lines)


def gen_matching2() -> str:
    req = {("api", "0"): 10.0, ("api", "1"): 14.0,
           ("web", "0"): 6.0, ("db", "0"): 3.0}
    info = {"api": ("v1", 1.0), "web": ("v2", 1.0)}  # no db info
    lines = ["# GENERATED by tools/gen_promqltest.py — group_left/right",
             "# info-join shapes with include labels.",
             "", "load 10s"]
    for (j, i), v in req.items():
        lines.append(f"\treq{{job=\"{j}\", instance=\"{i}\"}} {fmt(v)}+0x50")
    for j, (ver, v) in info.items():
        lines.append(f"\tinfo{{job=\"{j}\", version=\"{ver}\"}} {fmt(v)}+0x50")
    lines.append("")

    def emit(expr, rows):
        lines.append(f"eval instant at 500s {expr}")
        for labels, v in rows:
            lines.append(f"\t{series_id(labels)} {fmt(v)}")
        lines.append("")

    emit("req * on(job) group_left(version) info",
         [({"job": j, "instance": i, "version": info[j][0]}, v)
          for (j, i), v in req.items() if j in info])
    emit("req * on(job) group_left info",
         [({"job": j, "instance": i}, v)
          for (j, i), v in req.items() if j in info])
    emit("info * on(job) group_right(version) req",
         [({"job": j, "instance": i, "version": info[j][0]}, v)
          for (j, i), v in req.items() if j in info])
    emit("req / on(job) group_left sum by (job) (req)",
         [({"job": j, "instance": i},
           v / sum(w for (j2, _), w in req.items() if j2 == j))
          for (j, i), v in req.items()])
    emit("sum by (job) (req) + on(job) info",
         [({"job": j}, sum(w for (j2, _), w in req.items() if j2 == j) + 1.0)
          for j in info])
    # many-to-one via ignoring: the many side KEEPS the ignored label
    # (upstream resultMetric drops ignoring-labels only for one-to-one)
    emit("req + ignoring(instance) group_left sum without (instance) (req)",
         [({"job": j, "instance": i},
           v + sum(w for (j2, _), w in req.items() if j2 == j))
          for (j, i), v in req.items()])
    # one-to-one via ignoring: the ignored label IS dropped from the result
    emit("sum without (instance) (req) * ignoring(version) info",
         [({"job": j}, sum(w for (j2, _), w in req.items() if j2 == j))
          for j in info])
    return "\n".join(lines)


def gen_subquery() -> str:
    gs = [(i * 10_000, 3.0 * i + 10) for i in range(61)]  # linear gauge
    cvals = [2.0 * i for i in range(61)]                  # clean counter
    cs = [(i * 10_000, cvals[i]) for i in range(61)]
    lines = ["# GENERATED by tools/gen_promqltest.py — subquery grids:",
             "# evaluation points are absolute multiples of step in",
             "# (t-range, t]; inner instant/rate per point from the same",
             "# independent simulation.",
             "", "load 10s",
             "\tg " + " ".join(fmt(v) for _, v in gs),
             "\tc " + " ".join(fmt(v) for _, v in cs), ""]

    def points(t, rng, step):
        first = (t - rng) // step * step
        while first <= t - rng:
            first += step
        return list(range(first, t + 1, step))

    OUTER = {"sum_over_time": sum,
             "max_over_time": max,
             "min_over_time": min,
             "avg_over_time": lambda vs: sum(vs) / len(vs),
             "count_over_time": lambda vs: float(len(vs))}
    for t in (305_000, 430_000, 500_000, 605_000):
        for rng, step, rs, ss in [(100_000, 30_000, "100s", "30s"),
                                  (120_000, 40_000, "120s", "40s"),
                                  (90_000, 10_000, "90s", "10s"),
                                  (150_000, 50_000, "150s", "50s")]:
            pts = points(t, rng, step)
            inner = [instant(gs, p) for p in pts]
            inner = [v for v in inner if v is not None]
            ts = t // 1000
            for fn, f in OUTER.items():
                lines.append(f"eval instant at {ts}s {fn}(g[{rs}:{ss}])")
                lines.append(f"\t{{}} {fmt(f(inner))}")
                lines.append("")
            # rate inside the subquery
            rates = []
            for p in pts:
                w = window(cs, p, 60_000)
                if len(w) >= 2:
                    rates.append(extrapolated_rate(w, p, 60_000, True, True))
            lines.append(f"eval instant at {ts}s "
                         f"max_over_time(rate(c[60s])[{rs}:{ss}])")
            lines.append(f"\t{{}} {fmt(max(rates))}")
            lines.append("")
    return "\n".join(lines)


def gen_at_offset() -> str:
    gs = [(i * 10_000, 3.0 * i + 10) for i in range(61)]
    lines = ["# GENERATED by tools/gen_promqltest.py — @ / offset",
             "# combination grid over a linear gauge.",
             "", "load 10s",
             "\tg " + " ".join(fmt(v) for _, v in gs), ""]

    def emit(t_s, expr, v, name="g"):
        lines.append(f"eval instant at {t_s}s {expr}")
        sid = name if name else "{}"
        lines.append(f"\t{sid} {fmt(v)}")
        lines.append("")

    for t in (305, 500, 610):
        t_ms = t * 1000
        emit(t, "g", instant(gs, t_ms))
        for off in (50, 130, 250, 15):
            emit(t, f"g offset {off}s", instant(gs, t_ms - off * 1000))
        for at in (100, 300, 444, 605):
            emit(t, f"g @ {at}", instant(gs, at * 1000))
            emit(t, f"g @ {at} offset 60s", instant(gs, (at - 60) * 1000))
        emit(t, "g @ start()", instant(gs, t_ms))
        emit(t, "g @ end()", instant(gs, t_ms))
        for w_s, w in (("100s", 100_000),):
            for at in (250, 460):
                vals = [v for _, v in window(gs, at * 1000, w)]
                lines.append(f"eval instant at {t}s "
                             f"sum_over_time(g[{w_s}] @ {at})")
                lines.append(f"\t{{}} {fmt(sum(vals))}")
                lines.append("")
            vals = [v for _, v in window(gs, t_ms - 120_000, w)]
            lines.append(f"eval instant at {t}s "
                         f"sum_over_time(g[{w_s}] offset 120s)")
            lines.append(f"\t{{}} {fmt(sum(vals))}")
            lines.append("")
    return "\n".join(lines)


def holt_winters(vals: list[float], sf: float, tf: float) -> float:
    """Upstream doubleExponentialSmoothing recurrence (public)."""
    s1 = vals[0]
    b = vals[1] - vals[0]
    s0 = 0.0
    for i in range(1, len(vals)):
        x = sf * vals[i]
        if i != 1:
            b = tf * (s1 - s0) + (1 - tf) * b
        y = (1 - sf) * (s1 + b)
        s0, s1 = s1, x + y
    return s1


def gen_smoothing_sort() -> str:
    # wavy gauge for smoothing; distinct values for sort
    n = 40
    wav = [(i * 10_000, 20 + 8 * math.sin(i / 2) + 0.5 * i) for i in range(n + 1)]
    svals = {"a": 4.0, "b": -2.0, "c": 9.5, "d": 0.0, "e": 7.0}
    lines = ["# GENERATED by tools/gen_promqltest.py —",
             "# double_exponential_smoothing recurrence + ordered sort.",
             "", "load 10s",
             "\tw " + " ".join(fmt(v) for _, v in wav)]
    for g, v in svals.items():
        lines.append(f"\ts{{g=\"{g}\"}} {fmt(v)}+0x50")
    lines.append("")
    for t in (200, 400):
        for w_s, w_ms in (("100s", 100_000), ("200s", 200_000)):
            vals = [v for _, v in window(wav, t * 1000, w_ms)]
            if len(vals) < 2:
                continue
            for sf, tf in ((0.2, 0.4), (0.5, 0.5), (0.8, 0.1)):
                lines.append(
                    f"eval instant at {t}s double_exponential_smoothing("
                    f"w[{w_s}], {fmt(sf)}, {fmt(tf)})")
                lines.append(f"\t{{}} {fmt(holt_winters(vals, sf, tf))}")
                lines.append("")
    lines.append("eval ordered instant at 500s sort(s)")
    for g, v in sorted(svals.items(), key=lambda kv: kv[1]):
        lines.append(f"\ts{{g=\"{g}\"}} {fmt(v)}")
    lines.append("")
    lines.append("eval ordered instant at 500s sort_desc(s)")
    for g, v in sorted(svals.items(), key=lambda kv: -kv[1]):
        lines.append(f"\ts{{g=\"{g}\"}} {fmt(v)}")
    lines.append("")
    lines.append("eval instant at 500s scalar(sum(s))")
    lines.append(f"\t{fmt(sum(svals.values()))}")
    lines.append("")
    lines.append("eval instant at 500s vector(42)")
    lines.append("\t{} 42")
    lines.append("")
    lines.append("eval instant at 500s absent(s)")
    lines.append("")
    lines.append('eval instant at 500s absent(nonexistent{x="1"})')
    lines.append('\t{x="1"} 1')
    lines.append("")
    return "\n".join(lines)


def gen_native_hist() -> str:
    """Native-histogram scalar extraction over a linearly growing series:
    at sample i, count = 4i, sum = 10i, buckets [i, 2i, i] — so the
    bucket-wise rate family reduces to the float extrapolatedRate on the
    extracted count/sum, independently simulatable."""
    n = 40
    cnt = [(i * 10_000, 4.0 * i) for i in range(n + 1)]
    sm = [(i * 10_000, 10.0 * i) for i in range(n + 1)]
    lits = " ".join(
        f"{{{{schema:0 count:{fmt(4.0 * i)} sum:{fmt(10.0 * i)} "
        f"buckets:[{fmt(float(i))} {fmt(2.0 * i)} {fmt(float(i))}]}}}}"
        for i in range(n + 1))
    lines = ["# GENERATED by tools/gen_promqltest.py — native-histogram",
             "# rate/arithmetic via scalar extraction (count=4i, sum=10i):",
             "# bucket-wise extrapolated rate must equal the float",
             "# extrapolatedRate of the extracted components.",
             "", "load 10s", "\th " + lits, ""]
    for t_s in (205, 400):
        t = t_s * 1000
        i = min(t // 10_000, n)
        lines.append(f"eval instant at {t_s}s histogram_count(h)")
        lines.append(f"\t{{}} {fmt(4.0 * i)}")
        lines.append("")
        lines.append(f"eval instant at {t_s}s histogram_sum(h)")
        lines.append(f"\t{{}} {fmt(10.0 * i)}")
        lines.append("")
        lines.append(f"eval instant at {t_s}s histogram_avg(h)")
        lines.append(f"\t{{}} {fmt(2.5)}")
        lines.append("")
        lines.append(f"eval instant at {t_s}s histogram_count(h + h)")
        lines.append(f"\t{{}} {fmt(8.0 * i)}")
        lines.append("")
        lines.append(f"eval instant at {t_s}s histogram_sum(h * 3)")
        lines.append(f"\t{{}} {fmt(30.0 * i)}")
        lines.append("")
        lines.append(f"eval instant at {t_s}s histogram_count(sum(h))")
        lines.append(f"\t{{}} {fmt(4.0 * i)}")
        lines.append("")
        for w_ms, w_s in ((60_000, "60s"), (150_000, "150s")):
            wc = window(cnt, t, w_ms)
            ws = window(sm, t, w_ms)
            if len(wc) < 2:
                continue
            rc = extrapolated_rate(wc, t, w_ms, True, True)
            rs = extrapolated_rate(ws, t, w_ms, True, True)
            ic = extrapolated_rate(wc, t, w_ms, True, False)
            lines.append(f"eval instant at {t_s}s "
                         f"histogram_count(rate(h[{w_s}]))")
            lines.append(f"\t{{}} {fmt(rc)}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s "
                         f"histogram_sum(rate(h[{w_s}]))")
            lines.append(f"\t{{}} {fmt(rs)}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s "
                         f"histogram_count(increase(h[{w_s}]))")
            lines.append(f"\t{{}} {fmt(ic)}")
            lines.append("")
    return "\n".join(lines)


def gen_staleness_absent() -> str:
    """Staleness-marker and absent grids: a stale marker hides the series
    from instant selection and never enters range windows; a series with
    no sample in the 5m lookback is absent."""
    # s1: value = i; stale at i=9; gap i=10..12; resumes at i=13..30
    s1 = []
    toks1 = []
    for i in range(31):
        if i == 9:
            toks1.append("stale")
            s1.append((i * 10_000, "stale"))
        elif i in (10, 11, 12):
            toks1.append("_")
        else:
            toks1.append(fmt(float(i)))
            s1.append((i * 10_000, float(i)))
    # s2: ends at i=12 (no samples after 120s)
    s2 = [(i * 10_000, 5.0 + i) for i in range(13)]
    lines = ["# GENERATED by tools/gen_promqltest.py — staleness-marker /",
             "# absent grids (stale hides instant selection, never enters",
             "# windows; series vanish 5m after their last sample).",
             "", "load 10s",
             "\ts1 " + " ".join(toks1),
             "\ts2 " + " ".join(fmt(v) for _, v in s2), ""]

    def inst(samples, t):
        best = None
        for ts, v in samples:
            if t - LOOKBACK_MS <= ts <= t:
                best = v
        return None if best == "stale" else best

    def win(samples, t, w):
        return [v for ts, v in samples
                if t - w < ts <= t and v != "stale"]

    times = [45, 90, 95, 105, 125, 135, 215, 305, 425, 610]
    for t_s in times:
        t = t_s * 1000
        for name, sams in (("s1", s1), ("s2", s2)):
            v = inst(sams, t)
            lines.append(f"eval instant at {t_s}s {name}")
            if v is not None:
                lines.append(f"\t{name} {fmt(v)}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s absent({name})")
            if v is None:
                lines.append("\t{} 1")
            lines.append("")
        for w_ms, w_s in ((50_000, "50s"), (120_000, "120s")):
            vals = win(s1, t, w_ms)
            lines.append(f"eval instant at {t_s}s count_over_time(s1[{w_s}])")
            if vals:
                lines.append(f"\t{{}} {fmt(float(len(vals)))}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s absent_over_time(s1[{w_s}])")
            if not vals:
                lines.append("\t{} 1")
            lines.append("")
            if vals:
                lines.append(f"eval instant at {t_s}s sum_over_time(s1[{w_s}])")
                lines.append(f"\t{{}} {fmt(sum(vals))}")
                lines.append("")
    return "\n".join(lines)


def gen_compose() -> str:
    """Composed shapes: aggregations over the rate family, filters over
    rates, arithmetic on aggregates — two-layer pipelines whose expected
    values chain the same independent primitives."""
    slopes = {"a": 2.0, "b": 5.0, "c": 0.5}
    sams = {g: [(i * 10_000, s * i) for i in range(61)]
            for g, s in slopes.items()}
    lines = ["# GENERATED by tools/gen_promqltest.py — composed pipelines:",
             "# aggregate/filter/arithmetic layers over the rate family.",
             "", "load 10s"]
    for g in slopes:
        lines.append(f"\tc{{g=\"{g}\"}} " +
                     " ".join(fmt(v) for _, v in sams[g]))
    lines.append("")
    for t_s in (205, 410, 605):
        t = t_s * 1000
        for w_ms, w_s in ((60_000, "60s"), (140_000, "140s")):
            rates = {}
            for g in slopes:
                w = window(sams[g], t, w_ms)
                if len(w) >= 2:
                    rates[g] = extrapolated_rate(w, t, w_ms, True, True)
            if not rates:
                continue
            lines.append(f"eval instant at {t_s}s sum(rate(c[{w_s}]))")
            lines.append(f"\t{{}} {fmt(sum(rates.values()))}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s max(rate(c[{w_s}]))")
            lines.append(f"\t{{}} {fmt(max(rates.values()))}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s avg(rate(c[{w_s}]))")
            lines.append(f"\t{{}} {fmt(sum(rates.values()) / len(rates))}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s "
                         f"sum by (g) (rate(c[{w_s}])) * 60")
            for g, r in rates.items():
                lines.append(f"\t{{g=\"{g}\"}} {fmt(r * 60)}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s rate(c[{w_s}]) > 1")
            for g, r in rates.items():
                if r > 1:
                    lines.append(f"\t{{g=\"{g}\"}} {fmt(r)}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s "
                         f"rate(c[{w_s}]) / ignoring(g) group_left "
                         f"sum(rate(c[{w_s}]))")
            tot = sum(rates.values())
            for g, r in rates.items():
                lines.append(f"\t{{g=\"{g}\"}} {fmt(r / tot)}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s "
                         f"topk(2, sum by (g) (rate(c[{w_s}])))")
            for g, r in sorted(rates.items(), key=lambda kv: -kv[1])[:2]:
                lines.append(f"\t{{g=\"{g}\"}} {fmt(r)}")
            lines.append("")
    return "\n".join(lines)


def gen_regex() -> str:
    """Regex matcher grid: full-anchored =~/!~ over a label corpus,
    expected matches computed with Python re (patterns restricted to the
    RE2-compatible subset so Go and Python agree)."""
    import re as _re
    values = ["api", "api-v2", "web", "web01", "db", "cache", "a.b",
              "x_y", "", "API"]
    lines = ["# GENERATED by tools/gen_promqltest.py — anchored regex",
             "# matcher grid ((?s)-style full match, missing label ≡ \"\").",
             "", "load 10s"]
    for i, v in enumerate(values):
        if v == "":
            lines.append(f"\tr{{idx=\"{i}\"}} {fmt(float(i))}+0x50")
        else:
            lines.append(f"\tr{{idx=\"{i}\", svc=\"{v}\"}} "
                         f"{fmt(float(i))}+0x50")
    lines.append("")
    patterns = ["api.*", ".*b.*", "web|db", "w[aeo]b\\d*", "(api|web)(-v\\d+)?",
                "", ".+", ".*", "[A-Z]+", "a\\.b", "x.y"]
    for pat in patterns:
        esc = pat.replace("\\", "\\\\").replace('"', '\\"')
        for op in ("=~", "!~"):
            lines.append(f'eval instant at 500s r{{svc{op}"{esc}"}}')
            for i, v in enumerate(values):
                hit = _re.fullmatch(f"(?:{pat})", v) is not None
                if (op == "=~") == hit:
                    sid = (f'r{{idx="{i}", svc="{v}"}}' if v != ""
                           else f'r{{idx="{i}"}}')
                    lines.append(f"\t{sid} {fmt(float(i))}")
            lines.append("")
    return "\n".join(lines)


def gen_nan_agg() -> str:
    """NaN propagation through aggregations: sum/avg/stddev poison, min/max
    skip NaN unless every value is NaN, count counts NaN rows, quantile
    sorts NaN first (Go vectorByValueHeap.Less)."""
    grid = {
        ("1", "a"): 10.0, ("1", "b"): math.nan, ("1", "c"): 30.0,
        ("2", "a"): math.nan, ("2", "b"): math.nan, ("2", "c"): math.nan,
        ("3", "a"): 5.0, ("3", "b"): 7.0, ("3", "c"): 9.0,
    }
    lines = ["# GENERATED by tools/gen_promqltest.py — NaN-mixed",
             "# aggregation grid (row 2 is all-NaN).",
             "", "load 10s"]
    for (r, c), v in grid.items():
        lines.append(f"\tn{{r=\"{r}\", c=\"{c}\"}} {fmt(v)}+0x50")
    lines.append("")

    def g_min(vs):
        real = [v for v in vs if not math.isnan(v)]
        return min(real) if real else math.nan

    def g_max(vs):
        real = [v for v in vs if not math.isnan(v)]
        return max(real) if real else math.nan

    def nan_quantile(phi, vs):
        # Go sorts NaN FIRST; linear interpolation over that order.
        s = sorted(vs, key=lambda v: (not math.isnan(v), v))
        n = len(s)
        rank = phi * (n - 1)
        lo = int(math.floor(rank))
        hi = min(n - 1, lo + 1)
        w = rank - lo
        return s[lo] * (1 - w) + s[hi] * w

    AGGS = {
        "sum": sum, "avg": lambda vs: sum(vs) / len(vs),
        "min": g_min, "max": g_max,
        "count": lambda vs: float(len(vs)),
        "stddev": stddev, "stdvar": lambda vs: stddev(vs) ** 2,
    }
    rows = ["1", "2", "3"]
    cols = ["a", "b", "c"]
    for op, f in AGGS.items():
        lines.append(f"eval instant at 500s {op} by (r) (n)")
        for r in rows:
            v = f([grid[(r, c)] for c in cols])
            lines.append(f"\t{{r=\"{r}\"}} {fmt(v)}")
        lines.append("")
    for phi in (0.5, 0.9):
        lines.append(f"eval instant at 500s quantile by (r) ({fmt(phi)}, n)")
        for r in rows:
            v = nan_quantile(phi, [grid[(r, c)] for c in cols])
            lines.append(f"\t{{r=\"{r}\"}} {fmt(v)}")
        lines.append("")
    # arithmetic with NaN operands propagates
    lines.append("eval instant at 500s n{r=\"1\"} + 1")
    for c in cols:
        v = grid[("1", c)] + 1
        lines.append(f"\t{{r=\"1\", c=\"{c}\"}} {fmt(v)}")
    lines.append("")
    # comparison filters drop NaN (NaN > x is false); bool yields 0
    lines.append("eval instant at 500s n{r=\"1\"} > 5")
    for c in cols:
        v = grid[("1", c)]
        if not math.isnan(v) and v > 5:
            lines.append(f"\tn{{r=\"1\", c=\"{c}\"}} {fmt(v)}")
    lines.append("")
    lines.append("eval instant at 500s n{r=\"1\"} >= bool 10")
    for c in cols:
        v = grid[("1", c)]
        lines.append(f"\t{{r=\"1\", c=\"{c}\"}} "
                     f"{fmt(0.0 if math.isnan(v) else float(v >= 10))}")
    lines.append("")
    return "\n".join(lines)


def gen_range() -> str:
    """Range-query (eval range) grids: per-step arrays for selectors,
    offsets, @-pinning (start()/end() resolve against the QUERY bounds),
    over_time windows, aggregations, and rate — the range path exercises
    grid explosion + per-step alignment rather than single-instant eval."""
    gs = [(i * 10_000, 3.0 * i + 10) for i in range(61)]
    slopes = {"a": 2.0, "b": 5.0}
    cs = {g: [(i * 10_000, s * i) for i in range(61)]
          for g, s in slopes.items()}
    lines = ["# GENERATED by tools/gen_promqltest.py — eval range grids:",
             "# instant selection, offset/@ pinning, over_time, agg, rate",
             "# per step.",
             "", "load 10s",
             "\tg " + " ".join(fmt(v) for _, v in gs)]
    for g in slopes:
        lines.append(f"\tc{{g=\"{g}\"}} " +
                     " ".join(fmt(v) for _, v in cs[g]))
    lines.append("")

    def steps(start, end, step):
        return list(range(start, end + 1, step))

    def row(vals, sid="{}"):
        return f"\t{sid} " + " ".join("_" if v is None else fmt(v)
                                      for v in vals)

    grids = [(100_000, 400_000, 60_000, "100s", "400s", "60s"),
             (0, 600_000, 150_000, "0", "600s", "150s"),
             (305_000, 605_000, 50_000, "305s", "605s", "50s")]
    for start, end, step, ss, es, ps in grids:
        pts = steps(start, end, step)
        hdr = f"eval range from {ss} to {es} step {ps} "
        lines.append(hdr + "g")
        lines.append(row([instant(gs, t) for t in pts], sid="g"))
        lines.append("")
        lines.append(hdr + "g offset 45s")
        lines.append(row([instant(gs, t - 45_000) for t in pts], sid="g"))
        lines.append("")
        # @-pinning: start()/end() resolve to the QUERY bounds, so the
        # value is constant across steps
        lines.append(hdr + "g @ start()")
        lines.append(row([instant(gs, start)] * len(pts), sid="g"))
        lines.append("")
        lines.append(hdr + "g @ end()")
        lines.append(row([instant(gs, end)] * len(pts), sid="g"))
        lines.append("")
        lines.append(hdr + "g @ 250")
        lines.append(row([instant(gs, 250_000)] * len(pts), sid="g"))
        lines.append("")
        lines.append(hdr + "sum_over_time(g[90s])")
        lines.append(row([sum(v for _, v in window(gs, t, 90_000)) or None
                          for t in pts]))
        lines.append("")
        lines.append(hdr + "sum(c)")
        lines.append(row([sum(instant(cs[g], t) or 0 for g in slopes)
                          if any(instant(cs[g], t) is not None
                                 for g in slopes) else None
                          for t in pts]))
        lines.append("")
        lines.append(hdr + "rate(c[80s])")
        for g in slopes:
            vals = []
            for t in pts:
                w = window(cs[g], t, 80_000)
                vals.append(extrapolated_rate(w, t, 80_000, True, True)
                            if len(w) >= 2 else None)
            lines.append(f"\t{{g=\"{g}\"}} " +
                         " ".join("_" if v is None else fmt(v)
                                  for v in vals))
        lines.append("")
        lines.append(hdr + "max(rate(c[80s]))")
        vals = []
        for t in pts:
            rs = []
            for g in slopes:
                w = window(cs[g], t, 80_000)
                if len(w) >= 2:
                    rs.append(extrapolated_rate(w, t, 80_000, True, True))
            vals.append(max(rs) if rs else None)
        lines.append(row(vals))
        lines.append("")
    return "\n".join(lines)


def gen_native_quantile() -> str:
    """histogram_quantile / histogram_fraction / histogram_stddev/stdvar
    over native-histogram literals: expected values from an independent
    Python port of the upstream EXPONENTIAL-schema semantics
    (promql/quantile.go histogramQuantile, functions.go
    funcHistogramStdDev): a bucket with upper bound le > 0 covers
    (le/base, le] and interpolation uses that ACTUAL lower bound (no
    classic first-bucket clamp); stddev midpoints are geometric
    sqrt(lower*upper) with the zero bucket representing exactly 0; the
    +Inf cap returns the highest finite bound."""
    def buckets_of(schema, offset, bks, z, n_offset=0, n_bks=()):
        base = 2.0 ** (2.0 ** -schema)
        out = []  # (lo, le, count)
        # negative bucket index i covers [-base^i, -base^(i-1))
        for p, c in enumerate(n_bks):
            i = n_offset + p
            out.append((-(base ** i), -(base ** (i - 1)), float(c)))
        out.sort()
        if z:
            out.append((0.0, 0.0, z))
        for p, c in enumerate(bks):
            out.append((base ** (offset + p - 1), base ** (offset + p),
                        float(c)))
        last = out[-1][1] if out else 0.0
        out.append((last, math.inf, 0.0))
        return out

    def nq(q, bks, total):
        if math.isnan(q):
            return math.nan
        if q < 0:
            return -math.inf
        if q > 1:
            return math.inf
        if not bks or total == 0:
            return math.nan
        cum = []
        run = 0.0
        for lo, le, c in bks:
            run += c
            cum.append((lo, le, run))
        rank = q * total
        idx = next((i for i, (_, _, c) in enumerate(cum) if c >= rank), None)
        if idx is None:
            return math.nan
        if cum[idx][1] == math.inf:
            return cum[-2][1] if len(cum) >= 2 else math.nan
        lower = cum[idx][0]
        count_lo = 0.0 if idx == 0 else cum[idx - 1][2]
        upper, count_hi = cum[idx][1], cum[idx][2]
        denom = count_hi - count_lo
        if denom == 0:
            frac = math.nan if rank - count_lo == 0 else math.inf
        else:
            frac = (rank - count_lo) / denom
        return lower + (upper - lower) * frac

    def cum_at(bks, total, x):
        cum = []
        run = 0.0
        for lo, le, c in bks:
            run += c
            cum.append((lo, le, run))
        idx = next((i for i, (_, le, _) in enumerate(cum) if le >= x), None)
        if idx is None or x == math.inf:
            return total
        # no x<=0 shortcut: exponential grids may carry negative buckets;
        # the frac clamp returns 0 below the first bucket's lower bound
        lower = cum[idx][0]
        count_lo = 0.0 if idx == 0 else cum[idx - 1][2]
        upper, count_hi = cum[idx][1], cum[idx][2]
        frac = 0.0 if upper == lower else (x - lower) / (upper - lower)
        frac = min(max(frac, 0.0), 1.0)
        return count_lo + (count_hi - count_lo) * frac

    HISTS = {
        "basic": dict(schema=0, offset=0, bks=[2, 3, 1], z=0.0, sum=14.0),
        "off": dict(schema=0, offset=2, bks=[1, 4, 3], z=0.0, sum=60.0),
        "zero": dict(schema=0, offset=0, bks=[2, 2], z=3.0, sum=7.0),
        "neg_off": dict(schema=0, offset=-2, bks=[4, 4, 4], z=0.0, sum=5.0),
        "sparse": dict(schema=0, offset=1, bks=[0, 0, 5], z=0.0, sum=55.0),
        # negative buckets: index i covers [-base^i, -base^(i-1))
        "mixed": dict(schema=0, offset=0, bks=[2, 1], z=1.0, sum=-3.0,
                      n_offset=0, n_bks=[3, 2]),
        "neg_only": dict(schema=0, offset=0, bks=[], z=0.0, sum=-20.0,
                         n_offset=1, n_bks=[4, 1]),
    }

    def total_of(h):
        return h["z"] + sum(h["bks"]) + sum(h.get("n_bks", []))

    def grid(h):
        return buckets_of(h["schema"], h["offset"], h["bks"], h["z"],
                          h.get("n_offset", 0), h.get("n_bks", ()))
    lines = ["# GENERATED by tools/gen_promqltest.py — native-histogram",
             "# quantile/fraction interpolation over varied offsets and",
             "# zero buckets.",
             "", "load 10s"]
    for case, h in HISTS.items():
        zb = f" z_bucket:{fmt(h['z'])}" if h["z"] else ""
        pos = (f" offset:{h['offset']} buckets:["
               + " ".join(fmt(float(b)) for b in h["bks"]) + "]"
               if h["bks"] else "")
        neg = (f" n_offset:{h['n_offset']} n_buckets:["
               + " ".join(fmt(float(b)) for b in h["n_bks"]) + "]"
               if h.get("n_bks") else "")
        lines.append(
            f"\tnh{{case=\"{case}\"}} {{{{schema:{h['schema']} "
            f"count:{fmt(total_of(h))} sum:{fmt(h['sum'])}{zb}"
            f"{pos}{neg}}}}}x30")
    lines.append("")
    for q in (0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0):
        lines.append(f"eval instant at 200s histogram_quantile({fmt(q)}, nh)")
        for case, h in HISTS.items():
            lines.append(
                f"\t{{case=\"{case}\"}} {fmt(nq(q, grid(h), total_of(h)))}")
        lines.append("")
    for lo, hi in ((0.0, 1.0), (0.5, 2.0), (1.0, 8.0), (0.0, math.inf),
                   (2.0, 4.0)):
        hi_s = "Inf" if hi == math.inf else fmt(hi)
        lines.append(f"eval instant at 200s "
                     f"histogram_fraction({fmt(lo)}, {hi_s}, nh)")
        for case, h in HISTS.items():
            bks, total = grid(h), total_of(h)
            frac = (cum_at(bks, total, hi) - cum_at(bks, total, lo)) / total
            lines.append(f"\t{{case=\"{case}\"}} {fmt(frac)}")
        lines.append("")
    lines.append("eval instant at 200s histogram_avg(nh)")
    for case, h in HISTS.items():
        lines.append(
            f"\t{{case=\"{case}\"}} {fmt(h['sum'] / total_of(h))}")
    lines.append("")

    # stddev/stdvar: geometric bucket midpoints sqrt(lower*upper) for
    # exponential schemas, zero bucket -> 0 (funcHistogramStdDev)
    def stdvar(h):
        bks, total = grid(h), total_of(h)
        mean = h["sum"] / total
        var = 0.0
        for lo, le, c in bks:
            if le == math.inf:
                mid = lo
            elif le == 0:
                mid = 0.0
            elif le < 0:
                mid = -math.sqrt(lo * le)  # signed geometric midpoint
            else:
                mid = math.sqrt(lo * le)
            var += c * (mid - mean) * (mid - mean)
        return var / total

    for fn, post in (("histogram_stdvar", lambda v: v),
                     ("histogram_stddev", math.sqrt)):
        lines.append(f"eval instant at 200s {fn}(nh)")
        for case, h in HISTS.items():
            lines.append(f"\t{{case=\"{case}\"}} {fmt(post(stdvar(h)))}")
        lines.append("")
    return "\n".join(lines)


def gen_setops() -> str:
    """and/or/unless x on/ignoring grid: expected sets from an independent
    match-signature simulation (upstream engine.go VectorAnd/VectorOr/
    VectorUnless; set ops keep the sample value AND the metric name)."""
    a = {("1", "x"): 10.0, ("1", "y"): 15.0, ("2", "x"): 20.0,
         ("2", "y"): 25.0, ("3", "x"): 30.0}
    b = {("1", "p"): 101.0, ("2", "q"): 102.0, ("4", "p"): 104.0}
    aseries = [({"__name__": "sa", "r": r, "c": c}, v)
               for (r, c), v in a.items()]
    bseries = [({"__name__": "sb", "r": r, "d": d}, v)
               for (r, d), v in b.items()]

    def sig(labels, mod):
        if mod is None:
            items = {k: v for k, v in labels.items() if k != "__name__"}
        elif mod[0] == "on":
            items = {k: labels.get(k, "") for k in mod[1]}
        else:  # ignoring
            items = {k: v for k, v in labels.items()
                     if k != "__name__" and k not in mod[1]}
        return tuple(sorted(items.items()))

    def setop(op, lhs, rhs, mod):
        rsigs = {sig(l, mod) for l, _ in rhs}
        if op == "and":
            return [(l, v) for l, v in lhs if sig(l, mod) in rsigs]
        if op == "unless":
            return [(l, v) for l, v in lhs if sig(l, mod) not in rsigs]
        lsigs = {sig(l, mod) for l, _ in lhs}
        return lhs + [(l, v) for l, v in rhs if sig(l, mod) not in lsigs]

    MODS = [("", None),
            ("on (r) ", ("on", ("r",))),
            ("on () ", ("on", ())),
            ("on (r, c) ", ("on", ("r", "c"))),
            ("ignoring (c, d) ", ("ignoring", ("c", "d"))),
            ("ignoring (c) ", ("ignoring", ("c",))),
            ("ignoring (d) ", ("ignoring", ("d",)))]
    lines = ["# GENERATED by tools/gen_promqltest.py — set-operator grid",
             "# (and/or/unless x on/ignoring); independent match-signature",
             "# simulation; set ops keep values and metric names.",
             "", "load 10s"]
    for labels, v in aseries + bseries:
        lines.append(f"\t{series_id(labels)} {fmt(v)}+0x50")
    lines.append("")
    for op in ("and", "or", "unless"):
        for mtxt, mod in MODS:
            for lname, lhs, rhs in (("sa", aseries, bseries),
                                    ("sb", bseries, aseries)):
                rname = "sb" if lname == "sa" else "sa"
                lines.append(f"eval instant at 500s "
                             f"{lname} {op} {mtxt}{rname}")
                for labels, v in setop(op, lhs, rhs, mod):
                    lines.append(f"\t{series_id(labels)} {fmt(v)}")
                lines.append("")
    return "\n".join(lines)


def gen_vcmp() -> str:
    """Comparison-operator grid: {==,!=,>,<,>=,<=} x {filter,bool} x
    {vec-scalar, scalar-vec, vec-vec} over values including 0/NaN/±Inf.
    Upstream rule (engine.go shouldDropMetricName): filter mode keeps the
    sample value AND the metric name; bool emits 0/1 and drops the name."""
    vals = {"n3": -3.0, "z": 0.0, "p25": 2.5, "nan": math.nan,
            "inf": math.inf, "ninf": -math.inf}
    wvals = {"n3": 1.0, "z": 0.0, "p25": 99.0, "nan": math.nan}
    CMP = {"==": lambda x, y: x == y, "!=": lambda x, y: x != y,
           ">": lambda x, y: x > y, "<": lambda x, y: x < y,
           ">=": lambda x, y: x >= y, "<=": lambda x, y: x <= y}
    lines = ["# GENERATED by tools/gen_promqltest.py — comparison grid",
             "# over {-3, 0, 2.5, NaN, Inf, -Inf}: filter keeps value+name,",
             "# bool emits 0/1 and drops the name (IEEE NaN semantics).",
             "", "load 10s"]
    for i, v in vals.items():
        lines.append(f"\tv{{i=\"{i}\"}} {fmt(v)}+0x50")
    for i, v in wvals.items():
        lines.append(f"\tw{{i=\"{i}\"}} {fmt(v)}+0x50")
    lines.append("")

    def emit(expr, rows):
        lines.append(f"eval instant at 500s {expr}")
        for labels, v in sorted(rows, key=lambda r: str(r[0])):
            lines.append(f"\t{series_id(labels)} {fmt(v)}")
        lines.append("")

    for op, f in CMP.items():
        for s in (0.0, 2.5):
            emit(f"v {op} {fmt(s)}",
                 [({"__name__": "v", "i": i}, v)
                  for i, v in vals.items() if f(v, s)])
            emit(f"v {op} bool {fmt(s)}",
                 [({"i": i}, float(f(v, s))) for i, v in vals.items()])
            emit(f"{fmt(s)} {op} v",
                 [({"__name__": "v", "i": i}, v)
                  for i, v in vals.items() if f(s, v)])
            emit(f"{fmt(s)} {op} bool v",
                 [({"i": i}, float(f(s, v))) for i, v in vals.items()])
    # NaN scalar: == never matches (even NaN), != always matches
    emit("v == NaN", [])
    emit("v != NaN", [({"__name__": "v", "i": i}, v)
                      for i, v in vals.items()])
    emit("v >= bool NaN", [({"i": i}, 0.0) for i in vals])
    emit("v < bool NaN", [({"i": i}, 0.0) for i in vals])
    # vector-vector: default matching on the full labelset (i)
    for op, f in CMP.items():
        emit(f"v {op} w",
             [({"__name__": "v", "i": i}, v) for i, v in vals.items()
              if i in wvals and f(v, wvals[i])])
        emit(f"v {op} bool w",
             [({"i": i}, float(f(v, wvals[i])))
              for i, v in vals.items() if i in wvals])
    # scalar-scalar comparison without bool is a parse error
    lines.append("eval_fail instant at 500s 1 > 2")
    lines.append("")
    lines.append("eval_fail instant at 500s scalar(v{i=\"z\"}) == 0")
    lines.append("")
    return "\n".join(lines)


def gen_count_values() -> str:
    """count_values grids with value collisions, by/without grouping, and
    an existing-label overwrite; label text uses Go strconv.FormatFloat
    ('f', -1) conventions (+Inf / NaN spellings)."""
    vals = [1.0, 2.0, 2.0, 3.5, 3.5, 3.5, 0.25, math.inf, math.inf,
            math.nan]

    def ff(v):
        if math.isnan(v):
            return "NaN"
        if v == math.inf:
            return "+Inf"
        if v == -math.inf:
            return "-Inf"
        if float(v) == int(v):
            return str(int(v))
        return repr(float(v))

    series = [({"i": str(k), "g": "a" if k % 2 == 0 else "b"}, v)
              for k, v in enumerate(vals)]
    lines = ["# GENERATED by tools/gen_promqltest.py — count_values over",
             "# colliding values (incl. +Inf and NaN groups), by/without",
             "# grouping, and value-label overwrite of an existing label.",
             "", "load 10s"]
    for labels, v in series:
        lines.append(f"\tm{{g=\"{labels['g']}\", i=\"{labels['i']}\"}} "
                     f"{fmt(v)}+0x50")
    lines.append("")

    def count(rows, keyfn):
        out = {}
        for labels, v in rows:
            k = keyfn(labels, v)
            out[k] = out.get(k, 0) + 1
        return out

    def emit(expr, groups):
        lines.append(f"eval instant at 500s {expr}")
        for key, n in sorted(groups.items()):
            lbls = ", ".join(f'{k}="{v}"' for k, v in key)
            lines.append(f"\t{{{lbls}}} {fmt(float(n))}")
        lines.append("")

    emit('count_values("val", m)',
         count(series, lambda l, v: (("val", ff(v)),)))
    emit('count_values by (g) ("val", m)',
         count(series, lambda l, v: (("g", l["g"]), ("val", ff(v)))))
    emit('count_values without (i) ("val", m)',
         count(series, lambda l, v: (("g", l["g"]), ("val", ff(v)))))
    # value label overwrites an existing label of the same name
    emit('count_values("g", m)',
         count(series, lambda l, v: (("g", ff(v)),)))
    emit('count_values by (i) ("val", m)',
         count(series, lambda l, v: (("i", l["i"]), ("val", ff(v)))))
    # extreme-magnitude + denormal blocks were appended by hand in r9 and
    # round-10 folded them into the generator so regeneration is stable
    lines += [
        "# ---- extreme-magnitude value labels: Go FormatFloat('f', -1, 64)"
        " fixed",
        "# notation (shortest-roundtrip digits, never scientific) —"
        " reconstructed",
        "# from Java's scientific string at |v| >= 1e38 and < 1e-20"
        " (compiler",
        "# count_values vstr; closes the divergence carried since r5)",
        "",
        "clear",
        "load 5m",
        "\text{i=\"a\"} 1e38",
        "\text{i=\"b\"} -1e38",
        "\text{i=\"c\"} 1.2345678901234568e+41",
        "\text{i=\"d\"} 1e-21",
        "\text{i=\"e\"} -3.25e-25",
        "",
        'eval instant at 1m count_values("v", ext)',
        "\t{v=\"100000000000000000000000000000000000000\"} 1",
        "\t{v=\"-100000000000000000000000000000000000000\"} 1",
        "\t{v=\"123456789012345680000000000000000000000000\"} 1",
        "\t{v=\"0.000000000000000000001\"} 1",
        "\t{v=\"-0.000000000000000000000000325\"} 1",
        "",
        "# ---- denormal extremes: shortest-roundtrip digits like Go"
        " (5e-324, not",
        "# Java 17's 4.9E-324 mantissa) — closes the last formatting"
        " divergence",
        "# carried since r5",
        "",
        "clear",
        "load 5m",
        "\tden{i=\"a\"} 5e-324",
        "\tden{i=\"b\"} 1.7976931348623157e308",
        "\tden{i=\"c\"} 2.2250738585072014e-308",
        "",
        'eval instant at 1m count(count_values("v", den) and'
        ' count_values("v", den))',
        "\t{} 3",
    ]
    return "\n".join(lines)


def gen_clamp_round() -> str:
    """clamp/clamp_min/clamp_max/round and the simple math functions over a
    signed value grid; Go math.Min/Max NaN propagation, min>max → empty,
    round(v, to) = floor(v*(1/to) + 0.5)/(1/to) (IEEE double, upstream
    funcRound's inverse-multiplier form)."""
    vals = {"a": -2.7, "b": -0.5, "c": 0.0, "d": 0.4, "e": 0.5,
            "f": 1.5, "g": 2.49, "h": 7.3, "nan": math.nan,
            "inf": math.inf, "ninf": -math.inf}
    lines = ["# GENERATED by tools/gen_promqltest.py — clamp/round and the",
             "# simple math functions; Go NaN/Inf edge conventions.",
             "", "load 10s"]
    for i, v in vals.items():
        lines.append(f"\tm{{i=\"{i}\"}} {fmt(v)}+0x50")
    lines.append("")

    def gmin(x, y):
        if math.isnan(x) or math.isnan(y):
            return math.nan
        return min(x, y)

    def gmax(x, y):
        if math.isnan(x) or math.isnan(y):
            return math.nan
        return max(x, y)

    def emit(expr, rows):
        lines.append(f"eval instant at 500s {expr}")
        for i, v in rows.items():
            lines.append(f"\t{{i=\"{i}\"}} {fmt(v)}")
        lines.append("")

    for lo, hi in ((-1.0, 2.0), (0.0, 0.0), (-math.inf, 0.0),
                   (0.0, math.inf), (math.nan, 1.0), (1.0, math.nan)):
        emit(f"clamp(m, {fmt(lo)}, {fmt(hi)})",
             {i: gmax(lo, gmin(hi, v)) for i, v in vals.items()})
    # min > max → empty vector (upstream clampFunc early return)
    lines.append("eval instant at 500s clamp(m, 2, -1)")
    lines.append("")
    for x in (0.0, math.nan):
        emit(f"clamp_min(m, {fmt(x)})",
             {i: gmax(x, v) for i, v in vals.items()})
        emit(f"clamp_max(m, {fmt(x)})",
             {i: gmin(x, v) for i, v in vals.items()})

    def rnd(v, to):
        if math.isnan(v) or math.isinf(v):
            return v
        # upstream funcRound rounds through the INVERSE multiplier
        inv = 1.0 / to
        return math.floor(v * inv + 0.5) / inv

    emit("round(m)", {i: rnd(v, 1.0) for i, v in vals.items()})
    for to in (0.5, 2.0, 0.001):
        emit(f"round(m, {fmt(to)})",
             {i: rnd(v, to) for i, v in vals.items()})

    def _sqrt(v):
        return math.sqrt(v) if v >= 0 else math.nan

    def _sgn(v):
        if math.isnan(v):
            return math.nan
        return float((v > 0) - (v < 0))

    FNS = {"abs": abs, "ceil": math.ceil, "floor": math.floor,
           "sgn": _sgn, "sqrt": _sqrt,
           "exp": lambda v: math.exp(v) if v != math.inf else math.inf,
           "ln": _ln}
    for name, f in FNS.items():
        def safe(v, f=f):
            if math.isnan(v):
                return math.nan
            if math.isinf(v) and name in ("ceil", "floor", "trunc"):
                return v
            try:
                return float(f(v))
            except (ValueError, OverflowError):
                return math.nan
        emit(f"{name}(m)", {i: safe(v) for i, v in vals.items()})
    return "\n".join(lines)


def gen_predict() -> str:
    """predict_linear / deriv grids over linear, quadratic and constant
    series; expectations from the least-squares helper with the intercept
    at the evaluation timestamp (upstream linearRegression)."""
    n = 50
    series = {
        "lin": [(k * 10_000, 3.0 * k + 5.0) for k in range(n + 1)],
        "quad": [(k * 10_000, 2.0 * k + 0.1 * k * k) for k in range(n + 1)],
        "const": [(k * 10_000, 7.0) for k in range(n + 1)],
    }
    lines = ["# GENERATED by tools/gen_promqltest.py — predict_linear and",
             "# deriv over linear/quadratic/constant series (least squares",
             "# with intercept at the eval timestamp).",
             "", "load 10s"]
    lines.append("\tm{s=\"lin\"} 5+3x50")
    lines.append("\tm{s=\"quad\"} " + " ".join(
        fmt(v) for _, v in series["quad"][:8]) +
        " " + " ".join(fmt(v) for _, v in series["quad"][8:]))
    lines.append("\tm{s=\"const\"} 7+0x50")
    lines.append("")
    for t_s in (300, 400, 500):
        t = t_s * 1000
        for ws in (60, 120, 300):
            win = {s: window(sams, t, ws * 1000)
                   for s, sams in series.items()}
            for ahead in (0.0, 60.0, 600.0):
                lines.append(f"eval instant at {t_s}s "
                             f"predict_linear(m[{ws}s], {fmt(ahead)})")
                for s, sams in win.items():
                    if len(sams) < 2:
                        continue
                    slope, icpt = linear_regression(sams, t)
                    lines.append(f"\t{{s=\"{s}\"}} "
                                 f"{fmt(slope * ahead + icpt)}")
                lines.append("")
            lines.append(f"eval instant at {t_s}s deriv(m[{ws}s])")
            for s, sams in win.items():
                if len(sams) < 2:
                    continue
                slope, _ = linear_regression(sams, t)
                lines.append(f"\t{{s=\"{s}\"}} {fmt(slope)}")
            lines.append("")
    return "\n".join(lines)


def gen_overtime2() -> str:
    """quantile_over_time phi-grid and mad_over_time over two phase-shifted
    sine gauges; upstream quantile interpolation (rank = phi*(n-1))."""
    n = 60
    series = {
        "a": [(k * 10_000, k + 6.0 * math.sin(k / 3.0))
              for k in range(n + 1)],
        "b": [(k * 10_000, 30.0 - k + 6.0 * math.sin(k / 2.0 + 1.0))
              for k in range(n + 1)],
    }
    lines = ["# GENERATED by tools/gen_promqltest.py — quantile_over_time",
             "# phi-grid and mad_over_time over phase-shifted sine gauges.",
             "", "load 10s"]
    for s, sams in series.items():
        lines.append(f"\tg{{s=\"{s}\"}} " + " ".join(fmt(v)
                                                     for _, v in sams))
    lines.append("")
    for t_s in (305, 405, 500):
        t = t_s * 1000
        for ws in (30, 60, 120):
            win = {s: [v for _, v in window(sams, t, ws * 1000)]
                   for s, sams in series.items()}
            for phi in (0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0):
                lines.append(f"eval instant at {t_s}s "
                             f"quantile_over_time({fmt(phi)}, g[{ws}s])")
                for s, vs in win.items():
                    if vs:
                        lines.append(f"\t{{s=\"{s}\"}} "
                                     f"{fmt(quantile(phi, vs))}")
                lines.append("")
            lines.append(f"eval instant at {t_s}s mad_over_time(g[{ws}s])")
            for s, vs in win.items():
                if vs:
                    lines.append(f"\t{{s=\"{s}\"}} {fmt(mad(vs))}")
            lines.append("")
    # out-of-range phi → ±Inf (with upstream warn annotation)
    for phi, want in ((-1.0, -math.inf), (2.0, math.inf)):
        lines.append(f"eval instant at 500s "
                     f"quantile_over_time({fmt(phi)}, g[60s])")
        for s in series:
            lines.append(f"\t{{s=\"{s}\"}} {fmt(want)}")
        lines.append("")
    return "\n".join(lines)


def gen_hist2() -> str:
    """Classic le-bucket histogram_quantile phi-grid: independent port of
    upstream bucketQuantile (first-bucket lower bound 0 when le > 0,
    +Inf bucket returns the highest finite bound, NaN on empty)."""
    LES = [0.1, 0.5, 1.0, 5.0]
    HISTS = {  # per-bucket (non-cumulative) counts aligned with LES + +Inf
        "even": [10, 10, 10, 10, 0],
        "front": [40, 2, 1, 1, 0],
        "tail": [0, 0, 1, 9, 10],
        "inf_only": [0, 0, 0, 0, 7],
        "empty": [0, 0, 0, 0, 0],
    }

    def bq(q, per_bucket):
        cum, run = [], 0.0
        bounds = LES + [math.inf]
        for c in per_bucket:
            run += c
            cum.append(run)
        total = cum[-1]
        if q < 0:
            return -math.inf
        if q > 1:
            return math.inf
        if total == 0:
            return math.nan
        rank = q * total
        b = next(i for i, c in enumerate(cum) if c >= rank)
        if b == len(bounds) - 1:
            return bounds[-2]
        if b == 0 and bounds[0] <= 0:
            return bounds[0]
        start, end = (0.0, bounds[0]) if b == 0 else (bounds[b - 1],
                                                      bounds[b])
        count = cum[b] - (cum[b - 1] if b > 0 else 0.0)
        r = rank - (cum[b - 1] if b > 0 else 0.0)
        if count == 0:  # IEEE 0/0 → NaN (Go division, not Python)
            return math.nan
        return start + (end - start) * (r / count)

    lines = ["# GENERATED by tools/gen_promqltest.py — classic le-bucket",
             "# histogram_quantile grid (bucketQuantile port: zero lower",
             "# bound, +Inf cap, NaN on zero observations).",
             "", "load 10s"]
    for h, per in HISTS.items():
        run = 0
        for le, c in zip(LES + [math.inf], per):
            run += c
            le_s = "+Inf" if le == math.inf else fmt(le)
            lines.append(f"\thb_bucket{{h=\"{h}\", le=\"{le_s}\"}} "
                         f"0+{fmt(float(run))}x50")
    lines.append("")
    for q in (0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0, -0.5, 1.5):
        lines.append(f"eval instant at 500s "
                     f"histogram_quantile({fmt(q)}, hb_bucket)")
        for h, per in HISTS.items():
            v = bq(q, per)
            lines.append(f"\t{{h=\"{h}\"}} {fmt(v)}")
        lines.append("")
    # quantile over rate(bucket[60s]): counts grow linearly so per-bucket
    # rates are proportional to the cumulative counts → same quantiles
    for q in (0.5, 0.9):
        lines.append(f"eval instant at 500s "
                     f"histogram_quantile({fmt(q)}, rate(hb_bucket[60s]))")
        for h, per in HISTS.items():
            lines.append(f"\t{{h=\"{h}\"}} {fmt(bq(q, per))}")
        lines.append("")
    return "\n".join(lines)


def gen_rate2() -> str:
    """irate/idelta/resets/changes over a modular-wrap counter and a
    stepping gauge across a window x eval-time grid."""
    n = 50
    counter = [(k * 10_000, float((3 * k) % 17)) for k in range(n + 1)]
    gpat = [3.0, 3.0, 5.0, 2.0, 2.0, 7.0]
    gauge = [(k * 10_000, gpat[k % len(gpat)]) for k in range(n + 1)]
    lines = ["# GENERATED by tools/gen_promqltest.py — irate/idelta/resets/",
             "# changes grid over a wrapping counter and a stepping gauge.",
             "", "load 10s"]
    lines.append("\tc " + " ".join(fmt(v) for _, v in counter))
    lines.append("\tg " + " ".join(fmt(v) for _, v in gauge))
    lines.append("")
    for t_s in (305, 355, 400, 455, 500):
        t = t_s * 1000
        for ws in (30, 60, 120, 250):
            cw = window(counter, t, ws * 1000)
            gw = window(gauge, t, ws * 1000)
            # resets / changes
            lines.append(f"eval instant at {t_s}s resets(c[{ws}s])")
            if cw:
                r = sum(1 for i in range(1, len(cw))
                        if cw[i][1] < cw[i - 1][1])
                lines.append(f"\t{{}} {fmt(float(r))}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s changes(g[{ws}s])")
            if gw:
                ch = sum(1 for i in range(1, len(gw))
                         if gw[i][1] != gw[i - 1][1])
                lines.append(f"\t{{}} {fmt(float(ch))}")
            lines.append("")
            # irate: last two samples, single-step counter-reset rule
            lines.append(f"eval instant at {t_s}s irate(c[{ws}s])")
            if len(cw) >= 2:
                (pt, pv), (lt, lv) = cw[-2], cw[-1]
                dv = lv if lv < pv else lv - pv
                lines.append(f"\t{{}} {fmt(dv / ((lt - pt) / 1000.0))}")
            lines.append("")
            lines.append(f"eval instant at {t_s}s idelta(g[{ws}s])")
            if len(gw) >= 2:
                lines.append(f"\t{{}} {fmt(gw[-1][1] - gw[-2][1])}")
            lines.append("")
    return "\n".join(lines)


def gen_arith2() -> str:
    """%, ^ and atan2 grids (vector-scalar both directions): Go math.Mod /
    math.Pow / math.Atan2 edge conventions, metric name dropped."""
    vals = {"a": -7.5, "b": -2.0, "c": 0.0, "d": 3.0, "e": 8.5}

    def gmod(x, y):
        try:
            return math.fmod(x, y)
        except ValueError:
            return math.nan

    def gpow(x, y):
        # Go math.Pow: Pow(0,0)=1, Pow(0,y<0)=+Inf, Pow(neg,non-int)=NaN
        if x == 0.0 and y < 0:
            return math.inf
        try:
            return math.pow(x, y)
        except ValueError:  # negative base, non-integer exponent
            return math.nan
        except OverflowError:
            return math.inf if (x > 1 or x < -1) else 0.0

    lines = ["# GENERATED by tools/gen_promqltest.py — %, ^, atan2 grids",
             "# (vector-scalar, both directions; Go math edge rules).",
             "", "load 10s"]
    for i, v in vals.items():
        lines.append(f"\tm{{i=\"{i}\"}} {fmt(v)}+0x50")
    lines.append("")

    def emit(expr, rows):
        lines.append(f"eval instant at 500s {expr}")
        for i, v in rows.items():
            lines.append(f"\t{{i=\"{i}\"}} {fmt(v)}")
        lines.append("")

    for s in (-3.0, -0.5, 2.0, 0.0):
        emit(f"m % {fmt(s)}", {i: gmod(v, s) for i, v in vals.items()})
        emit(f"{fmt(s)} % m", {i: gmod(s, v) for i, v in vals.items()})
    for s in (-3.0, -0.5, 2.0):
        emit(f"m ^ {fmt(s)}", {i: gpow(v, s) for i, v in vals.items()})
        # NB: ^ binds tighter than unary minus, so "-3 ^ m" is -(3 ^ m)
        if s < 0:
            emit(f"{fmt(s)} ^ m",
                 {i: -gpow(-s, v) for i, v in vals.items()})
        else:
            emit(f"{fmt(s)} ^ m", {i: gpow(s, v) for i, v in vals.items()})
        emit(f"({fmt(s)}) ^ m", {i: gpow(s, v) for i, v in vals.items()})
    for s in (2.0, -1.0):
        emit(f"m atan2 {fmt(s)}",
             {i: math.atan2(v, s) for i, v in vals.items()})
        emit(f"{fmt(s)} atan2 m",
             {i: math.atan2(s, v) for i, v in vals.items()})
    return "\n".join(lines)


def gen_utf8_grid() -> str:
    """Generated UTF-8 quoted-name grid (Prometheus 3 syntax): dotted and
    non-ASCII metric/label names through selectors, aggregation grouping,
    rate, and binary ops."""
    mets = {"http.requests.total": {("prod", "api"): 100.0,
                                    ("prod", "web"): 40.0,
                                    ("dev", "api"): 10.0},
            "żółć.total": {("prod", "api"): 7.0, ("dev", "db"): 3.0}}
    lines = ["# GENERATED by tools/gen_promqltest.py — UTF-8 quoted-name",
             "# grid: dotted/non-ASCII metric and label names.",
             "", "load 10s"]
    for m, rows in mets.items():
        for (env, svc), v in rows.items():
            lines.append(f"\t{{\"{m}\", env=\"{env}\", "
                         f"\"service.name\"=\"{svc}\"}} {fmt(v)}+{fmt(v)}x50")
    lines.append("")

    def sid(m, env, svc):
        return (f"{{\"{m}\", env=\"{env}\", \"service.name\"=\"{svc}\"}}")

    t, mult = 500, 51.0  # value at 500s = v + 50*v
    m1, m2 = "http.requests.total", "żółć.total"
    # plain selector
    lines.append(f'eval instant at {t}s {{"{m1}"}}')
    for (env, svc), v in mets[m1].items():
        lines.append(f"\t{sid(m1, env, svc)} {fmt(v * mult)}")
    lines.append("")
    # selector + matcher on quoted label
    lines.append(f'eval instant at {t}s {{"{m1}", "service.name"="api"}}')
    for (env, svc), v in mets[m1].items():
        if svc == "api":
            lines.append(f"\t{sid(m1, env, svc)} {fmt(v * mult)}")
    lines.append("")
    # aggregation grouped by a quoted label name
    lines.append(f'eval instant at {t}s sum by ("service.name") '
                 f'({{"{m1}"}})')
    bys = {}
    for (env, svc), v in mets[m1].items():
        bys[svc] = bys.get(svc, 0.0) + v * mult
    for svc, v in sorted(bys.items()):
        lines.append(f"\t{{\"service.name\"=\"{svc}\"}} {fmt(v)}")
    lines.append("")
    # rate over a dotted counter: linear v/10s growth
    lines.append(f'eval instant at {t}s rate({{"{m1}"}}[60s])')
    for (env, svc), v in mets[m1].items():
        lines.append(f"\t{{env=\"{env}\", \"service.name\"=\"{svc}\"}} "
                     f"{fmt(v / 10.0)}")
    lines.append("")
    # binop between two dotted metrics on shared labels
    lines.append(f'eval instant at {t}s {{"{m1}"}} '
                 f'* on (env, "service.name") {{"{m2}"}}')
    for (env, svc), v in mets[m1].items():
        if (env, svc) in mets[m2]:
            w = mets[m2][(env, svc)]
            lines.append(f"\t{{env=\"{env}\", \"service.name\"=\"{svc}\"}} "
                         f"{fmt(v * mult * w * mult)}")
    lines.append("")
    # quantile over the non-ASCII metric
    lines.append(f'eval instant at {t}s count({{"{m2}"}})')
    lines.append(f"\t{{}} {fmt(float(len(mets[m2])))}")
    lines.append("")
    # label_replace writing INTO a quoted label name
    lines.append(f'eval instant at {t}s sum by ("x.y") (label_replace('
                 f'{{"{m2}"}}, "x.y", "$1", "env", "(.*)"))')
    bye = {}
    for (env, svc), v in mets[m2].items():
        bye[env] = bye.get(env, 0.0) + v * mult
    for env, v in sorted(bye.items()):
        lines.append(f"\t{{\"x.y\"=\"{env}\"}} {fmt(v)}")
    lines.append("")
    return "\n".join(lines)


def gen_binop_vv() -> str:
    """Vector-vector arithmetic matching grid: on/ignoring one-to-one
    (result keeps only the matching labels), group_left/group_right
    many-to-one (many side keeps its labels; include-labels copied), with
    IEEE division/mod/pow edges (x/0, 0/0, %0)."""
    u = {("1", "x"): 2.0, ("2", "x"): -3.0, ("3", "y"): 0.0,
         ("4", "y"): 7.0}           # u{i,g}
    w = {"1": 4.0, "2": 0.0, "3": -2.0, "5": 9.0}  # w{i}
    m = {("1", "a"): 10.0, ("1", "b"): 20.0, ("2", "a"): 30.0}  # m{r,c}
    nn = {"1": 2.0, "2": 4.0}        # n{r}
    nh = {"1": ("h1", 3.0), "2": ("h2", 5.0)}  # nh{r,h}

    def gdiv(x, y):
        if y == 0.0:
            if x == 0.0:
                return math.nan
            return math.inf if x > 0 else -math.inf
        return x / y

    def gmod(x, y):
        try:
            return math.fmod(x, y)
        except ValueError:
            return math.nan

    def gpow(x, y):
        if x == 0.0 and y < 0:
            return math.inf
        try:
            return math.pow(x, y)
        except ValueError:
            return math.nan

    OPS = {"+": lambda x, y: x + y, "-": lambda x, y: x - y,
           "*": lambda x, y: x * y, "/": gdiv, "%": gmod, "^": gpow}
    lines = ["# GENERATED by tools/gen_promqltest.py — vector-vector",
             "# arithmetic matching grid: on/ignoring 1:1, group_left/",
             "# group_right, include-labels; IEEE /0, %0, pow edges.",
             "", "load 10s"]
    for (i, g), v in u.items():
        lines.append(f"\tu{{g=\"{g}\", i=\"{i}\"}} {fmt(v)}+0x50")
    for i, v in w.items():
        lines.append(f"\tw{{i=\"{i}\"}} {fmt(v)}+0x50")
    for (r, c), v in m.items():
        lines.append(f"\tmm{{c=\"{c}\", r=\"{r}\"}} {fmt(v)}+0x50")
    for r, v in nn.items():
        lines.append(f"\tn{{r=\"{r}\"}} {fmt(v)}+0x50")
    for r, (h, v) in nh.items():
        lines.append(f"\tnh{{h=\"{h}\", r=\"{r}\"}} {fmt(v)}+0x50")
    lines.append("")

    def emit(expr, rows):
        lines.append(f"eval instant at 500s {expr}")
        for labels, v in rows:
            lines.append(f"\t{series_id(labels)} {fmt(v)}")
        lines.append("")

    for op, f in OPS.items():
        # on(i) one-to-one: result labels = the on-labels only
        emit(f"u {op} on (i) w",
             [({"i": i}, f(v, w[i])) for (i, g), v in u.items()
              if i in w])
        # ignoring(g) one-to-one: drop g and __name__
        emit(f"u {op} ignoring (g) w",
             [({"i": i}, f(v, w[i])) for (i, g), v in u.items()
              if i in w])
        # many-to-one: many side keeps its full labelset
        emit(f"mm {op} on (r) group_left n",
             [({"r": r, "c": c}, f(v, nn[r])) for (r, c), v in m.items()
              if r in nn])
        # group_right mirror: one side is the LEFT operand
        emit(f"n {op} on (r) group_right mm",
             [({"r": r, "c": c}, f(nn[r], v)) for (r, c), v in m.items()
              if r in nn])
    # include-labels: group_left(h) copies h from the one side
    emit("mm * on (r) group_left (h) nh",
         [({"r": r, "c": c, "h": nh[r][0]}, v * nh[r][1])
          for (r, c), v in m.items() if r in nh])
    emit("nh * on (r) group_right (h) mm",
         [({"r": r, "c": c, "h": nh[r][0]}, nh[r][1] * v)
          for (r, c), v in m.items() if r in nh])
    return "\n".join(lines)


def gen_label_fns2() -> str:
    """label_replace / label_join grid: full-anchor regex, no-match keeps
    the row unchanged, empty replacement (or joining empties) removes the
    label, overwrite of an existing label, missing source label ≡ ''."""
    base = [({"__name__": "q", "src": "abc-123", "env": "p"}, 5.0),
            ({"__name__": "q", "src": "xyz", "env": "d"}, 6.0),
            ({"__name__": "q", "env": "e"}, 7.0)]
    lines = ["# GENERATED by tools/gen_promqltest.py — label_replace /",
             "# label_join grid (anchored regex, no-match no-op, empty",
             "# value removes the label, overwrite, missing src = '').",
             "", "load 10s"]
    for labels, v in base:
        rest = ", ".join(f'{k}="{labels[k]}"' for k in sorted(labels)
                         if k != "__name__")
        lines.append(f"\tq{{{rest}}} {fmt(v)}+0x50")
    lines.append("")

    def emit(expr, rows):
        lines.append(f"eval instant at 500s {expr}")
        for labels, v in rows:
            lines.append(f"\t{series_id(labels)} {fmt(v)}")
        lines.append("")

    def repl(labels, dst, val):
        out = dict(labels)
        if val == "":
            out.pop(dst, None)
        else:
            out[dst] = val
        return out

    # capture group: matches only src="abc-123"
    emit('label_replace(q, "dst", "$1", "src", "abc-([0-9]+)")',
         [(repl(l, "dst", "123") if l.get("src") == "abc-123" else l, v)
          for l, v in base])
    # regex is fully anchored: a bare [0-9]+ never matches "abc-123"
    emit('label_replace(q, "dst", "X", "src", "[0-9]+")',
         [(l, v) for l, v in base])
    # empty regex matches the MISSING src ('' value)
    emit('label_replace(q, "dst", "E", "src", "")',
         [(repl(l, "dst", "E") if "src" not in l else l, v)
          for l, v in base])
    # overwrite an existing label with the capture
    emit('label_replace(q, "env", "$1", "src", "(.*)")',
         [(repl(l, "env", l.get("src", "")), v) for l, v in base])
    # empty replacement removes the target label
    emit('label_replace(q, "env", "", "src", "(.*)")',
         [(repl(l, "env", ""), v) for l, v in base])
    # label_join concatenates (missing source joins as '')
    emit('label_join(q, "j", "-", "env", "src")',
         [(repl(l, "j", f"{l.get('env', '')}-{l.get('src', '')}"), v)
          for l, v in base])
    # single-source join = copy; overwrites the target
    emit('label_join(q, "src", "", "env")',
         [(repl(l, "src", l.get("env", "")), v) for l, v in base])
    # joining only missing/empty sources removes the target
    emit('label_join(q, "src", "", "nosuch")',
         [(repl(l, "src", ""), v) for l, v in base])
    return "\n".join(lines)


def gen_sort2() -> str:
    """sort / sort_desc ordered evals (NaN always at the end, upstream
    funcSort/funcSortDesc) and sort_by_label lexicographic ordering."""
    vals = {"a": 5.0, "b": 1.0, "c": 9.0, "d": 3.0, "nan": math.nan}
    lines = ["# GENERATED by tools/gen_promqltest.py — ordered sort grid:",
             "# sort/sort_desc place NaN last; sort_by_label is",
             "# lexicographic on the given label.",
             "", "load 10s"]
    for i, v in vals.items():
        lines.append(f"\ts{{i=\"{i}\"}} {fmt(v)}+0x50")
    lines.append("")
    finite = {i: v for i, v in vals.items() if not math.isnan(v)}

    def emit(expr, order):
        lines.append(f"eval ordered instant at 500s {expr}")
        for i in order:
            lines.append(f"\ts{{i=\"{i}\"}} {fmt(vals[i])}")
        lines.append("")

    asc = sorted(finite, key=lambda i: finite[i])
    emit("sort(s)", asc + ["nan"])
    emit("sort_desc(s)", asc[::-1] + ["nan"])
    emit('sort_by_label(s, "i")', sorted(vals))
    emit('sort_by_label_desc(s, "i")', sorted(vals, reverse=True))
    return "\n".join(lines)


def gen_holt2() -> str:
    """double_exponential_smoothing sf x tf x window grid over a trending
    wavy gauge (upstream recurrence re-derived in holt_winters())."""
    n = 60
    sams = [(k * 10_000, 10.0 + 5.0 * math.sin(k / 2.0) + 0.3 * k)
            for k in range(n + 1)]
    lines = ["# GENERATED by tools/gen_promqltest.py — smoothing grid:",
             "# double_exponential_smoothing over sf x tf x window.",
             "", "load 10s",
             "\thw " + " ".join(fmt(v) for _, v in sams), ""]
    for t_s in (400, 500):
        t = t_s * 1000
        for ws in (60, 120):
            vs = [v for _, v in window(sams, t, ws * 1000)]
            for sf in (0.1, 0.5, 0.9):
                for tf in (0.1, 0.5, 0.9):
                    lines.append(
                        f"eval instant at {t_s}s "
                        f"double_exponential_smoothing(hw[{ws}s], "
                        f"{fmt(sf)}, {fmt(tf)})")
                    lines.append(f"\t{{}} {fmt(holt_winters(vs, sf, tf))}")
                    lines.append("")
    return "\n".join(lines)


def gen_agg_range() -> str:
    """Per-step range grids where the result SET changes across steps:
    topk membership flips, comparison filters cross thresholds, grouped
    aggregates — '_' marks steps where a series is absent."""
    a = [(k * 10_000, 3.0 * k) for k in range(61)]
    b = [(k * 10_000, 101.0 - 2.0 * k) for k in range(61)]
    c = [(k * 10_000, 40.0) for k in range(61)]
    series = {"a": a, "b": b, "c": c}
    lines = ["# GENERATED by tools/gen_promqltest.py — per-step range",
             "# grids: topk membership flips, filters crossing thresholds,",
             "# grouped aggregates ('_' = absent at that step).",
             "", "load 10s"]
    for r, sams in series.items():
        lines.append(f"\tm{{r=\"{r}\"}} " + " ".join(fmt(v)
                                                     for _, v in sams))
    lines.append("")
    pts = list(range(200_000, 500_001, 50_000))
    hdr = "eval range from 200s to 500s step 50s "

    def cur(r, t):
        return instant(series[r], t)

    def rows(per_series, name=""):
        out = []
        for r in sorted(per_series):
            vals = per_series[r]
            if all(v is None for v in vals):
                continue
            out.append(f"\t{name}{{r=\"{r}\"}} " +
                       " ".join("_" if v is None else fmt(v)
                                for v in vals))
        return out

    # plain grouped aggregate per step
    lines.append(hdr + "sum by (r) (m)")
    lines.extend(rows({r: [cur(r, t) for t in pts] for r in series}))
    lines.append("")
    # scalar-valued aggregates per step
    for expr, f in (("sum(m)", sum), ("max(m)", max), ("min(m)", min),
                    ("quantile(0.5, m)", lambda vs: quantile(0.5, vs)),
                    ("avg(m)", lambda vs: sum(vs) / len(vs))):
        lines.append(hdr + expr)
        lines.append("\t{} " + " ".join(
            fmt(f([cur(r, t) for r in series])) for t in pts))
        lines.append("")
    # topk(1): membership flips as the series cross
    lines.append(hdr + "topk(1, m)")
    per = {}
    for r in series:
        per[r] = [cur(r, t)
                  if cur(r, t) == max(cur(x, t) for x in series) else None
                  for t in pts]
    lines.extend(rows({r: [None if v is None else v for v in per[r]]
                       for r in per}, name="m"))
    lines.append("")
    # comparison filter: rows appear as they cross the threshold
    lines.append(hdr + "m > 50")
    lines.extend(rows({r: [v if (v := cur(r, t)) is not None and v > 50
                           else None for t in pts] for r in series},
                      name="m"))
    lines.append("")
    # composed: count of series above threshold per step
    lines.append(hdr + "count(m > 50)")
    lines.append("\t{} " + " ".join(
        fmt(float(sum(1 for r in series if cur(r, t) > 50))) for t in pts))
    lines.append("")
    # over_time window per series per step
    lines.append(hdr + "avg_over_time(m[70s])")
    lines.extend(rows({r: [(lambda vs: sum(vs) / len(vs) if vs else None)(
        [v for _, v in window(series[r], t, 70_000)]) for t in pts]
        for r in series}))
    lines.append("")
    # binop of two aggregates per step
    lines.append(hdr + "sum(m) / count(m)")
    lines.append("\t{} " + " ".join(
        fmt(sum(cur(r, t) for r in series) / 3.0) for t in pts))
    lines.append("")
    return "\n".join(lines)


def gen_subquery2() -> str:
    """Subquery grids with offset/@ (outer and inner) and a nested
    subquery; evaluation points are absolute multiples of the step in
    (t-range, t] (upstream eval alignment)."""
    gs = [(i * 10_000, 3.0 * i + 10) for i in range(61)]
    lines = ["# GENERATED by tools/gen_promqltest.py — subquery offset/@",
             "# (outer applies to the subquery eval time; inner to every",
             "# evaluation point) and nested subqueries.",
             "", "load 10s",
             "\tg " + " ".join(fmt(v) for _, v in gs), ""]

    def points(t, rng, step):
        first = (t - rng) // step * step
        while first <= t - rng:
            first += step
        return list(range(first, t + 1, step))

    def inner_vals(t, rng, step, shift=0, pin=None):
        out = []
        for p in points(t, rng, step):
            q = pin if pin is not None else p - shift
            v = instant(gs, q)
            if v is not None:
                out.append(v)
        return out

    for t_s in (305, 500, 605):
        t = t_s * 1000
        # outer offset shifts the subquery evaluation time
        vs = inner_vals(t - 50_000, 100_000, 30_000)
        lines.append(f"eval instant at {t_s}s "
                     f"sum_over_time(g[100s:30s] offset 50s)")
        lines.append(f"\t{{}} {fmt(sum(vs))}")
        lines.append("")
        # inner offset shifts every evaluation point
        vs = inner_vals(t, 100_000, 30_000, shift=30_000)
        lines.append(f"eval instant at {t_s}s "
                     f"sum_over_time((g offset 30s)[100s:30s])")
        lines.append(f"\t{{}} {fmt(sum(vs))}")
        lines.append("")
        # outer @ pins the subquery eval time
        vs = inner_vals(400_000, 100_000, 30_000)
        lines.append(f"eval instant at {t_s}s "
                     f"max_over_time(g[100s:30s] @ 400)")
        lines.append(f"\t{{}} {fmt(max(vs))}")
        lines.append("")
        # inner @ pins every evaluation point to one instant
        vs = inner_vals(t, 100_000, 30_000, pin=250_000)
        lines.append(f"eval instant at {t_s}s "
                     f"min_over_time((g @ 250)[100s:30s])")
        lines.append(f"\t{{}} {fmt(min(vs))}")
        lines.append("")
        # combined offset + @ on the subquery
        vs = inner_vals(450_000 - 40_000, 120_000, 40_000)
        lines.append(f"eval instant at {t_s}s "
                     f"avg_over_time(g[120s:40s] offset 40s @ 450)")
        lines.append(f"\t{{}} {fmt(sum(vs) / len(vs))}")
        lines.append("")
        # nested subquery: outer points each run an inner subquery
        outer = []
        for p in points(t, 90_000, 30_000):
            iv = inner_vals(p, 60_000, 20_000)
            if iv:
                outer.append(min(iv))
        lines.append(f"eval instant at {t_s}s "
                     f"max_over_time(min_over_time(g[60s:20s])[90s:30s])")
        lines.append(f"\t{{}} {fmt(max(outer))}")
        lines.append("")
        # subquery step defaulting: [100s:] uses the 1m default interval
        # (upstream --query.default-evaluation-interval)
        vs = inner_vals(t, 100_000, 60_000)
        lines.append(f"eval instant at {t_s}s count_over_time(g[100s:])")
        lines.append(f"\t{{}} {fmt(float(len(vs)))}")
        lines.append("")
    return "\n".join(lines)


def gen_time_vec() -> str:
    """Calendar functions over a VECTOR argument (sample value = epoch
    seconds): leap day, year boundaries, month ends; upstream Weekday()
    has Sunday = 0."""
    import datetime as _dt

    DATES = {
        "leap": "2024-02-29T23:59:30",
        "nyd": "2024-01-01T00:00:00",
        "nye": "2024-12-31T23:59:59",
        "mid": "2023-06-15T12:34:56",
        "epoch": "1970-01-01T00:00:00",
        "feb00": "2000-02-29T06:00:00",
    }
    ts = {k: _dt.datetime.fromisoformat(v).replace(
        tzinfo=_dt.timezone.utc) for k, v in DATES.items()}
    FNS = {
        "minute": lambda d: float(d.minute),
        "hour": lambda d: float(d.hour),
        "day_of_week": lambda d: float((d.weekday() + 1) % 7),
        "day_of_month": lambda d: float(d.day),
        "day_of_year": lambda d: float(d.timetuple().tm_yday),
        "days_in_month": lambda d: float(
            ((d.replace(day=28) + _dt.timedelta(days=4)).replace(day=1)
             - _dt.timedelta(days=1)).day),
        "month": lambda d: float(d.month),
        "year": lambda d: float(d.year),
    }
    lines = ["# GENERATED by tools/gen_promqltest.py — calendar functions",
             "# over a vector argument (value = epoch seconds); Sunday=0.",
             "", "load 10s"]
    for k, d in ts.items():
        lines.append(f"\tdt{{d=\"{k}\"}} {fmt(d.timestamp())}+0x50")
    lines.append("")
    for fn, f in FNS.items():
        lines.append(f"eval instant at 500s {fn}(dt)")
        for k, d in ts.items():
            lines.append(f"\t{{d=\"{k}\"}} {fmt(f(d))}")
        lines.append("")
    # timestamp() returns the SAMPLE timestamp, not the value
    lines.append("eval instant at 505s timestamp(dt)")
    for k in ts:
        lines.append(f"\t{{d=\"{k}\"}} 500")
    lines.append("")
    lines.append("eval instant at 505s timestamp(dt offset 100s)")
    for k in ts:
        lines.append(f"\t{{d=\"{k}\"}} 400")
    lines.append("")
    # ts_of_* likewise expose the ORIGINAL sample timestamp under offset
    lines.append("eval instant at 505s ts_of_last_over_time(dt[60s] offset 100s)")
    for k in ts:
        lines.append(f"\t{{d=\"{k}\"}} 400")
    lines.append("")
    lines.append("eval instant at 505s "
                 "ts_of_first_over_time(dt[60s] offset 100s)")
    for k in ts:
        lines.append(f"\t{{d=\"{k}\"}} 350")
    lines.append("")
    lines.append("eval instant at 505s timestamp(dt @ 250)")
    for k in ts:
        lines.append(f"\t{{d=\"{k}\"}} 250")
    lines.append("")
    return "\n".join(lines)


def gen_ts_of_subq() -> str:
    """ts_of_* through SUBQUERIES x offset x @: subquery points carry the
    inner GRID timestamps (upstream engine.go — the inner evaluator's step
    times, not the raw sample times), and the ts_of family must expose
    those timestamps in the OUTER frame under offset/@ re-anchoring.
    Expected values from an independent inner-grid walk (ceil-aligned
    absolute multiples of the inner step, left-open outer window,
    lookback-carried inner points)."""
    S = 1000
    n = 6
    vals_m = [float(i) for i in range(n)]          # monotonic
    vals_v = [3.0, 2.0, 1.0, 0.5, 1.5, 2.5]        # v-shaped
    sams = {"m": [(i * 60 * S, vals_m[i]) for i in range(n)],
            "vv": [(i * 60 * S, vals_v[i]) for i in range(n)]}
    LOOK = 300_000

    def inner_points(name, te, R, ss):
        pts = []
        lo = te - R
        pt = -((-lo) // ss) * ss      # ceil to a multiple of ss
        while pt <= te:
            if pt > lo:               # left-open outer window
                win = [(ts, v) for ts, v in sams[name]
                       if pt - LOOK < ts <= pt]
                if win:
                    pts.append((pt, win[-1][1]))
            pt += ss
        return pts

    def expect(fn, pts):
        assert pts, fn
        if fn == "ts_of_last_over_time":
            return pts[-1][0]
        if fn == "ts_of_first_over_time":
            return pts[0][0]
        if fn == "ts_of_max_over_time":      # last tied extreme wins
            return max(pts, key=lambda pv: (pv[1], pv[0]))[0]
        return min(pts, key=lambda pv: (pv[1], -pv[0]))[0]

    lines = ["# GENERATED by tools/gen_promqltest.py — ts_of_* through",
             "# subqueries x offset x @ (inner grid timestamps exposed in",
             "# the outer frame; independent grid-walk expectations).",
             "", "load 1m"]
    lines.append("\tm " + " ".join(fmt(v) for v in vals_m))
    lines.append("\tvv " + " ".join(fmt(v) for v in vals_v))
    lines.append("")
    R, ss = 240_000, 60_000
    fns = ["ts_of_first_over_time", "ts_of_last_over_time",
           "ts_of_max_over_time", "ts_of_min_over_time"]
    mods = [("", lambda t: t),
            (" offset 2m", lambda t: t - 120_000),
            (" @ 240", lambda t: 240_000),
            (" offset 1m @ 270", lambda t: 270_000 - 60_000)]
    t = 300_000
    for name in ("m", "vv"):
        for fn in fns:
            for mod, te_of in mods:
                want = expect(fn, inner_points(name, te_of(t), R, ss))
                lines.append(f"eval instant at {t // 1000}s "
                             f"{fn}({name}[4m:1m]{mod})")
                lines.append(f"\t{{}} {fmt(want / 1000)}")
                lines.append("")
    for name in ("m", "vv"):
        for fn in fns[:2]:
            for mod, te_of in mods[:2]:
                wants = [expect(fn, inner_points(name, te_of(tt), R, ss))
                         for tt in (240_000, 270_000, 300_000)]
                lines.append("eval range from 240s to 300s step 30s "
                             f"{fn}({name}[4m:1m]{mod})")
                lines.append("\t{} " + " ".join(fmt(w / 1000) for w in wants))
                lines.append("")
    return "\n".join(lines)


def gen_scalar_fns() -> str:
    """scalar() cardinality rules (1 series → value, else NaN), vector(),
    and absent() equality-matcher label decoration."""
    lines = ["# GENERATED by tools/gen_promqltest.py — scalar()/vector()/",
             "# absent(): scalar is NaN unless exactly one series; absent",
             "# decorates from equality matchers only (never __name__).",
             "", "load 10s",
             "\tone{job=\"a\"} 11+0x50",
             "\tmany{i=\"1\"} 1+0x50",
             "\tmany{i=\"2\"} 2+0x50", ""]

    def emit(expr, rows):
        lines.append(f"eval instant at 500s {expr}")
        for line in rows:
            lines.append(f"\t{line}")
        lines.append("")

    emit("scalar(one)", ["11"])
    emit("scalar(many)", ["NaN"])
    emit("scalar(nosuch)", ["NaN"])
    emit("scalar(one) * 3 + time()", [fmt(11.0 * 3 + 500.0)])
    emit("vector(5)", ["{} 5"])
    emit("vector(time())", ["{} 500"])
    emit("vector(scalar(one) * 2)", ["{} 22"])
    emit("absent(one)", [])
    emit("absent(nosuch)", ["{} 1"])
    emit('absent(nosuch{job="x"})', ['{job="x"} 1'])
    emit('absent(nosuch{job="x", env="p"})', ['{env="p", job="x"} 1'])
    # regex / negative matchers contribute no labels
    emit('absent(nosuch{job=~"x.*", env="p"})', ['{env="p"} 1'])
    emit('absent(nosuch{job!="x"})', ["{} 1"])
    # a present metric with a non-matching matcher IS absent
    emit('absent(one{job="zzz"})', ['{job="zzz"} 1'])
    emit("absent(sum(nosuch))", ["{} 1"])
    return "\n".join(lines)


def gen_nhcb() -> str:
    """NHCB (custom-bucket, schema -53) native histograms via the upstream
    custom_values literal: quantile/fraction follow the CLASSIC rules
    (first bucket's lower bound clamps to 0 unless le <= 0; no mass below
    0), stddev/stdvar use ARITHMETIC midpoints — the custom-bucket arm of
    funcHistogramStdDev — with the +Inf overflow representing its lower
    edge."""
    CASES = {
        # custom_values, counts (incl optional +Inf overflow), sum
        "web": ([0.1, 0.5, 1.0, 5.0], [5, 3, 1, 1, 0], 4.0),
        "overflow": ([1.0, 2.0], [2, 3, 5], 40.0),
        "negbound": ([-2.0, 1.0, 3.0], [1, 4, 2], 6.0),
        "single": ([10.0], [7], 21.0),
    }

    def grid(cv, cnts):
        bks = [(cv[i], float(cnts[i])) for i in range(len(cv))]
        bks.append((math.inf,
                    float(cnts[len(cv)]) if len(cnts) > len(cv) else 0.0))
        return bks

    def nq(q, bks, total):
        if q < 0:
            return -math.inf
        if q > 1:
            return math.inf
        if total == 0:
            return math.nan
        cum, run = [], 0.0
        for le, c in bks:
            run += c
            cum.append((le, run))
        rank = q * total
        idx = next((i for i, (_, c) in enumerate(cum) if c >= rank), None)
        if idx is None:
            return math.nan
        if cum[idx][0] == math.inf:
            return cum[-2][0] if len(cum) >= 2 else math.nan
        if idx == 0:
            lower = cum[0][0] if cum[0][0] <= 0 else 0.0
            count_lo = 0.0
        else:
            lower = cum[idx - 1][0]
            count_lo = cum[idx - 1][1]
        upper, count_hi = cum[idx]
        denom = count_hi - count_lo
        frac = (math.nan if rank == count_lo else math.inf) \
            if denom == 0 else (rank - count_lo) / denom
        return lower + (upper - lower) * frac

    def cum_at(bks, total, x):
        cum, run = [], 0.0
        for le, c in bks:
            run += c
            cum.append((le, run))
        idx = next((i for i, (le, _) in enumerate(cum) if le >= x), None)
        if idx is None or x == math.inf:
            return total
        if x <= 0.0:
            return 0.0
        lower = 0.0 if idx == 0 else cum[idx - 1][0]
        count_lo = 0.0 if idx == 0 else cum[idx - 1][1]
        upper, count_hi = cum[idx]
        frac = 0.0 if upper == lower else (x - lower) / (upper - lower)
        frac = min(max(frac, 0.0), 1.0)
        return count_lo + (count_hi - count_lo) * frac

    def stdvar(cv, cnts, s):
        bks = grid(cv, cnts)
        total = sum(c for _, c in bks)
        mean = s / total
        var = 0.0
        prev = None
        for i, (le, c) in enumerate(bks):
            if i == 0:
                lower = le if le <= 0 else 0.0
            else:
                lower = prev
            if le <= 0:
                mid = le
            elif le == math.inf:
                mid = lower
            else:
                mid = (lower + le) / 2
            var += c * (mid - mean) * (mid - mean)
            prev = le
        return var / total

    lines = ["# GENERATED by tools/gen_promqltest.py — NHCB custom-bucket",
             "# histograms (schema -53 custom_values literals): classic",
             "# interpolation + arithmetic stddev midpoints.",
             "", "load 10s"]
    for case, (cv, cnts, s) in CASES.items():
        lines.append(
            f"\tch{{case=\"{case}\"}} {{{{schema:-53 "
            f"count:{fmt(float(sum(cnts)))} sum:{fmt(s)} "
            f"custom_values:[{' '.join(fmt(v) for v in cv)}] "
            f"buckets:[{' '.join(fmt(float(c)) for c in cnts)}]}}}}x30")
    lines.append("")
    for q in (0.0, 0.25, 0.5, 0.9, 1.0):
        lines.append(f"eval instant at 200s histogram_quantile({fmt(q)}, ch)")
        for case, (cv, cnts, s) in CASES.items():
            bks = grid(cv, cnts)
            total = sum(c for _, c in bks)
            lines.append(f"\t{{case=\"{case}\"}} {fmt(nq(q, bks, total))}")
        lines.append("")
    for lo, hi in ((0.0, 1.0), (0.5, 5.0), (0.0, math.inf)):
        hi_s = "Inf" if hi == math.inf else fmt(hi)
        lines.append(f"eval instant at 200s "
                     f"histogram_fraction({fmt(lo)}, {hi_s}, ch)")
        for case, (cv, cnts, s) in CASES.items():
            bks = grid(cv, cnts)
            total = sum(c for _, c in bks)
            frac = (cum_at(bks, total, hi) - cum_at(bks, total, lo)) / total
            lines.append(f"\t{{case=\"{case}\"}} {fmt(frac)}")
        lines.append("")
    for fn, post in (("histogram_stdvar", lambda v: v),
                     ("histogram_stddev", math.sqrt),
                     ("histogram_avg", None)):
        lines.append(f"eval instant at 200s {fn}(ch)")
        for case, (cv, cnts, s) in CASES.items():
            if post is None:
                v = s / sum(cnts)
            else:
                v = post(stdvar(cv, cnts, s))
            lines.append(f"\t{{case=\"{case}\"}} {fmt(v)}")
        lines.append("")
    return "\n".join(lines)


def gen_fraction_edges() -> str:
    """histogram_fraction BOUNDARY blocks over exponential-schema native
    histograms (round-9 verdict #7): bounds exactly on bucket edges, the
    zero-bucket edge, inverted/empty intervals (upstream histogramFraction:
    lower >= upper -> 0), NaN bounds -> NaN, and infinite bounds.  Same
    independent cum model as gen_native_quantile (engine-proven), plus the
    upstream guards."""
    def buckets_of(schema, offset, bks, z, n_offset=0, n_bks=()):
        base = 2.0 ** (2.0 ** -schema)
        out = []
        for p, c in enumerate(n_bks):
            i = n_offset + p
            out.append((-(base ** i), -(base ** (i - 1)), float(c)))
        out.sort()
        if z:
            out.append((0.0, 0.0, z))
        for p, c in enumerate(bks):
            out.append((base ** (offset + p - 1), base ** (offset + p),
                        float(c)))
        last = out[-1][1] if out else 0.0
        out.append((last, math.inf, 0.0))
        return out

    def cum_at(bks, total, x):
        cum = []
        run = 0.0
        for lo, le, c in bks:
            run += c
            cum.append((lo, le, run))
        idx = next((i for i, (_, le, _) in enumerate(cum) if le >= x), None)
        if idx is None or x == math.inf:
            return total
        lower = cum[idx][0]
        count_lo = 0.0 if idx == 0 else cum[idx - 1][2]
        upper, count_hi = cum[idx][1], cum[idx][2]
        frac = 0.0 if upper == lower else (x - lower) / (upper - lower)
        frac = min(max(frac, 0.0), 1.0)
        return count_lo + (count_hi - count_lo) * frac

    def fraction(h, lo, hi):
        if math.isnan(lo) or math.isnan(hi):
            return math.nan
        if lo >= hi:
            return 0.0  # upstream histogramFraction inverted/empty guard
        bks, total = grid(h), total_of(h)
        return (cum_at(bks, total, hi) - cum_at(bks, total, lo)) / total

    HISTS = {
        "zero": dict(schema=0, offset=0, bks=[2, 2], z=3.0, sum=7.0),
        "mixed": dict(schema=0, offset=0, bks=[2, 1], z=1.0, sum=-3.0,
                      n_offset=0, n_bks=[3, 2]),
        "neg_only": dict(schema=0, offset=0, bks=[], z=0.0, sum=-20.0,
                         n_offset=1, n_bks=[4, 1]),
        "basic": dict(schema=0, offset=0, bks=[2, 3, 1], z=0.0, sum=14.0),
        "sparse": dict(schema=0, offset=1, bks=[0, 0, 5], z=0.0, sum=55.0),
    }

    def total_of(h):
        return h["z"] + sum(h["bks"]) + sum(h.get("n_bks", []))

    def grid(h):
        return buckets_of(h["schema"], h["offset"], h["bks"], h["z"],
                          h.get("n_offset", 0), h.get("n_bks", ()))

    lines = ["# GENERATED by tools/gen_promqltest.py — histogram_fraction",
             "# boundary blocks: bucket-edge bounds, zero-bucket edges,",
             "# inverted/empty intervals (upstream: lower >= upper -> 0),",
             "# NaN and infinite bounds.",
             "", "load 10s"]
    for case, h in HISTS.items():
        zb = f" z_bucket:{fmt(h['z'])}" if h["z"] else ""
        pos = (f" offset:{h['offset']} buckets:["
               + " ".join(fmt(float(b)) for b in h["bks"]) + "]"
               if h["bks"] else "")
        neg = (f" n_offset:{h['n_offset']} n_buckets:["
               + " ".join(fmt(float(b)) for b in h["n_bks"]) + "]"
               if h.get("n_bks") else "")
        lines.append(
            f"\tnh{{case=\"{case}\"}} {{{{schema:{h['schema']} "
            f"count:{fmt(total_of(h))} sum:{fmt(h['sum'])}{zb}"
            f"{pos}{neg}}}}}x30")
    lines.append("")

    def fb(v):
        if math.isnan(v):
            return "NaN"
        if v == math.inf:
            return "Inf"
        if v == -math.inf:
            return "-Inf"
        return fmt(v)

    BOUNDS = [
        # exact bucket edges of the schema-0 grid (base 2)
        (0.5, 1.0), (1.0, 2.0), (0.5, 2.0), (2.0, 4.0),
        # zero-bucket edges: intervals ending/starting exactly at 0
        (-1.0, 0.0), (0.0, 0.5), (-0.25, 0.25), (0.0, math.inf),
        (-math.inf, 0.0),
        # interior (interpolated) bounds
        (0.75, 1.5), (-1.5, 1.5),
        # full / half-infinite coverage
        (-math.inf, math.inf), (-2.0, math.inf), (-math.inf, -1.0),
        # empty and inverted intervals -> 0 (upstream guard)
        (0.0, 0.0), (1.0, 1.0), (2.0, 1.0), (math.inf, -math.inf),
        (math.inf, math.inf),
        # NaN bounds -> NaN
        (math.nan, 1.0), (1.0, math.nan),
        # sub-bucket and multi-bucket interpolated spans
        (0.25, 0.5), (4.0, 8.0), (0.5, 4.0), (-4.0, -0.5), (-1.0, 1.0),
    ]
    for lo, hi in BOUNDS:
        lines.append(f"eval instant at 200s "
                     f"histogram_fraction({fb(lo)}, {fb(hi)}, nh)")
        for case, h in HISTS.items():
            lines.append(f"\t{{case=\"{case}\"}} {fmt(fraction(h, lo, hi))}")
        lines.append("")
    return "\n".join(lines)


def gen_nhcb_fraction() -> str:
    """histogram_fraction boundary blocks over NHCB (schema -53,
    custom_values) histograms: bounds exactly ON custom bounds, below the
    first bound (classic rules: no mass below 0 / below the first bound's
    interpolation anchor), beyond the last finite bound (the +Inf overflow
    carries no finite-x mass), inverted/NaN bounds.  Classic cum model from
    gen_nhcb (engine-proven) + the upstream guards."""
    CASES = {
        "web": ([0.1, 0.5, 1.0, 5.0], [5, 3, 1, 1, 0], 4.0),
        "overflow": ([1.0, 2.0], [2, 3, 5], 40.0),
        "negbound": ([-2.0, 1.0, 3.0], [1, 4, 2], 6.0),
        "single": ([10.0], [7], 21.0),
    }

    def grid(cv, cnts):
        bks = [(cv[i], float(cnts[i])) for i in range(len(cv))]
        bks.append((math.inf,
                    float(cnts[len(cv)]) if len(cnts) > len(cv) else 0.0))
        return bks

    def cum_at(bks, total, x):
        cum, run = [], 0.0
        for le, c in bks:
            run += c
            cum.append((le, run))
        idx = next((i for i, (le, _) in enumerate(cum) if le >= x), None)
        if idx is None or x == math.inf:
            return total
        if x <= 0.0:
            return 0.0
        lower = 0.0 if idx == 0 else cum[idx - 1][0]
        count_lo = 0.0 if idx == 0 else cum[idx - 1][1]
        upper, count_hi = cum[idx]
        frac = 0.0 if upper == lower else (x - lower) / (upper - lower)
        frac = min(max(frac, 0.0), 1.0)
        return count_lo + (count_hi - count_lo) * frac

    def fraction(cv, cnts, lo, hi):
        if math.isnan(lo) or math.isnan(hi):
            return math.nan
        if lo >= hi:
            return 0.0
        bks = grid(cv, cnts)
        total = sum(c for _, c in bks)
        return (cum_at(bks, total, hi) - cum_at(bks, total, lo)) / total

    def fb(v):
        if math.isnan(v):
            return "NaN"
        if v == math.inf:
            return "Inf"
        if v == -math.inf:
            return "-Inf"
        return fmt(v)

    lines = ["# GENERATED by tools/gen_promqltest.py — NHCB",
             "# histogram_fraction boundary blocks: bounds on/below/beyond",
             "# the custom bounds, overflow bucket, inverted/NaN bounds.",
             "", "load 10s"]
    for case, (cv, cnts, s) in CASES.items():
        lines.append(
            f"\tch{{case=\"{case}\"}} {{{{schema:-53 "
            f"count:{fmt(float(sum(cnts)))} sum:{fmt(s)} "
            f"custom_values:[{' '.join(fmt(v) for v in cv)}] "
            f"buckets:[{' '.join(fmt(float(c)) for c in cnts)}]}}}}x30")
    lines.append("")
    BOUNDS = [
        # exactly on custom bounds
        (0.1, 0.5), (0.5, 1.0), (0.1, 5.0), (1.0, 2.0),
        # below the first bound / starting at 0
        (0.0, 0.1), (0.0, 0.05), (0.0, 1.0),
        # negative bounds (classic: no mass at x <= 0)
        (-3.0, -1.0), (-2.0, 1.0), (-math.inf, 0.0),
        # interior interpolation
        (0.25, 0.75), (1.5, 4.0),
        # beyond the last finite bound: overflow carries no finite-x mass
        (5.0, 100.0), (2.0, 100.0), (10.0, math.inf), (0.0, math.inf),
        (-math.inf, math.inf),
        # inverted / empty -> 0; NaN -> NaN
        (0.5, 0.5), (5.0, 0.1), (math.nan, 1.0), (1.0, math.nan),
        # more custom-bound straddles and sub-first-bound spans
        (0.1, 1.0), (0.5, 3.0), (3.0, 5.0), (0.05, 0.1), (2.0, 3.0),
    ]
    for lo, hi in BOUNDS:
        lines.append(f"eval instant at 200s "
                     f"histogram_fraction({fb(lo)}, {fb(hi)}, ch)")
        for case, (cv, cnts, s) in CASES.items():
            lines.append(
                f"\t{{case=\"{case}\"}} {fmt(fraction(cv, cnts, lo, hi))}")
        lines.append("")
    return "\n".join(lines)


def _sq_points(end: int, rng: int, step: int) -> list[int]:
    """Subquery evaluation points: absolute multiples of step in
    (end-rng, end] (upstream engine.go subquery alignment)."""
    first = (end - rng) // step * step
    while first <= end - rng:
        first += step
    return list(range(first, end + 1, step))


def gen_at_subq3() -> str:
    """Three-way @ start()/end() x subquery x offset interactions in RANGE
    queries — where start() != end() (round-9 verdict #7: the r9 @-anchor
    bug lived in a two-way gap; range queries add the third axis).  Sample
    values = index, so every expectation is a sum/count over an explicit
    point list."""
    gs = [(i * 10_000, float(i)) for i in range(91)]

    def ival(p, shift=0, pin=None):
        q = pin if pin is not None else p - shift
        return instant(gs, q)

    def sq(end, rng, step, shift=0, pin=None):
        out = []
        for p in _sq_points(end, rng, step):
            v = ival(p, shift, pin)
            if v is not None:
                out.append(v)
        return out

    lines = ["# GENERATED by tools/gen_promqltest.py — @ start()/end() x",
             "# subquery x offset three-way interactions in range queries",
             "# (start != end): outer @ anchors the subquery end, outer",
             "# offset then shifts it, inner offset/@ shift or pin every",
             "# evaluation point.",
             "", "load 10s",
             "\tg " + " ".join(fmt(v) for _, v in gs), ""]

    A, B, S = 300_000, 600_000, 100_000   # range grid 300s..600s step 100s
    grid_ts = list(range(A, B + 1, S))

    def emit_range(expr, vals_per_step):
        lines.append(f"eval range from 300s to 600s step 100s {expr}")
        cells = " ".join("_" if v is None else fmt(v)
                         for v in vals_per_step)
        lines.append(f"\t{{}} {cells}")
        lines.append("")

    def agg(vals, op):
        if not vals:
            return None
        if op == "sum":
            return sum(vals)
        if op == "count":
            return float(len(vals))
        if op == "min":
            return min(vals)
        return max(vals)

    # outer @ start()/end() + outer offset: anchor constant across steps
    for anchor_fn, anchor in (("start()", A), ("end()", B)):
        for off_s in (0, 50):
            off = off_s * 1000
            osfx = f" offset {off_s}s" if off_s else ""
            vals = sq(anchor - off, 100_000, 30_000)
            emit_range(f"sum_over_time(g[100s:30s] @ {anchor_fn}{osfx})",
                       [agg(vals, 'sum')] * len(grid_ts))
            emit_range(f"count_over_time(g[100s:30s] @ {anchor_fn}{osfx})",
                       [agg(vals, 'count')] * len(grid_ts))

    # inner offset under an outer @: every point shifted, anchor pinned
    vals = sq(B, 100_000, 30_000, shift=30_000)
    emit_range("sum_over_time((g offset 30s)[100s:30s] @ end())",
               [agg(vals, 'sum')] * len(grid_ts))

    # inner offset + outer offset + outer @ start(): all three at once
    vals = sq(A - 40_000, 100_000, 20_000, shift=20_000)
    emit_range("sum_over_time((g offset 20s)[100s:20s] @ start() offset 40s)",
               [agg(vals, 'sum')] * len(grid_ts))

    # inner @ start() pins every point; outer window still moves with t
    emit_range("sum_over_time((g @ start())[100s:30s])",
               [agg([v for v in (ival(p, pin=A)
                                 for p in _sq_points(t, 100_000, 30_000))
                     if v is not None], 'sum') for t in grid_ts])

    # inner @ end() x outer offset: pinned value, moving (shifted) window
    emit_range("count_over_time((g @ end())[100s:30s] offset 50s)",
               [agg([v for v in (ival(p, pin=B)
                                 for p in _sq_points(t - 50_000, 100_000,
                                                     30_000))
                     if v is not None], 'count') for t in grid_ts])

    # moving subquery with outer offset only (control row: varies by step)
    emit_range("max_over_time(g[100s:30s] offset 50s)",
               [agg(sq(t - 50_000, 100_000, 30_000), 'max')
                for t in grid_ts])

    # nested subquery with outer @ end() + offset
    def nested(end):
        outer = []
        for p in _sq_points(end, 90_000, 30_000):
            iv = sq(p, 60_000, 20_000)
            if iv:
                outer.append(min(iv))
        return outer
    vals = nested(B - 30_000)
    emit_range("max_over_time(min_over_time(g[60s:20s])[90s:30s]"
               " @ end() offset 30s)",
               [agg(vals, 'max')] * len(grid_ts))

    # plain RANGE selectors (no subquery) under @ x offset in the same
    # range query: window = actual samples in (anchor-R, anchor]
    def win_vals(anchor, rng):
        return [v for _, v in window(gs, anchor, rng)]

    for anchor_fn, anchor in (("start()", A), ("end()", B)):
        vals = win_vals(anchor - 50_000, 100_000)
        emit_range(f"sum_over_time(g[100s] @ {anchor_fn} offset 50s)",
                   [agg(vals, 'sum')] * len(grid_ts))
        vals = win_vals(anchor, 100_000)
        emit_range(f"min_over_time(g[100s] @ {anchor_fn})",
                   [agg(vals, 'min')] * len(grid_ts))
        # order-statistic folds pick their sample set from the anchored
        # window: wrong anchor -> wrong quantile/median input
        emit_range(f"quantile_over_time(0.25, g[100s] @ {anchor_fn})",
                   [quantile(0.25, vals)] * len(grid_ts))
        emit_range(f"mad_over_time(g[100s] @ {anchor_fn})",
                   [mad(vals)] * len(grid_ts))

    # instant parity: at an instant query start() == end() == eval time
    for t_s in (305, 605):
        t = t_s * 1000
        for anchor_fn in ("start()", "end()"):
            vals = sq(t - 50_000, 100_000, 30_000)
            lines.append(f"eval instant at {t_s}s "
                         f"sum_over_time(g[100s:30s] @ {anchor_fn}"
                         f" offset 50s)")
            lines.append(f"\t{{}} {fmt(sum(vals))}")
            lines.append("")
    return "\n".join(lines)


def gen_nested_subq() -> str:
    """NESTED subqueries (fn(fn(sel[R:S])[R:S]), up to three levels) x
    offset x @ at every level, in range queries — the round-10 @-in-
    subquery bug class lived in exactly this kind of compiler recursion
    (EvalParams threading through nested compiles); this file pins the
    whole nesting axis.  Sample value = index, so each level's fold is a
    min/max/sum over an explicit point list."""
    gs = [(i * 10_000, float(i)) for i in range(91)]

    def ival(p, shift=0, pin=None):
        q = pin if pin is not None else p - shift
        return instant(gs, q)

    def sq(end, rng, step, shift=0, pin=None):
        out = []
        for p in _sq_points(end, rng, step):
            v = ival(p, shift, pin)
            if v is not None:
                out.append(v)
        return out

    A, B, S = 300_000, 600_000, 100_000
    grid_ts = list(range(A, B + 1, S))
    lines = ["# GENERATED by tools/gen_promqltest.py — nested subqueries",
             "# (two and three levels) x offset x @ at each level in",
             "# range queries: the subquery compiler recursion must",
             "# re-anchor every level independently.",
             "", "load 10s",
             "\tg " + " ".join(fmt(v) for _, v in gs), ""]

    def emit_range(expr, vals_per_step):
        lines.append(f"eval range from 300s to 600s step 100s {expr}")
        cells = " ".join("_" if v is None else fmt(v)
                         for v in vals_per_step)
        lines.append(f"\t{{}} {cells}")
        lines.append("")

    def inner_min(p, *, shift=0, pin_inner=None):
        iv = sq(p, 60_000, 20_000, shift=shift, pin=pin_inner)
        return min(iv) if iv else None

    def nested_pts(end, fn_inner):
        """(point, value) list of the outer [90s:30s] subquery whose inner
        expr evaluates via fn_inner(point)."""
        out = []
        for p in _sq_points(end, 90_000, 30_000):
            v = fn_inner(p)
            if v is not None:
                out.append((p, v))
        return out

    # 1. both levels moving
    emit_range("max_over_time(min_over_time(g[60s:20s])[90s:30s])",
               [max((v for _, v in nested_pts(t, inner_min)), default=None)
                for t in grid_ts])

    # 2. inner offset shifts every innermost point
    emit_range("max_over_time(min_over_time((g offset 10s)[60s:20s])"
               "[90s:30s])",
               [max((v for _, v in nested_pts(
                    t, lambda p: inner_min(p, shift=10_000))), default=None)
                for t in grid_ts])

    # 3. outer offset shifts the OUTER subquery window only
    emit_range("max_over_time(min_over_time(g[60s:20s])[90s:30s]"
               " offset 50s)",
               [max((v for _, v in nested_pts(t - 50_000, inner_min)),
                    default=None)
                for t in grid_ts])

    # 4. inner subquery @-pinned at start(): inner fold constant, outer
    # point count still moves with the (aligned) outer grid
    c = inner_min(A)
    emit_range("sum_over_time(min_over_time(g[60s:20s] @ start())"
               "[90s:30s])",
               [c * len(_sq_points(t, 90_000, 30_000)) for t in grid_ts])

    # 5. outer subquery @-pinned at end(): whole nest constant per step
    vend = [v for _, v in nested_pts(B, inner_min)]
    emit_range("sum_over_time(min_over_time(g[60s:20s])[90s:30s] @ end())",
               [sum(vend)] * len(grid_ts))

    # 6. three levels, all moving: innermost max over [40s:10s]
    def lvl1_max(p2):
        iv = sq(p2, 40_000, 10_000)
        return max(iv) if iv else None

    def lvl2_min(p):
        vs = [lvl1_max(p2) for p2 in _sq_points(p, 60_000, 20_000)]
        vs = [v for v in vs if v is not None]
        return min(vs) if vs else None
    emit_range("sum_over_time(min_over_time(max_over_time(g[40s:10s])"
               "[60s:20s])[90s:30s])",
               [sum(v for _, v in nested_pts(t, lvl2_min)) or None
                for t in grid_ts])

    # 7. rate over a nested subquery: extrapolation over the outer point
    # grid (the point values are monotone, so no reset correction fires)
    def inner_max(p):
        iv = sq(p, 60_000, 20_000)
        return max(iv) if iv else None
    emit_range("rate(max_over_time(g[60s:20s])[90s:30s])",
               [extrapolated_rate(nested_pts(t, inner_max), t, 90_000,
                                  True, True) for t in grid_ts])

    # 8. deriv over a nested subquery: least squares over the point grid
    emit_range("deriv(min_over_time(g[60s:20s])[90s:30s])",
               [linear_regression(nested_pts(t, inner_min),
                                  nested_pts(t, inner_min)[0][0])[0]
                for t in grid_ts])

    # 9. instant parity for the deepest shape
    for t_s in (305, 600):
        t = t_s * 1000
        vals = [v for _, v in nested_pts(t, lvl2_min)]
        lines.append(f"eval instant at {t_s}s "
                     "sum_over_time(min_over_time(max_over_time(g[40s:10s])"
                     "[60s:20s])[90s:30s])")
        lines.append(f"\t{{}} {fmt(sum(vals))}")
        lines.append("")
    return "\n".join(lines)


def gen_rate_at_range() -> str:
    """rate/increase/delta x @ x offset x subquery inside RANGE queries:
    the extrapolation anchor must follow the resolved @ time per step (the
    r9 two-way fix, now crossed with the range-query start()/end() axis).
    Counter value = 2*i at 10s spacing, so extrapolated_rate() computes
    every expectation."""
    cs = [(i * 10_000, 2.0 * i) for i in range(91)]

    lines = ["# GENERATED by tools/gen_promqltest.py — rate family x @",
             "# start()/end() x offset x subquery in range queries:",
             "# extrapolation anchored at the resolved @ time per step.",
             "", "load 10s",
             "\tc " + " ".join(fmt(v) for _, v in cs), ""]

    A, B, S = 300_000, 600_000, 100_000
    grid_ts = list(range(A, B + 1, S))

    def emit_range(expr, vals):
        lines.append(f"eval range from 300s to 600s step 100s {expr}")
        lines.append("\t{} " + " ".join("_" if v is None else fmt(v)
                                        for v in vals))
        lines.append("")

    def r(anchor, rng, kind):
        w = window(cs, anchor, rng)
        return extrapolated_rate(w, anchor, rng,
                                 kind in ("rate", "increase"),
                                 kind == "rate")

    # range selector x @ start()/end() x offset: constant across steps
    for kind in ("rate", "increase", "delta"):
        for anchor_fn, anchor in (("start()", A), ("end()", B)):
            v = r(anchor - 50_000, 100_000, kind)
            emit_range(f"{kind}(c[100s] @ {anchor_fn} offset 50s)",
                       [v] * len(grid_ts))

    # moving control rows (no @): anchor follows the step
    for kind in ("rate", "increase"):
        emit_range(f"{kind}(c[100s] offset 50s)",
                   [r(t - 50_000, 100_000, kind) for t in grid_ts])

    # rate over a SUBQUERY x @/offset: points at absolute 20s multiples,
    # extrapolation over those points in the anchored window
    def sq_rate(anchor, rng, step, kind):
        pts = [(p, instant(cs, p)) for p in _sq_points(anchor, rng, step)]
        pts = [(p, v) for p, v in pts if v is not None]
        return extrapolated_rate(pts, anchor, rng,
                                 kind in ("rate", "increase"),
                                 kind == "rate")

    for kind in ("rate", "increase"):
        v = sq_rate(B, 100_000, 20_000, kind)
        emit_range(f"{kind}(c[100s:20s] @ end())", [v] * len(grid_ts))
        v = sq_rate(A - 40_000, 100_000, 20_000, kind)
        emit_range(f"{kind}(c[100s:20s] @ start() offset 40s)",
                   [v] * len(grid_ts))
        emit_range(f"{kind}(c[100s:20s] offset 20s)",
                   [sq_rate(t - 20_000, 100_000, 20_000, kind)
                    for t in grid_ts])

    # irate/idelta (last-two-samples family) under the same anchors:
    # value depends only on the final two window samples, so a wrong
    # anchor shows up as the wrong pair being picked
    def ir(anchor, rng, kind):
        w = window(cs, anchor, rng)
        if len(w) < 2:
            return None
        (t0, v0), (t1, v1) = w[-2], w[-1]
        if kind == "idelta":
            return v1 - v0
        dv = v1 if v1 < v0 else v1 - v0  # counter reset -> use raw value
        return dv / ((t1 - t0) / 1000.0)

    for kind in ("irate", "idelta"):
        for anchor_fn, anchor in (("start()", A), ("end()", B)):
            v = ir(anchor - 30_000, 60_000, kind)
            emit_range(f"{kind}(c[60s] @ {anchor_fn} offset 30s)",
                       [v] * len(grid_ts))
        emit_range(f"{kind}(c[60s] offset 30s)",
                   [ir(t - 30_000, 60_000, kind) for t in grid_ts])
    return "\n".join(lines)


def gen_holt3() -> str:
    """double_exponential_smoothing PARAMETER edges (round-9 verdict #7):
    sf/tf at the extremes of (0,1), two-sample windows (the minimum), a
    constant series (trend 0), a strictly decreasing series, and a step
    jump.  Upstream recurrence re-derived in holt_winters()."""
    n = 60
    SERIES = {
        "const": [5.0] * (n + 1),
        "dec": [100.0 - 1.5 * k for k in range(n + 1)],
        "jump": [10.0 + (200.0 if k >= 30 else 0.0) + 0.5 * k
                 for k in range(n + 1)],
        "wavy": [20.0 + 8.0 * math.sin(k / 3.0) for k in range(n + 1)],
    }
    lines = ["# GENERATED by tools/gen_promqltest.py — smoothing parameter",
             "# edges: sf/tf near 0 and 1, minimum (two-sample) windows,",
             "# zero-trend and step-jump series.",
             "", "load 10s"]
    for case, vs in SERIES.items():
        lines.append(f"\ths{{case=\"{case}\"}} "
                     + " ".join(fmt(v) for v in vs))
    lines.append("")
    for t_s in (350, 500):
      t = t_s * 1000
      for ws in (20, 60, 300):
        for sf, tf in ((0.0001, 0.0001), (0.0001, 0.9999),
                       (0.9999, 0.0001), (0.9999, 0.9999),
                       (0.5, 0.0001), (0.0001, 0.5)):
            lines.append(
                f"eval instant at {t_s}s "
                f"double_exponential_smoothing(hs[{ws}s], {fmt(sf)}, "
                f"{fmt(tf)})")
            for case, vs in SERIES.items():
                samples = [(k * 10_000, v) for k, v in enumerate(vs)]
                wv = [v for _, v in window(samples, t, ws * 1000)]
                lines.append(f"\t{{case=\"{case}\"}} "
                             f"{fmt(holt_winters(wv, sf, tf))}")
            lines.append("")
    # single-sample window: fewer than two points -> empty result
    lines.append("eval instant at 500s "
                 "double_exponential_smoothing(hs[10s], 0.5, 0.5)")
    lines.append("")
    return "\n".join(lines)


def gen_hist_overtime() -> str:
    """sum/avg/last/first_over_time over native-histogram windows (upstream
    functions.go: sum/avg fold histograms bucket-wise, last/first return
    the sample itself; mixed float+histogram windows are skipped by
    sum/avg, picked by recency/kind for last/first).  Two-bucket schema-0
    histograms with count k and sum 3k make every expectation linear."""
    n = 10
    # hist k: count 3k, sum 3k, buckets [k, 2k] at les 1,2 (schema 0)
    def lit(k):
        return (f"{{{{schema:0 count:{fmt(3.0 * k)} sum:{fmt(3.0 * k)} "
                f"buckets:[{fmt(float(k))} {fmt(2.0 * k)}]}}}}")

    lines = ["# GENERATED by tools/gen_promqltest.py — *_over_time over",
             "# native-histogram windows: sum/avg fold bucket-wise,",
             "# last/first return the sample, mixed windows skip (sum/avg)",
             "# or pick by recency (last/first).",
             "", "load 1m",
             "\thg " + " ".join(lit(k + 1) for k in range(n + 1)),
             "\tmixed 5 " + lit(4) + " 9", ""]

    # window (5m, 10m] at 10m: hists k=6..10 (samples at 6m..10m)
    ks = list(range(7, 12))  # k values: sample i carries k=i+1; i=6..10
    tot = sum(ks)
    for expr, count in (
            ("histogram_count(sum_over_time(hg[5m]))", 3.0 * tot),
            ("histogram_sum(sum_over_time(hg[5m]))", 3.0 * tot),
            ("histogram_count(avg_over_time(hg[5m]))", 3.0 * tot / len(ks)),
            ("histogram_count(last_over_time(hg[5m]))", 3.0 * ks[-1]),
            ("histogram_count(first_over_time(hg[5m]))", 3.0 * ks[0]),
            # subquery with 1m step lands exactly on the samples
            ("histogram_count(sum_over_time(hg[5m:1m]))", 3.0 * tot),
            # @-anchored subquery: window (0, 5m] -> k=1..6
            ("histogram_count(sum_over_time(hg[5m:1m] @ 300))",
             3.0 * sum(range(2, 7)))):
        lines.append(f"eval instant at 10m {expr}")
        lines.append(f"\t{{}} {fmt(count)}")
        lines.append("")
    # histogram_quantile over the summed window: total count 3*tot,
    # buckets tot@le1 + 2tot@le2; median rank 1.5tot falls in (1,2]
    lines.append("eval instant at 10m "
                 "histogram_quantile(0.5, sum_over_time(hg[5m]))")
    med = 1.0 + (1.5 * tot - tot) / (2.0 * tot)
    lines.append(f"\t{{}} {fmt(med)}")
    lines.append("")
    # mixed window (floats at 0m/2m, hist at 1m): sum/avg skip the series
    # with upstream's NewMixedFloatsHistogramsWarning
    for fn in ("sum_over_time", "avg_over_time"):
        lines.append(f"eval instant at 2m {fn}(mixed[3m])")
        lines.append("\texpect warn msg encountered a mix of histograms "
                     "and floats for metric name \"mixed\"")
        lines.append("")
    # ...last picks the float 9 @2m, first the float 5 @0m
    lines.append("eval instant at 2m last_over_time(mixed[3m])")
    lines.append("\tmixed 9")
    lines.append("")
    lines.append("eval instant at 2m first_over_time(mixed[3m])")
    lines.append("\t{} 5")
    lines.append("")
    # window ending ON the hist sample: last is the histogram
    lines.append("eval instant at 1m "
                 "histogram_count(last_over_time(mixed[2m]))")
    lines.append(f"\t{{}} {fmt(12.0)}")
    lines.append("")
    # resets/changes over native-histogram windows (upstream funcResets/
    # funcChanges): histogram pairs use DetectReset/Equals; a float<->hist
    # type switch counts for BOTH.  hr: counts 3,9,12,3,15 -> one reset
    # (12->3), four changes.  mixed (5, hist, 9): two type switches.
    lines.append("# resets/changes: DetectReset/Equals on histogram pairs;")
    lines.append("# type switches count for both")
    lines.append("clear")
    lines.append("load 1m")
    lines.append("\thr " + " ".join(lit(k) for k in (1, 3, 4, 1, 5)))
    lines.append("\tmixed 5 " + lit(4) + " 9")
    lines.append("")
    lines.append("eval instant at 4m resets(hr[5m])")
    lines.append("\t{} 1")
    lines.append("")
    lines.append("eval instant at 4m changes(hr[5m])")
    lines.append("\t{} 4")
    lines.append("")
    lines.append("eval instant at 2m resets(mixed[3m])")
    lines.append("\t{} 2")
    lines.append("")
    lines.append("eval instant at 2m changes(mixed[3m])")
    lines.append("\t{} 2")
    lines.append("")
    # histogram-IGNORING family (upstream functions.go funcMinOverTime/
    # funcDeriv/...): computed over floats only, hist-only windows emit NO
    # sample, mixed windows add NewHistogramIgnoredInMixedRangeInfo;
    # count/present_over_time and ts_of_last count BOTH kinds.
    _info = ("\texpect info msg ignored histograms in a range containing "
             "both floats and histograms for metric name \"m\"")
    lines.append("# hist-ignoring family: floats only, hist-only windows")
    lines.append("# drop, mixed windows add the mixed-range info")
    lines.append("clear")
    lines.append("load 1m")
    lines.append("\tm{c=\"both\"} 1 " + lit(4) + " 3")
    lines.append("\tm{c=\"h\"} " + " ".join(lit(k) for k in (4, 5, 6)))
    lines.append("\tm{c=\"f\"} 1 2 3")
    lines.append("")
    for expr, both, fl in (
            ("min_over_time(m[4m])", 1.0, 1.0),
            ("max_over_time(m[4m])", 3.0, 3.0),
            ("stddev_over_time(m[4m])", 1.0, 0.816496580927726),
            ("stdvar_over_time(m[4m])", 1.0, 2.0 / 3.0),
            ("mad_over_time(m[4m])", 1.0, 1.0),
            ("quantile_over_time(0.5, m[4m])", 2.0, 2.0),
            # floats at 0s/120s (both) vs 0/60/120 (f): same slope 1/60
            ("deriv(m[4m])", 1.0 / 60.0, 1.0 / 60.0),
            ("ts_of_max_over_time(m[4m])", 120.0, 120.0),
            ("ts_of_min_over_time(m[4m])", 0.0, 0.0)):
        lines.append(f"eval instant at 3m {expr}")
        lines.append(_info)
        lines.append(f"\t{{c=\"both\"}} {fmt(both)}")
        lines.append(f"\t{{c=\"f\"}} {fmt(fl)}")
        lines.append("")
    for expr, vals in (
            ("count_over_time(m[4m])", (3.0, 3.0, 3.0)),
            ("present_over_time(m[4m])", (1.0, 1.0, 1.0)),
            ("ts_of_last_over_time(m[4m])", (120.0, 120.0, 120.0)),
            ("ts_of_first_over_time(m[4m])", (0.0, 0.0, 0.0))):
        lines.append(f"eval instant at 3m {expr}")
        for c_, v in zip(("both", "h", "f"), vals):
            lines.append(f"\t{{c=\"{c_}\"}} {fmt(v)}")
        lines.append("")
    # RANGE-query annotation path: the mixed-range info must surface when
    # any step's window is mixed, and must NOT fire for float-only series
    # selections (the probe is per-window, not per-column-presence)
    # (t-4m, t] is left-open: at t=4m the 0s sample falls out, so the min
    # moves to the next float in each window
    lines.append("eval range from 2m to 4m step 1m "
                 "min_over_time(m[4m])")
    lines.append(_info)
    lines.append("\t{c=\"both\"} 1 1 3")
    lines.append("\t{c=\"f\"} 1 1 2")
    lines.append("")
    lines.append("eval range from 2m to 4m step 1m "
                 "max_over_time(m{c=\"f\"}[4m])")
    lines.append("\texpect no_info")
    lines.append("\t{c=\"f\"} 3 3 3")
    lines.append("")
    return "\n".join(lines)


FILES = {
    "gen_nhcb.test": gen_nhcb,
    "gen_hist_overtime.test": gen_hist_overtime,
    "gen_fraction_edges.test": gen_fraction_edges,
    "gen_nhcb_fraction.test": gen_nhcb_fraction,
    "gen_at_subq3.test": gen_at_subq3,
    "gen_nested_subq.test": gen_nested_subq,
    "gen_rate_at_range.test": gen_rate_at_range,
    "gen_holt3.test": gen_holt3,
    "gen_functions.test": gen_functions,
    "gen_binops.test": gen_binops,
    "gen_agg.test": gen_agg,
    "gen_overtime.test": gen_overtime,
    "gen_rate.test": gen_rate,
    "gen_hist.test": gen_hist,
    "gen_time.test": gen_time,
    "gen_label_fns.test": gen_label_fns,
    "gen_matching2.test": gen_matching2,
    "gen_subquery.test": gen_subquery,
    "gen_at_offset.test": gen_at_offset,
    "gen_smoothing_sort.test": gen_smoothing_sort,
    "gen_native_hist.test": gen_native_hist,
    "gen_staleness_absent.test": gen_staleness_absent,
    "gen_compose.test": gen_compose,
    "gen_regex.test": gen_regex,
    "gen_nan_agg.test": gen_nan_agg,
    "gen_range.test": gen_range,
    "gen_native_quantile.test": gen_native_quantile,
    "gen_setops.test": gen_setops,
    "gen_vcmp.test": gen_vcmp,
    "gen_count_values.test": gen_count_values,
    "gen_clamp_round.test": gen_clamp_round,
    "gen_predict.test": gen_predict,
    "gen_overtime2.test": gen_overtime2,
    "gen_hist2.test": gen_hist2,
    "gen_rate2.test": gen_rate2,
    "gen_arith2.test": gen_arith2,
    "gen_utf8.test": gen_utf8_grid,
    "gen_binop_vv.test": gen_binop_vv,
    "gen_label_fns2.test": gen_label_fns2,
    "gen_sort2.test": gen_sort2,
    "gen_holt2.test": gen_holt2,
    "gen_agg_range.test": gen_agg_range,
    "gen_subquery2.test": gen_subquery2,
    "gen_time_vec.test": gen_time_vec,
    "gen_scalar_fns.test": gen_scalar_fns,
    "gen_ts_of_subq.test": gen_ts_of_subq,
}


def main():
    total = 0
    for name, g in FILES.items():
        text = g().rstrip() + "\n"
        n = text.count("\neval ") + text.startswith("eval ")
        with open(os.path.join(OUT_DIR, name), "w") as f:
            f.write(text)
        cases = sum(1 for ln in text.splitlines()
                    if ln.startswith(("eval ", "eval_fail ")))
        total += cases
        print(f"{name}: {cases} eval cases")
    print(f"total: {total}")


if __name__ == "__main__":
    main()
