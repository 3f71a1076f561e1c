"""Deterministic, order-stable aggregation builders.

IEEE-754 float addition is not associative, so a native parallel SUM over
doubles is run-to-run nondeterministic in its low bits.  The reference
sidesteps this by evaluating single-threaded per series (promql-engine
vectorized eval); we sidestep it by folding a *sorted* array sequentially
with Spark's higher-order functions (JVM-side, codegen'd — no Python):

    array_sort(collect_list(struct(order, value)))  →  aggregate(arr, 0.0, +)

Aggregations follow one rule, across series and per (series, step)
window alike: det mode (``deterministic=True``, the oracle comparisons)
folds the ops in ``REASSOC`` (and their ``_over_time`` forms), whose native
aggregate reassociates float addition; production mode runs them natively.
Exact ops (``count``, ``group``, ``min``, ``max`` and the window
selections) run natively in both modes.  The rank statistics (cross-series
``quantile``, ``quantile_over_time``, ``mad_over_time``) fold through
``fold_quantile`` in both modes, which sorts NaN first as upstream does
(Spark's ``percentile()`` sorts it last).  Window arrays are bounded by
samples-per-window, so a window fold is also the *scalable* plan at 100TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

D = "double"

# aggregation ops whose native form reassociates float addition: det mode
# folds these (and their ``_over_time`` forms), production mode does not
REASSOC = frozenset(("sum", "avg", "stddev", "stdvar"))


def sorted_pairs(order_col: Column, value_col: Column) -> Column:
    """collect_list of (o, v) sorted by o — the base of every fold.
    Aggregate expression; order key must be unique within the group."""
    return F.array_sort(
        F.collect_list(F.struct(order_col.alias("o"), value_col.alias("v"))))


def _isinf(c: Column) -> Column:
    return F.abs(c) == F.lit(float("inf"))


def _kahan_step(s: Column, c: Column, v: Column) -> tuple[Column, Column]:
    """One Kahan compensated-summation step: (sum, comp) + v.
    Mirrors upstream kahanSumInc (Go promql/functions.go): when the running
    sum hits ±Inf the compensation resets to 0; otherwise the larger-magnitude
    operand donates the rounding error."""
    t = s + v
    comp = F.when(F.abs(s) >= F.abs(v), (s - t) + v).otherwise((v - t) + s)
    c2 = F.when(_isinf(t), F.lit(0.0)).otherwise(c + comp)
    return t, c2


def fold_sum(arr: Column) -> Column:
    """Sequential Kahan-compensated fold, matching upstream sum aggregation /
    sum_over_time (Go promql: kahanSumInc; e.g. sum of 2,8,1e100,-1e100 is
    10, not 0)."""
    acc0 = F.struct(F.lit(0.0).alias("s"), F.lit(0.0).alias("c"))

    def step(acc, x):
        t, c2 = _kahan_step(acc["s"], acc["c"], x["v"])
        return F.struct(t.alias("s"), c2.alias("c"))

    return F.aggregate(arr, acc0, step, lambda a: a["s"] + a["c"])


def _fold_sum_plain(arr: Column) -> Column:
    """Uncompensated left fold — internal helper where upstream itself uses
    a plain two-pass formulation (variance mean)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x["v"])


def values_of(arr: Column) -> Column:
    return F.transform(arr, lambda x: x["v"])


def fold_avg(arr: Column) -> Column:
    """Upstream avg semantics (Go promql engine.go aggregation AVG /
    funcAvgOverTime): Kahan-compensated sum seeded with the first sample;
    if the running sum would overflow to ±Inf, switch to incremental mean
    calculation from that point on — avg of two DBL_MAX-scale values stays
    finite while a genuine Inf sample still yields Inf."""
    first = F.element_at(arr, 1)["v"]
    rest = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    acc0 = F.struct(
        F.lit(1.0).alias("n"), first.alias("s"), F.lit(0.0).alias("c"),
        first.alias("m"), F.lit(0.0).alias("mc"), F.lit(False).alias("inc"))

    def step(acc, x):
        v = x["v"]
        n2 = acc["n"] + 1
        t, c2 = _kahan_step(acc["s"], acc["c"], v)
        # sum would overflow -> revert to incremental mean from here on
        switch = (~acc["inc"]) & _isinf(t)
        m0 = F.when(switch, acc["s"] / acc["n"]).otherwise(acc["m"])
        mc0 = F.when(switch, acc["c"] / acc["n"]).otherwise(acc["mc"])
        # an already-Inf mean absorbs same-sign Inf and all finite values
        # (subtracting Inf from Inf below would manufacture NaN)
        keep = _isinf(m0) & (
            (_isinf(v) & ((m0 > 0) == (v > 0))) |
            ((~_isinf(v)) & (~F.isnan(v))))
        # both sides divided by n2 first to avoid overflow (upstream comment)
        inc_v = v / n2 - (m0 + mc0) / n2
        m1, mc1 = _kahan_step(m0, mc0, inc_v)
        new_inc = acc["inc"] | switch
        m2 = F.when(keep, m0).otherwise(m1)
        mc2 = F.when(keep, mc0).otherwise(mc1)
        return F.struct(
            n2.alias("n"),
            F.when(new_inc, acc["s"]).otherwise(t).alias("s"),
            F.when(new_inc, acc["c"]).otherwise(c2).alias("c"),
            F.when(new_inc, m2).otherwise(acc["m"]).alias("m"),
            F.when(new_inc, mc2).otherwise(acc["mc"]).alias("mc"),
            new_inc.alias("inc"))

    return F.aggregate(
        rest, acc0, step,
        lambda a: F.when(a["inc"], a["m"] + a["mc"])
                   .otherwise((a["s"] + a["c"]) / a["n"]))


def fold_var_pop(arr: Column) -> Column:
    """Population variance, two-pass (mean first), sequential fold."""
    mean = _fold_sum_plain(arr) / F.size(arr).cast(D)
    return F.aggregate(
        arr, F.lit(0.0),
        lambda acc, x: acc + (x["v"] - mean) * (x["v"] - mean)) / F.size(arr).cast(D)


def fold_stddev_pop(arr: Column) -> Column:
    return F.sqrt(fold_var_pop(arr))


def fold_mad(arr: Column) -> Column:
    """Median absolute deviation: median(|v - median(v)|) with the PromQL
    quantile interpolation at q=0.5 for both medians (upstream
    funcMadOverTime, promql/functions.go)."""
    med = fold_quantile(arr, F.lit(0.5))
    dev = F.transform(
        arr, lambda x: F.struct(x["o"].alias("o"),
                                F.abs(x["v"] - med).alias("v")))
    return fold_quantile(dev, F.lit(0.5))


def fold_quantile(arr: Column, q: Column) -> Column:
    """PromQL quantile: linear interpolation on sorted values
    (matches Prometheus quantile(); q<0 → -Inf, q>1 → +Inf).

    NaN sorts FIRST, matching vectorByValueHeap.Less (Go promql/value.go:
    IsNaN(i) → Less) — Spark's default array_sort would put NaN last."""
    vals = F.array_sort(
        values_of(arr),
        lambda l, r: (F.when(F.isnan(l) & F.isnan(r), 0)
                      .when(F.isnan(l), -1)
                      .when(F.isnan(r), 1)
                      .when(l < r, -1)
                      .when(l > r, 1)
                      .otherwise(0)))
    n = F.size(vals)
    rank = q * (n - F.lit(1)).cast(D)
    lo = F.floor(rank).cast("int")
    hi = F.ceil(rank).cast("int")
    lo_v = F.element_at(vals, lo + 1)
    hi_v = F.element_at(vals, hi + 1)
    interp = lo_v + (hi_v - lo_v) * (rank - lo.cast(D))
    # NaN φ first: Spark orders NaN above every double, so the q > 1 branch
    # would otherwise claim it — upstream quantile() returns NaN for NaN φ
    return (F.when(F.isnan(q), F.lit(float("nan")))
             .when(q < 0, F.lit(float("-inf")))
             .when(q > 1, F.lit(float("inf")))
             .when(n == 0, F.lit(float("nan")))
             .otherwise(interp))
