"""PromQL function library: *_over_time, the rate family, histogram_quantile,
label manipulation, time functions (SURVEY.md §2.C).

The rate family implements Prometheus' published extrapolation algorithm
(counter-reset correction + boundary extrapolation) — the reference proves
these semantics via differential tests (reference db/db_test.go:616-659).

Window math takes one of two shapes, both JVM-side with no driver collects
and no UDFs.  The _over_time, regression and smoothing functions build
either through ``_window``, for float and native-histogram range vectors
alike (the histogram-ignoring families mask their value column to the
float rows inside the same aggregation):

- native aggregation over the window's rows, with each sample's series
  predecessor attached where the math needs it (``RangeVector.prev``):
  counts, first/last/min/max selections, irate/idelta's last pair and
  resets/changes' transition counts are exact this way and run so in both
  modes; last/first_over_time take a histogram off the window's flagged
  last/first row; the float sums reassociate, so they run natively only
  in production mode: the ``folds.REASSOC`` ops' ``_over_time`` forms (the
  rule cross-series aggregation follows too), rate's reset correction
  (the det sum folds only the reset pairs) and deriv/predict_linear;
- a fold over the *sorted* per-(series, step) array with Spark
  higher-order functions, bounded by samples-per-window: the deterministic
  (oracle) mode's order-stable float sums, the rank statistics
  (quantile/mad_over_time, in both modes through ``folds.fold_quantile``,
  the one quantile cross-series ``quantile`` runs too), ts_of_max/min's
  last-tie rule, smoothing, and sum/avg_over_time's bucket-wise add of a
  window's histogram rows.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from thanos_parquet_gateway_spark.functions import folds
from thanos_parquet_gateway_spark.promql import ast as A
from thanos_parquet_gateway_spark.promql import histograms as H
from thanos_parquet_gateway_spark.promql.compiler import (
    _MATH_FUNCS,
    _TIME_FUNCS,
    NAN,
    INF,
    NEG_INF,
    Compiler,
    PromQLCompileError,
    hgroup,
)
from thanos_parquet_gateway_spark.promql.values import (
    InstantVector,
    RangeVector,
    ScalarV,
    StringV,
)
from thanos_parquet_gateway_spark.schema import cached_lit as _lit
from thanos_parquet_gateway_spark.schema import (
    canonical_sig,
    drop_labels,
    label_map,
    labels_from_sig,
)

D = "double"


def _drop_name(df):
    return (df.withColumn("labels", drop_labels("labels", ["__name__"]))
            .withColumn("sig", canonical_sig(F.col("labels"))))


def _iv(df) -> InstantVector:
    extra = ["hist"] if "hist" in df.columns else []
    return InstantVector(df.select("t", "sig", "labels", "sample_ts", "value",
                                   *extra))


def _finalize(g, val: Column, *, drop_name: bool = True,
              hist: Column | None = None) -> InstantVector:
    """ONE fused projection off an aggregated frame ``g``: labels (taken
    from the column when present, rebuilt from the canonical sig when the
    aggregation skipped the rebuild), the optional __name__ drop with its
    sig re-canonicalization, the NULL sample_ts and the value — replacing
    the select → _drop_name (2 withColumns) → _iv(select) chain.  Each
    chained DataFrame op is a JVM plan step with incremental re-analysis;
    fusing them is pure per-query compile-latency reduction (same plan
    after optimization)."""
    lbl = F.col("labels") if "labels" in g.columns else labels_from_sig("sig")
    sample_ts = _lit(None).cast("long").alias("sample_ts")
    extra = [hist.alias("hist")] if hist is not None else []
    if drop_name:
        nl = drop_labels(lbl, ["__name__"])
        return InstantVector(g.select(
            "t", canonical_sig(nl).alias("sig"), nl.alias("labels"),
            sample_ts, val.alias("value"), *extra))
    return InstantVector(g.select("t", "sig", lbl.alias("labels"),
                                  sample_ts, val.alias("value"), *extra))


def _range_arg(c: Compiler, call: A.Call, idx: int = 0) -> RangeVector:
    v = c.compile(call.args[idx])
    if not isinstance(v, RangeVector):
        raise PromQLCompileError(f"{call.func} expects a range vector")
    return v


def _vector_arg(c: Compiler, call: A.Call, idx: int = 0) -> InstantVector:
    """Strict instant-vector argument: upstream's parser-stage typecheck
    never coerces scalars into vectors (abs(1), scalar(scalar(x)) etc. are
    type errors; only the explicit vector() function converts)."""
    v = c.compile(call.args[idx])
    if isinstance(v, (float, ScalarV)):
        raise PromQLCompileError(
            "expected type instant vector in call to function "
            f"\"{call.func}\", got scalar")
    if isinstance(v, RangeVector):
        raise PromQLCompileError(
            "expected type instant vector in call to function "
            f"\"{call.func}\", got range vector")
    if not isinstance(v, InstantVector):
        raise PromQLCompileError(
            f"expected instant vector in call to {call.func}")
    return v


def _scalar_lit(c: Compiler, call: A.Call, idx: int) -> float:
    v = c.compile(call.args[idx])
    if not isinstance(v, float):
        raise PromQLCompileError(f"{call.func} arg {idx} must be a literal scalar")
    return v


# ---------------------------------------------------------------- over_time
# over_time/regression functions that IGNORE native-histogram samples:
# upstream computes over the window's floats only, emits NO sample for a
# histogram-only window, and adds
# annotations.NewHistogramIgnoredInMixedRangeInfo when a window carries
# both kinds (Prometheus 3.x functions.go funcMinOverTime / funcDeriv /
# funcPredictLinear / funcDoubleExponentialSmoothing / ...).  _window
# masks their value column to the float rows, natively or in the fold.
_HIST_IGNORE = frozenset((
    "min_over_time", "max_over_time", "stddev_over_time", "stdvar_over_time",
    "mad_over_time", "quantile_over_time",
    "ts_of_max_over_time", "ts_of_min_over_time"))

# the annotation a window holding both kinds registers, per _window mode:
# upstream NewHistogramIgnoredInMixedRangeInfo (histogram-ignoring
# functions) and NewMixedFloatsHistogramsWarning (funcSumOverTime /
# funcAvgOverTime, which also drop the window)
_MIXED = {
    "ignore": ("info", "ignored histograms in a range containing both "
                       "floats and histograms for metric name \""),
    "sum": ("warn", "encountered a mix of histograms and floats for "
                    "metric name \""),
}


def _window(c: Compiler, rv: RangeVector, aggs=None, *, min_n: int = 1,
            hist: str = "ignore", frame=None, extra=()):
    """The one (t, series) window aggregation behind the _over_time,
    regression and smoothing functions.

    ``aggs(m)`` lists native aggregates, ``m`` masking a row expression to
    the window's float samples; without ``aggs`` the group collects
    ``arr``, the ts-sorted (ts, value) float array a fold reads (labels
    rebuilt for it).  ``extra`` aggregates ride along unmasked; ``frame``
    replaces ``rv.df`` (``rv.prev`` for the row flags).  Windows with
    fewer than ``min_n`` float samples drop: upstream emits no sample.

    ``hist`` is how the function treats the samples of a
    histogram-carrying vector: "keep" counts them like floats; "ignore"
    masks them (``hist IS NULL``); "sum" masks them and drops a window
    holding both kinds.  Under the mask ``__nf``/``__nh`` count the two
    kinds, and a window holding both registers its _MIXED annotation as a
    data probe (read only when annotations are requested)."""
    masked = hist != "keep" and "hist" in rv.columns
    m = ((lambda e: F.when(F.col("hist").isNull(), e)) if masked
         else (lambda e: e))
    if aggs is None:
        out = [F.array_sort(F.collect_list(m(F.struct(
            F.col("ts").alias("o"), F.col("value").alias("v"))))).alias("arr")]
        n = F.size("arr")
    else:
        out = aggs(m)
    if masked:
        out += [F.count(m(_lit(1))).alias("__nf"),
                F.count("hist").alias("__nh")]
        n = F.col("__nf")
    elif aggs is not None and min_n > 1:
        out.insert(0, F.count(_lit(1)).alias("__wn"))
        n = F.col("__wn")
    g = hgroup(rv.df if frame is None else frame, "sig", *out, *extra,
               labels="labels" if aggs is None else None)
    if not masked:
        return g.filter(n >= min_n) if min_n > 1 else g
    both = (F.col("__nf") > 0) & (F.col("__nh") > 0)
    kind, msg = _MIXED[hist]
    lbl = F.col("labels") if aggs is None else labels_from_sig("sig")
    c.add_data_probe(g.filter(both).limit(1).select(
        _lit(kind).alias("kind"),
        F.concat(_lit(msg), F.coalesce(lbl["__name__"], _lit("")),
                 _lit("\"")).alias("msg")))
    return g.filter(~both if hist == "sum" else n >= min_n)


# order-stable folds over ``arr``: det mode's float sums, the rank
# statistics and ts_of_max/min's tie rule
_OVER_TIME = {
    "sum_over_time": folds.fold_sum,
    "avg_over_time": folds.fold_avg,
    "stddev_over_time": folds.fold_stddev_pop,
    "stdvar_over_time": folds.fold_var_pop,
    "mad_over_time": folds.fold_mad,
    "ts_of_max_over_time": lambda arr: _fold_ts_of(arr, "max"),
    "ts_of_min_over_time": lambda arr: _fold_ts_of(arr, "min"),
}


# Native aggregations over the window's rows, each entry taking the value
# column (masked to the float rows for the _HIST_IGNORE families) and
# yielding the .agg(...) list with the result aliased "__v".  Range vectors
# exclude stale markers, so only the mask makes a value NULL.  min/max
# skip NaN like upstream (NaN→NULL before min/max; all-NaN windows
# coalesce back to NaN); every window has ≥1 sample by construction
# (explode emits a (t, sig) group only for samples inside it).
def _nanf(v: Column) -> Column:
    return F.when(~F.isnan(v), v)


_OVER_TIME_NATIVE = {
    "count_over_time": lambda v: [F.count(_lit(1)).cast(D).alias("__v")],
    "sum_over_time": lambda v: [F.sum(v).alias("__v")],
    "avg_over_time": lambda v: [F.avg(v).alias("__v")],
    "min_over_time": lambda v: [
        F.coalesce(F.min(_nanf(v)), F.first(NAN())).alias("__v")],
    "max_over_time": lambda v: [
        F.coalesce(F.max(_nanf(v)), F.first(NAN())).alias("__v")],
    "last_over_time": lambda v: [F.max_by(v, "ts").alias("__v")],
    "first_over_time": lambda v: [F.min_by(v, "ts").alias("__v")],
    "present_over_time": lambda v: [F.first(_lit(1.0)).alias("__v")],
    "stddev_over_time": lambda v: [
        F.coalesce(F.stddev_pop(v), F.first(NAN())).alias("__v")],
    "stdvar_over_time": lambda v: [
        F.coalesce(F.var_pop(v), F.first(NAN())).alias("__v")],
    "ts_of_last_over_time": lambda v: [
        (F.max("ts").cast(D) / 1000.0).alias("__v")],
    "ts_of_first_over_time": lambda v: [
        (F.min("ts").cast(D) / 1000.0).alias("__v")],
}


def _fold_ts_of(arr: Column, mode: str) -> Column:
    """Experimental ts_of_max/min_over_time (public Prometheus 3.x): the
    timestamp, in SECONDS, of the window's extreme sample.  Extremes update
    on >= / <= like the upstream fold, so the LAST occurrence of a tied
    extreme wins; a NaN current-extreme is always replaced (IsNaN(acc)
    branch upstream), and NaN candidates never beat a real extreme (the
    ~isnan(x) mask — Spark would otherwise order NaN above every double)."""
    acc0 = F.struct(_lit(None).cast(D).alias("v"),
                    _lit(None).cast("long").alias("o"))

    def step(a, x):
        better = (x["v"] >= a["v"]) if mode == "max" else (x["v"] <= a["v"])
        upd = a["v"].isNull() | F.isnan(a["v"]) | (~F.isnan(x["v"]) & better)
        return F.when(upd, F.struct(x["v"].alias("v"), x["o"].alias("o"))) \
                .otherwise(a)

    return F.aggregate(arr, acc0, step)["o"].cast(D) / 1000.0


def _warn_quantile(c: Compiler, q: float) -> None:
    """upstream annotations.NewInvalidQuantileWarning: φ outside [0,1]."""
    from thanos_parquet_gateway_spark.promql.compiler import fmt_g
    if math.isnan(q) or q < 0 or q > 1:
        c.annotate("warn", "quantile value should be between 0 and 1, "
                           f"got {fmt_g(q)}")


def _selector_name(node: A.Node) -> str | None:
    """Metric name of a matrix/vector selector argument, if statically
    known (for the possible-non-counter info annotation)."""
    if isinstance(node, A.MatrixSelector):
        node = node.selector
    if isinstance(node, A.VectorSelector):
        if node.name:
            return node.name
        for m in node.matchers:
            if m.label == "__name__" and m.op == "=":
                return m.value
    return None


# over_time functions with a native-histogram result (upstream
# functions.go): sum/avg add a histogram-only window's histograms
# bucket-wise (avg divides by their count) and drop a mixed window with
# a warning; last/first return the window's last/first sample of either
# kind.  Every other over_time function counts or ignores histograms
# (_window's "keep"/"ignore").
_OVER_TIME_HIST = ("sum_over_time", "avg_over_time",
                   "last_over_time", "first_over_time")


def _over_time_hist(c: Compiler, rv: RangeVector, fn: str, aggs,
                    val: Column) -> tuple:
    """_OVER_TIME_HIST over a histogram-carrying range vector: the float
    window aggregation with the histogram result riding along, as
    (frame, value, hist).  sum/avg fold only the histogram rows
    (le-keyed union add); last/first take the hist of the window's
    last/first row, flagged on ``rv.prev`` as in the rate family, beside
    the native max_by/min_by value."""
    h = F.col("hist")
    if fn in ("sum_over_time", "avg_over_time"):
        g = _window(c, rv, aggs, hist="sum", extra=[F.array_sort(
            F.collect_list(F.when(h.isNotNull(), F.struct(
                F.col("ts").alias("o"), h.alias("h"))))).alias("__harr")])
        harr, nh = F.col("__harr"), F.col("__nh")
        hval = F.aggregate(F.slice(harr, 2, F.greatest(nh - 1, _lit(0))),
                           F.try_element_at(harr, _lit(1))["h"],
                           lambda acc, x: H.merge_two(acc, x["h"]))
        if fn == "avg_over_time":
            hval = H.scale_hist(hval, _lit(1.0) / nh.cast(D))
        is_hist = nh > 0
    else:
        row = (_last_row() if fn == "last_over_time"
               else _first_row(rv.range_ms))
        g = _window(c, rv, aggs, hist="keep", frame=rv.prev,
                    extra=[F.collect_list(F.when(row, h)).alias("__eh")])
        # collect_list skips NULLs: a float row leaves the buffer empty
        hval = F.try_element_at(F.col("__eh"), _lit(1))
        is_hist = F.size("__eh") > 0
    return (g, F.when(is_hist, NAN()).otherwise(val),
            F.when(is_hist, hval).otherwise(H.null_hist()))


def _over_time(c: Compiler, call: A.Call) -> InstantVector:
    fn = call.func
    if fn == "quantile_over_time":
        q = _scalar_lit(c, call, 0)
        _warn_quantile(c, q)
        rv = _range_arg(c, call, 1)
        aggs, val = None, folds.fold_quantile(F.col("arr"), _lit(q))
    else:
        rv = _range_arg(c, call, 0)
        if fn in _OVER_TIME_NATIVE and not (
                c.p.deterministic
                and fn.removesuffix("_over_time") in folds.REASSOC):
            # the window fold is a plain aggregation — compile it as native
            # (mostly codegen HashAggregate) aggregate functions with
            # map-side partial aggregation, instead of shipping every
            # sample through a collect_list buffer to the reducer and
            # folding the sorted array there.  Exact selections/counts run
            # this path in both modes; the folds.REASSOC ops trade the
            # order-stable Kahan fold for float-addition reassociation
            # (run-to-run low-bit nondeterminism), so det mode keeps
            # their folds.
            native = _OVER_TIME_NATIVE[fn]
            aggs, val = (lambda m: native(m(F.col("value")))), F.col("__v")
        else:
            aggs, val = None, _OVER_TIME[fn](F.col("arr"))
    hist = None
    if fn in _OVER_TIME_HIST and "hist" in rv.columns:
        g, val, hist = _over_time_hist(c, rv, fn, aggs, val)
    else:
        g = _window(c, rv, aggs,
                    hist="ignore" if fn in _HIST_IGNORE else "keep")
    if fn.startswith("ts_of_"):
        # window points live in the shifted evaluation frame (static
        # offset at the selector base + the per-step @ re-anchor in the
        # matrix/subquery paths); the exposed timestamp is the ORIGINAL
        # one (upstream matrix points keep their raw T)
        arg = call.args[0]
        sel = arg.selector if isinstance(arg, A.MatrixSelector) else arg
        off = getattr(sel, "offset_ms", 0) or 0
        if off:
            val = val - _lit(off / 1000.0)
        at_ms = getattr(sel, "at_ms", None)
        if at_ms is not None:
            at = c._resolve_at(at_ms)
            val = val - (F.col("t") - _lit(at)).cast(D) / 1000.0
    # last_over_time keeps the metric name
    return _finalize(g, val, drop_name=fn != "last_over_time", hist=hist)


# -------------------------------------------------------------- rate family
# The rate family runs over RangeVector.prev, one native aggregation per
# (t, series): each sample carries its series predecessor (value, ts and,
# on histogram-carrying vectors, hist) and successor ts, so consecutive
# pairs and the window's first/last rows are per-row predicates —
#   in-window pair:   __pts > t - range (the predecessor is itself inside);
#   first-in-window:  no in-window predecessor;
#   last-in-window:   __nts absent or past t.
# Selections keyed on ts are exact because (sig, ts) is unique after
# replica dedup.
def _in_pair(rng: int) -> Column:
    return F.col("__pts") > (F.col("t") - _lit(rng))


def _first_row(rng: int) -> Column:
    return F.col("__pts").isNull() | ~_in_pair(rng)


def _last_row() -> Column:
    return F.col("__nts").isNull() | (F.col("__nts") > F.col("t"))


def _float_reset_sum(c: Compiler, rng: int) -> Column:
    """Aggregate: the float counter-reset correction — every in-window pair
    with v < prev adds prev (NaN masked on both sides: Spark orders NaN
    above all doubles, Go's comparison is always false).  The one place
    the rate family's two modes differ: production sums natively (float
    reassociation, the same trade the cross-series aggregations make);
    deterministic mode collects only the reset pairs and folds them in ts
    order from 0.0 — bit-identical to a fold over every pair, since a
    non-reset pair adds 0.0 to a sum that starts at +0.0."""
    v, pv = F.col("value"), F.col("__pv")
    reset = _in_pair(rng) & ~F.isnan(v) & ~F.isnan(pv) & (v < pv)
    if not c.p.deterministic:
        return F.sum(F.when(reset, pv).otherwise(_lit(0.0)))
    pairs = F.array_sort(F.collect_list(F.when(
        reset, F.struct(F.col("ts").alias("o"), pv.alias("v")))))
    return F.aggregate(pairs, _lit(0.0), lambda acc, x: acc + x["v"])


def _extrap_factor(rng: int, n: Column, first_t: Column, last_t: Column,
                   delta: Column | None = None,
                   first_v: Column | None = None) -> Column:
    """Prometheus extrapolatedRate's window-boundary factor: extrapolate to
    the window edges unless a gap exceeds 1.1× the average sample spacing
    (then credit half an interval).  With ``delta``/``first_v`` (float
    counters) the start side also clamps at the extrapolated zero point;
    histograms skip that clamp (Prometheus gates it on float samples)."""
    dur_start = (first_t - (F.col("t") - _lit(rng))).cast(D) / 1000.0
    dur_end = (F.col("t") - last_t).cast(D) / 1000.0
    sampled = (last_t - first_t).cast(D) / 1000.0
    avg_dur = sampled / (n - 1)
    threshold = avg_dur * 1.1
    # Prometheus order: clamp durationToStart to avgDur/2 FIRST, then
    # compare durationToZero against the clamped value — the two diverge
    # when durationToZero lies between avgDur/2 and the raw durationToStart
    dur_start = F.when(dur_start >= threshold, avg_dur / 2).otherwise(dur_start)
    if delta is not None:
        dur_to_zero = F.when(delta > 0, sampled * (first_v / delta)) \
                       .otherwise(dur_start)
        dur_start = F.when((delta > 0) & (first_v >= 0)
                           & (dur_to_zero < dur_start),
                           dur_to_zero).otherwise(dur_start)
    extrap = (sampled
              + dur_start
              + F.when(dur_end >= threshold, avg_dur / 2).otherwise(dur_end))
    return extrap / sampled


def _extrapolated(c: Compiler, rv: RangeVector, counter: bool,
                  is_rate: bool) -> InstantVector:
    """Prometheus extrapolatedRate: reset-corrected delta extrapolated to the
    window boundaries.  Windows need ≥2 samples of ONE kind: float windows
    take the scalar delta, native-histogram windows the bucket-wise one
    (last - first, plus the pre-reset histograms for counters); mixed
    windows drop (Prometheus skips them with a warning).

    Histogram buffers hold the first and last rows' hist and the pre-reset
    predecessors — ≤ 2 + resets structs per window, never every sample —
    and the delta is the fold's own algebra over them, so both modes give
    the same histogram."""
    rng = rv.range_ms
    aggs = [F.count(_lit(1)).alias("__wn"),
            F.min("ts").alias("__ft"),
            F.max("ts").alias("__lt"),
            F.min_by("value", "ts").alias("__fv"),
            F.max_by("value", "ts").alias("__lv"),
            _float_reset_sum(c, rng).alias("__rc")]
    hist = "hist" in rv.columns
    if hist:
        h, ph = F.col("hist"), F.col("__ph")
        aggs += [F.count(h).alias("__nh"),
                 F.collect_list(F.when(_first_row(rng), h)).alias("__fh"),
                 F.collect_list(F.when(_last_row(), h)).alias("__lh")]
        if counter:
            reset = (_in_pair(rng) & h.isNotNull() & ph.isNotNull()
                     & H.detect_reset(ph, h))
            aggs.append(F.array_sort(F.collect_list(F.when(
                reset, F.struct(F.col("ts").alias("o"), ph.alias("h")))))
                .alias("__rh"))
    first_t, last_t = F.col("__ft"), F.col("__lt")
    first_v, last_v = F.col("__fv"), F.col("__lv")
    keep = F.col("__wn") >= 2
    cols = {"__delta": (last_v - first_v + F.col("__rc")) if counter
            else (last_v - first_v)}
    if hist:
        is_float = F.col("__nh") == 0
        is_hist = F.col("__nh") == F.col("__wn")
        keep = keep & (is_float | is_hist)
        # try_element_at: float windows leave both buffers empty
        cols["__hdelta"] = F.when(is_hist, H.sub_two(
            F.try_element_at(F.col("__lh"), _lit(1)),
            F.try_element_at(F.col("__fh"), _lit(1))))
        if counter:
            cols["__hcorr"] = F.aggregate(
                F.col("__rh"), H.zero_hist(),
                lambda acc, x: H.merge_two(acc, x["h"]))
    # one filter and one projection: each DataFrame op is a JVM plan step
    # with an eager re-analysis of the whole plan (compile latency)
    g = hgroup(rv.prev, "sig", *aggs).filter(keep).withColumns(cols)
    n = F.col("__wn").cast(D)
    delta = F.col("__delta")
    rng_s = _lit(rng / 1000.0)
    factor = _extrap_factor(rng, n, first_t, last_t,
                            *((delta, first_v) if counter else ()))
    val = delta * factor / rng_s if is_rate else delta * factor
    if not hist:
        return _finalize(g, val)
    hfactor = _extrap_factor(rng, n, first_t, last_t)
    hscale = hfactor / rng_s if is_rate else hfactor
    hdelta = F.col("__hdelta")
    if counter:
        hdelta = H.merge_two(hdelta, F.col("__hcorr"))
    hval = H.scale_hist(hdelta, hscale)
    return _finalize(g, F.when(is_float, val).otherwise(NAN()),
                     hist=F.when(is_hist, hval).otherwise(H.null_hist()))


def _instant_pair(c: Compiler, rv: RangeVector, kind: str) -> InstantVector:
    """irate/idelta from the window's last TWO samples: the max_by(ts) row
    plus the predecessor it carries.  ≥2 samples ≡ "the last sample's
    predecessor is itself inside the window".  Histogram windows (every
    sample a histogram) take the bucket-wise analogue off the last row's
    hist and __ph — a reset leaves the last histogram standing alone,
    mirroring the float counter rule; mixed windows drop."""
    # primitive max_by's, not one max_by(struct): a struct aggregation
    # BUFFER is not UnsafeRow-mutable and demotes the whole aggregation to
    # SortAggregate (the plan pin in test_promql_eval rejects it).  All
    # are keyed on the same ts, so they read the same sample row.
    aggs = [F.max("ts").alias("__lt"),
            F.max_by("value", "ts").alias("__lv"),
            F.max_by("__pv", "ts").alias("__lpv"),
            F.max_by("__pts", "ts").alias("__lpt")]
    keep = (F.col("__lpt").isNotNull()
            & (F.col("__lpt") > F.col("t") - _lit(rv.range_ms)))
    hist = "hist" in rv.columns
    if hist:
        h = F.col("hist")
        aggs += [F.count(F.when(h.isNull(), _lit(1))).alias("__nf"),
                 F.count(h).alias("__nh"),
                 F.collect_list(F.when(_last_row(), F.struct(
                     h.alias("h"), F.col("__ph").alias("p")))).alias("__lh")]
        is_float = F.col("__nh") == 0
        is_hist = F.col("__nf") == 0
        keep = keep & (is_float | is_hist)
    g = hgroup(rv.prev, "sig", *aggs).filter(keep)
    last_t, prev_t = F.col("__lt"), F.col("__lpt")
    last_v, prev_v = F.col("__lv"), F.col("__lpv")
    dt_s = (last_t - prev_t).cast(D) / 1000.0
    if kind == "irate":
        dv = F.when(last_v >= prev_v, last_v - prev_v).otherwise(last_v)
        val = dv / dt_s
    else:
        val = last_v - prev_v
    if not hist:
        return _finalize(g, val)

    last = F.try_element_at(F.col("__lh"), _lit(1))
    lh, ph = last["h"], last["p"]
    if kind == "irate":
        dh = F.when(H.detect_reset(ph, lh), lh).otherwise(H.sub_two(lh, ph))
        hval = H.scale_hist(dh, _lit(1.0) / dt_s)
    else:
        hval = H.sub_two(lh, ph)
    return _finalize(g, F.when(is_float, val).otherwise(NAN()),
                     hist=F.when(is_hist, hval).otherwise(H.null_hist()))


def _double_exp_smoothing(c: Compiler, call: A.Call) -> InstantVector:
    """double_exponential_smoothing (holt_winters): level/trend recurrence
    folded sequentially over the window.  s0 = v[0], b0 = v[1] - v[0];
    s_i = sf*v_i + (1-sf)*(s+b); b_i = tf*(s_i - s) + (1-tf)*b."""
    rv = _range_arg(c, call, 0)
    sf = _scalar_lit(c, call, 1)
    tf = _scalar_lit(c, call, 2)
    # upstream funcDoubleExponentialSmoothing: factors strictly in (0, 1)
    if not 0 < sf < 1:
        raise PromQLCompileError(
            f"invalid smoothing factor. Expected: 0 < sf < 1, got: {sf:g}")
    if not 0 < tf < 1:
        raise PromQLCompileError(
            f"invalid trend factor. Expected: 0 < tf < 1, got: {tf:g}")
    g = _window(c, rv, min_n=2)
    arr = F.col("arr")
    first_v = F.element_at(arr, 1)["v"]
    second_v = F.element_at(arr, 2)["v"]
    acc0 = F.struct(first_v.alias("s"), (second_v - first_v).alias("b"))
    sfL, tfL = _lit(float(sf)), _lit(float(tf))

    def step(a, e):
        s_new = sfL * e["v"] + (_lit(1.0) - sfL) * (a["s"] + a["b"])
        b_new = tfL * (s_new - a["s"]) + (_lit(1.0) - tfL) * a["b"]
        return F.struct(s_new.alias("s"), b_new.alias("b"))

    res = F.aggregate(F.slice(arr, 2, F.greatest(F.size(arr) - 1, _lit(0))),
                      acc0, step)
    return _finalize(g, res["s"])


def _linreg(arr: Column, intercept_t: Column):
    """Least-squares slope/intercept with x = (ts - intercept_t) seconds
    (Prometheus linearRegression), sequential folds."""
    x = lambda e: (e["o"] - intercept_t).cast(D) / 1000.0  # noqa: E731
    acc0 = F.struct(_lit(0.0).alias("sx"), _lit(0.0).alias("sy"),
                    _lit(0.0).alias("sxy"), _lit(0.0).alias("sx2"))
    s = F.aggregate(arr, acc0, lambda a, e: F.struct(
        (a["sx"] + x(e)).alias("sx"),
        (a["sy"] + e["v"]).alias("sy"),
        (a["sxy"] + x(e) * e["v"]).alias("sxy"),
        (a["sx2"] + x(e) * x(e)).alias("sx2")))
    n = F.size(arr).cast(D)
    cov = s["sxy"] - s["sx"] * s["sy"] / n
    var = s["sx2"] - s["sx"] * s["sx"] / n
    slope = cov / var
    intercept = s["sy"] / n - slope * s["sx"] / n
    return slope, intercept


def _linreg_native(c: Compiler, rv: RangeVector):
    """Production-mode regression stats as NATIVE aggregates (map-side
    partials, codegen HashAggregate) instead of the collect_list fold:
    with x = (ts - t) seconds, slope = covar_pop(x, y) / var_pop(x) and
    intercept-at-t = avg(y) - slope * avg(x).  covar_pop/var_pop are
    Spark's central-moment aggregates (Welford-style co-moment updates),
    numerically MORE stable than the fold's normal equations — the
    cancellation concern that kept this on the fold (r12 "Not yet
    optimized") applies to n*Σxy - ΣxΣy, which this formulation never
    builds.  The slope is anchor-invariant, so anchoring x at t (instead
    of the fold's first-sample anchor for deriv) changes nothing.
    Returns (aggregated frame filtered to n >= 2, slope, intercept)."""
    x, v = (F.col("ts") - F.col("t")).cast(D) / 1000.0, F.col("value")
    g = _window(c, rv, lambda m: [F.covar_pop(m(x), m(v)).alias("__cxy"),
                                  F.var_pop(m(x)).alias("__vx"),
                                  F.avg(m(x)).alias("__mx"),
                                  F.avg(m(v)).alias("__my")], min_n=2)
    slope = F.col("__cxy") / F.col("__vx")
    intercept = F.col("__my") - slope * F.col("__mx")
    return g, slope, intercept


def _deriv(c: Compiler, call: A.Call) -> InstantVector:
    rv = _range_arg(c, call)
    if not c.p.deterministic:
        g, slope, _ = _linreg_native(c, rv)
    else:
        g = _window(c, rv, min_n=2)
        slope, _ = _linreg(F.col("arr"), F.element_at(F.col("arr"), 1)["o"])
    return _finalize(g, slope)


def _predict_linear(c: Compiler, call: A.Call) -> InstantVector:
    rv = _range_arg(c, call, 0)
    dur = _scalar_lit(c, call, 1)
    if not c.p.deterministic:
        g, slope, intercept = _linreg_native(c, rv)
    else:
        g = _window(c, rv, min_n=2)
        slope, intercept = _linreg(F.col("arr"), F.col("t"))
    return _finalize(g, intercept + slope * _lit(float(dur)))


# --------------------------------------------------------- histogram_quantile
def _histogram_quantile_classic(q: float, df, c=None) -> "DataFrame":
    """Classic-bucket quantile: group bucket series by labels-minus-le, sort
    by le, enforce monotonicity, linearly interpolate (reference test evidence
    db/db_test.go:344-351; upstream algorithm bucketQuantile).  Takes the
    instant-vector rows (float samples carrying le labels) and returns the
    result rows.

    With a compiler ``c``, registers the upstream data-dependent annotations
    (bad-bucket-label warning, forced-monotonicity info) as deferred probe
    DataFrames — bounded side-aggregations collected only when a consumer
    reads annotations (QueryResult.all_annotations), never on the query hot
    path.  Message wording follows upstream util/annotations intent."""
    # Python-side NaN check: Spark's NaN ordering would route NaN phi into
    # the q > 1 → +Inf branch below; upstream returns NaN per series
    qnan = math.isnan(q)
    if qnan:
        q = 0.0  # placeholder — val short-circuits to NaN below
    df = df.withColumn(
        "__le",
        F.when(F.element_at(F.col("labels"), "le").isin("+Inf", "Inf", "inf"), INF())
         .otherwise(F.element_at(F.col("labels"), "le").try_cast(D)))
    if c is not None:
        # upstream annotations.NewBadBucketLabelWarning: float samples whose
        # ``le`` is missing or unparsable are dropped with a warning
        raw_le = F.coalesce(F.element_at(F.col("labels"), "le"), _lit(""))
        mname = F.coalesce(F.element_at(F.col("labels"), "__name__"),
                           _lit(""))
        c.add_data_probe(
            df.filter(F.col("__le").isNull())
              .groupBy(mname.alias("__n"))
              .agg(F.first(raw_le).alias("__v"))
              .select(_lit("warn").alias("kind"),
                      F.format_string(
                          'bucket label "le" is missing or has a malformed '
                          'value of "%s" for metric name "%s"',
                          F.col("__v"), F.col("__n")).alias("msg")))
    df = df.filter(F.col("__le").isNotNull())
    df = (df.withColumn("__mname",
                        F.coalesce(F.element_at(F.col("labels"), "__name__"),
                                   _lit("")))
          .withColumn("labels", drop_labels("labels", ["le", "__name__"]))
          .withColumn("sig", canonical_sig(F.col("labels"))))
    g = hgroup(df, "sig",
               folds.sorted_pairs(F.col("__le"), F.col("value")).alias("arr"),
               F.first("__mname").alias("__mname"),
               labels="labels")
    arr = F.col("arr")
    les = F.transform(arr, lambda x: x["o"])
    # running-max monotonicity fix-up
    counts = F.aggregate(
        arr, F.array().cast("array<double>"),
        lambda acc, x: F.concat(acc, F.array(
            F.greatest(x["v"], F.try_element_at(acc, _lit(-1))))))
    if c is not None:
        # upstream annotations.HistogramQuantileForcedMonotonicityInfo: a
        # series whose raw bucket counts decrease somewhere needed the
        # running-max fix-up above
        vals = F.transform(arr, lambda x: x["v"])
        needs_fix = F.exists(F.zip_with(vals, counts, lambda v, m: v < m),
                             lambda b: b)
        c.add_data_probe(
            g.filter(needs_fix)
             .select(F.col("__mname").alias("__n")).distinct()
             .select(_lit("info").alias("kind"),
                     F.format_string(
                         "input to histogram_quantile needed to be fixed "
                         "for monotonicity (and may give inaccurate "
                         'results) for metric name "%s"',
                         F.col("__n")).alias("msg")))
    b = F.size(arr)
    has_inf = F.element_at(les, -1) == INF()
    total = F.element_at(counts, -1)
    rank = _lit(float(q)) * total
    idx = F.aggregate(
        F.sequence(_lit(1), b),
        _lit(-1),
        lambda acc, i: F.when((acc == -1) & (F.element_at(counts, i) >= rank), i)
                        .otherwise(acc))
    lower = F.when(idx == 1, F.when(F.element_at(les, 1) <= 0,
                                    F.element_at(les, 1)).otherwise(_lit(0.0))) \
             .otherwise(F.element_at(les, F.greatest(idx - 1, _lit(1))))
    upper = F.element_at(les, F.greatest(idx, _lit(1)))
    count_lo = F.when(idx == 1, _lit(0.0)).otherwise(
        F.element_at(counts, F.greatest(idx - 1, _lit(1))))
    count_hi = F.element_at(counts, F.greatest(idx, _lit(1)))
    # rank == count_lo == count_hi happens only for q=0 on an empty first
    # bucket; Go computes 0/0 = NaN there (bucketQuantile's rank/count) —
    # under Spark ANSI mode a literal division would throw instead
    ratio = F.when(count_hi != count_lo,
                   (rank - count_lo) / (count_hi - count_lo)).otherwise(NAN())
    interp = lower + (upper - lower) * ratio
    val = (F.when(_lit(qnan), NAN())
            .when(_lit(q) < 0, NEG_INF())
            .when(_lit(q) > 1, INF())
            .when(~has_inf | (b < 2) | (total == 0), NAN())
            .when(idx == b, F.element_at(les, -2))  # rank in the +Inf bucket
            .when((idx == 1) & (F.element_at(les, 1) <= 0), F.element_at(les, 1))
            .otherwise(interp))
    return g.select("t", "sig", "labels",
                    _lit(None).cast("long").alias("sample_ts"),
                    val.alias("value"))


# ----------------------------------------------------------- label functions
# Prometheus 3 default UTF-8 validation scheme (model.LabelName.IsValid):
# any non-empty string is a legal label name
def _valid_label_name(s: str) -> bool:
    return s != ""


def _label_replace(c: Compiler, call: A.Call) -> InstantVector:
    iv = _vector_arg(c, call, 0)
    dst = c.compile(call.args[1]).value
    repl = c.compile(call.args[2]).value
    src = c.compile(call.args[3]).value
    regex = c.compile(call.args[4]).value
    if not _valid_label_name(dst):
        # upstream funcLabelReplace eval error
        raise PromQLCompileError(
            f"invalid destination label name in label_replace(): {dst}")
    anchored = f"^(?:{regex})$"
    src_val = F.coalesce(F.element_at(F.col("labels"), src), _lit(""))
    matched = src_val.rlike(anchored)
    new_val = F.regexp_replace(src_val, anchored, repl)
    without_dst = F.map_filter(F.col("labels"), lambda k, _v: k != _lit(dst))
    with_dst = F.when(new_val == "", without_dst).otherwise(
        F.map_concat(without_dst, F.create_map(_lit(dst), new_val)))
    nl = F.when(matched, with_dst).otherwise(F.col("labels"))
    df = (iv.df.withColumn("labels", nl)
          .withColumn("sig", canonical_sig(F.col("labels"))))
    return _iv(df)


def _label_join(c: Compiler, call: A.Call) -> InstantVector:
    iv = _vector_arg(c, call, 0)
    dst = c.compile(call.args[1]).value
    sep = c.compile(call.args[2]).value
    srcs = [c.compile(a).value for a in call.args[3:]]
    if not _valid_label_name(dst):
        raise PromQLCompileError(
            f"invalid destination label name in label_join(): {dst}")
    for s in srcs:
        if not _valid_label_name(s):
            # upstream funcLabelJoin eval error
            raise PromQLCompileError(
                f"invalid source label name in label_join(): {s}")
    joined = F.concat_ws(
        sep, *[F.coalesce(F.element_at(F.col("labels"), s), _lit("")) for s in srcs])
    without_dst = F.map_filter(F.col("labels"), lambda k, _v: k != _lit(dst))
    nl = F.when(joined == "", without_dst).otherwise(
        F.map_concat(without_dst, F.create_map(_lit(dst), joined)))
    df = (iv.df.withColumn("labels", nl)
          .withColumn("sig", canonical_sig(F.col("labels"))))
    return _iv(df)


# ------------------------------------------------------------------- absent
def _absent_labels(node: A.Node) -> dict[str, str]:
    """Labels of an absent() result: equality matchers of the inner selector,
    metric name excluded (upstream createLabelsForAbsentFunction)."""
    sel = node
    if isinstance(sel, A.MatrixSelector):
        sel = sel.selector
    out: dict[str, str] = {}
    if isinstance(sel, A.VectorSelector):
        for m in sel.matchers:
            if m.op == "=" and m.label != "__name__":
                out[m.label] = m.value
    return out


def _absent(c: Compiler, call: A.Call, over_time: bool) -> InstantVector:
    inner = c.compile(call.args[0])
    if over_time:
        if not isinstance(inner, RangeVector):
            raise PromQLCompileError("absent_over_time expects a range vector")
        present = inner.df.select("t").distinct()
    else:
        if not isinstance(inner, InstantVector):
            raise PromQLCompileError("absent expects an instant vector")
        present = inner.df.select("t").distinct()
    lmap = label_map(_absent_labels(call.args[0]))
    out = (c.grid_df().join(present, "t", "left_anti")
           .select("t", canonical_sig(lmap).alias("sig"), lmap.alias("labels"),
                   _lit(None).cast("long").alias("sample_ts"),
                   _lit(1.0).alias("value")))
    return InstantVector(out)


_INFO_IDENTIFYING = ("instance", "job")


def _info(c: Compiler, call: A.Call) -> InstantVector:
    """info() (public Prometheus 3.x experimental, promql/info.go): enrich
    each sample of v with DATA labels copied from info-metric series
    (default ``target_info``) that share the fixed identifying labels
    (instance, job) at the same evaluation step.

    Semantics implemented (per the public function docs):
    - the optional second argument is a brace-only selector; its
      ``__name__`` matchers choose which info metrics to consider, every
      other matcher both FILTERS the info series (missing label ≡ "") and
      RESTRICTS the copied data-label set to the matcher-named labels;
      matchers on identifying labels are rejected.
    - data labels are the info series' labels minus __name__ and the
      identifying labels; copied labels override same-named base labels.
    - base samples with no matching info series pass through unchanged;
      the metric name is kept (values are unmodified).
    - distinct surviving data-label sets for one (t, instance, job) group
      raise a conflicting-info-series error.
    Spark shape: the info side reduces to one row per (t, identifying
    labels) before an equi-join on (t, instance, job) — base cardinality is
    preserved and the join key is small; at scale the info side is tiny
    (one series per target) and broadcasts.
    """
    iv = _vector_arg(c, call, 0)
    if len(call.args) > 2:
        raise PromQLCompileError("info expects (vector[, selector])")
    name_matchers: list[A.Matcher] = []
    data_matchers: list[A.Matcher] = []
    if len(call.args) == 2:
        sel = call.args[1]
        if not isinstance(sel, A.VectorSelector) or sel.name is not None:
            raise PromQLCompileError(
                "info: second argument must be a label selector {...}")
        for m in sel.matchers:
            if m.label == "__name__":
                name_matchers.append(m)
            elif m.label in _INFO_IDENTIFYING:
                raise PromQLCompileError(
                    f"info: matcher on identifying label {m.label!r} "
                    "is not allowed")
            else:
                data_matchers.append(m)
    if not name_matchers:
        name_matchers = [A.Matcher("__name__", "=", "target_info")]

    info_iv = c.compile_vector(A.VectorSelector(None, list(name_matchers)))
    idf = info_iv.df

    def lbl(k):
        return F.coalesce(F.element_at(F.col("labels"), _lit(k)), _lit(""))

    for m in data_matchers:
        v = lbl(m.label)
        anchored = f"^(?:{m.value})$"
        cond = {"=": v == m.value, "!=": v != m.value,
                "=~": v.rlike(anchored), "!~": ~v.rlike(anchored)}[m.op]
        idf = idf.filter(cond)

    data = drop_labels("labels", ["__name__", *_INFO_IDENTIFYING])
    if data_matchers:
        names = F.array(*[_lit(n)
                          for n in sorted({m.label for m in data_matchers})])
        data = F.map_filter(data, lambda k, _v: F.array_contains(names, k))
    idf = idf.select("t", lbl("instance").alias("__inst"),
                     lbl("job").alias("__job"), data.alias("__data"))
    dsig = canonical_sig(F.col("__data"))
    g = (idf.withColumn("__dsig", dsig)
         .groupBy("t", "__inst", "__job")
         .agg(F.size(F.collect_set("__dsig")).alias("__nvar"),
              F.max_by(F.col("__data"), F.col("__dsig")).alias("__data")))
    # the guard must ride on a column the downstream plan actually reads —
    # a standalone flag column would be pruned by Catalyst and the
    # raise_error never evaluated
    guard = F.when(
        F.col("__nvar") > 1,
        F.raise_error(F.concat(
            _lit("info: conflicting info series for {instance="),
            F.col("__inst"), _lit(", job="), F.col("__job"), _lit("}")))
    ).otherwise(F.col("__data"))
    g = g.select("t", "__inst", "__job", guard.alias("__data"))

    b = (iv.df.withColumn("__inst", lbl("instance"))
         .withColumn("__job", lbl("job")))
    j = b.join(g, ["t", "__inst", "__job"], "left")
    merged = F.when(
        F.col("__data").isNotNull(),
        F.map_concat(
            F.map_filter(F.col("labels"),
                         lambda k, _v: F.element_at(F.col("__data"), k)
                         .isNull()),
            F.col("__data"))
    ).otherwise(F.col("labels"))
    out = (j.withColumn("labels", merged)
           .withColumn("sig", canonical_sig(F.col("labels")))
           .select("t", "sig", "labels", "sample_ts", "value"))
    return _iv(out)


# ---------------------------------------------------------------- dispatch
def dispatch(c: Compiler, call: A.Call):
    fn = call.func

    if fn in _MATH_FUNCS:
        iv = _vector_arg(c, call)
        df = iv.df.withColumn("value", _MATH_FUNCS[fn](F.col("value")).cast(D))
        return _iv(_drop_name(df))

    if (fn in _OVER_TIME_NATIVE or fn in _OVER_TIME
            or fn == "quantile_over_time"):
        return _over_time(c, call)

    if fn in ("rate", "increase"):
        rv = _range_arg(c, call)
        name = _selector_name(call.args[0])
        if (name and "hist" not in rv.columns and
                not re.search(r"_(total|sum|count|bucket)$", name)):
            # upstream annotations.NewPossibleNonCounterInfo (emitted on the
            # float path only — native-histogram series carry no suffix)
            c.annotate("info", "metric might not be a counter, name does "
                               "not end in _total/_sum/_count/_bucket: "
                               f'"{name}"')
        return _extrapolated(c, rv, counter=True, is_rate=(fn == "rate"))
    if fn == "delta":
        return _extrapolated(c, _range_arg(c, call), counter=False, is_rate=False)
    if fn in ("irate", "idelta"):
        return _instant_pair(c, _range_arg(c, call), fn)
    if fn in ("double_exponential_smoothing", "holt_winters"):
        return _double_exp_smoothing(c, call)
    if fn in ("resets", "changes"):
        rv = _range_arg(c, call)
        # a transition count is a plain aggregation over (sample,
        # predecessor) pairs — a pair counts iff the predecessor is itself
        # inside the window (__pts > t - range), which is exactly the set
        # of consecutive pairs upstream funcResets/funcChanges walk: the
        # window's FIRST sample never counts (its predecessor is outside
        # the window or absent), so a leading NaN scores no phantom
        # change.  Native HashAggregate with map-side partials, and
        # integer-exact (sums of 0.0/1.0 — no float-reassociation trade),
        # so det mode runs it too.  Spark orders NaN above every double
        # (5 < NaN is TRUE) and treats NaN == NaN as equal, but Go/IEEE
        # comparisons with NaN are always false: resets masks NaN on
        # either side, changes counts any NaN↔number transition but not
        # NaN→NaN.  A NULL predecessor (first sample of a series) falls out
        # via coalesce(hit, false).
        v, pv = F.col("value"), F.col("__pv")
        in_win = _in_pair(rv.range_ms)
        if fn == "resets":
            hit = ~F.isnan(v) & ~F.isnan(pv) & (v < pv)
        else:
            both_nan = F.isnan(v) & F.isnan(pv)
            hit = ((v != pv) | F.isnan(v) | F.isnan(pv)) & ~both_nan
        if "hist" in rv.columns:
            # both kinds iterate in one time-ordered sequence: histogram
            # pairs use DetectReset (resets) / Equals (changes), and a
            # float↔histogram type switch counts for BOTH functions
            h, ph = F.col("hist"), F.col("__ph")
            hist_hit = (H.detect_reset(ph, h) if fn == "resets"
                        else ~ph.eqNullSafe(h))
            hit = (F.when(h.isNull() & ph.isNull(), hit)
                   .when(h.isNotNull() & ph.isNotNull(), hist_hit)
                   .otherwise(_lit(True)))
        g = hgroup(
            rv.prev, "sig",
            F.sum(F.when(F.coalesce(in_win & hit, _lit(False)),
                         _lit(1.0)).otherwise(_lit(0.0))).alias("__v"))
        return _finalize(g, F.col("__v"))
    if fn == "deriv":
        return _deriv(c, call)
    if fn == "predict_linear":
        return _predict_linear(c, call)

    if fn == "histogram_quantile":
        iv = _vector_arg(c, call, 1)
        q_ = _scalar_lit(c, call, 0)
        _warn_quantile(c, q_)
        if "hist" not in iv.df.columns:
            return _iv(_histogram_quantile_classic(q_, iv.df, c))
        # mixed vector: native-histogram samples take the bucket-struct
        # path; float samples carrying le labels take the classic path
        # (upstream evaluates both populations side by side)
        native = (iv.df.filter(F.col("hist").isNotNull())
                  .withColumn("value", H.hist_quantile(q_, F.col("hist")))
                  .drop("hist"))
        native = _drop_name(native).select(
            "t", "sig", "labels", "sample_ts", "value")
        classic = _histogram_quantile_classic(
            q_, iv.df.filter(F.col("hist").isNull()).drop("hist"), c)
        classic = classic.select("t", "sig", "labels", "sample_ts", "value")
        # upstream funcHistogramQuantile: when a classic bucket group and a
        # native histogram reduce to the SAME output labelset, the series is
        # skipped entirely (emitting both would be an invalid vector with a
        # duplicate labelset) and a mixed-histograms warning is raised
        coll = (native.select("t", "sig")
                .join(classic.select("t", "sig"), ["t", "sig"]))
        c.add_data_probe(
            coll.limit(1).select(
                _lit("warn").alias("kind"),
                _lit("vector contains a mix of classic and native "
                      "histograms").alias("msg")))
        out = (native.join(coll, ["t", "sig"], "left_anti")
               .unionByName(classic.join(coll, ["t", "sig"], "left_anti")))
        return _iv(out)

    if fn in ("histogram_count", "histogram_sum", "histogram_avg",
              "histogram_stddev", "histogram_stdvar"):
        iv = _vector_arg(c, call, 0)
        if "hist" not in iv.df.columns:
            raise PromQLCompileError(f"{fn} requires native-histogram samples")
        val = {"histogram_count": H.hist_count, "histogram_sum": H.hist_sum,
               "histogram_avg": H.hist_avg,
               "histogram_stddev": H.hist_stddev,
               "histogram_stdvar": H.hist_stdvar}[fn](F.col("hist"))
        df = (iv.df.filter(F.col("hist").isNotNull())
              .withColumn("value", val).drop("hist"))
        return _iv(_drop_name(df))

    if fn == "histogram_fraction":
        lo = _scalar_lit(c, call, 0)
        hi = _scalar_lit(c, call, 1)
        iv = _vector_arg(c, call, 2)
        if "hist" not in iv.df.columns:
            raise PromQLCompileError("histogram_fraction requires native histograms")
        df = (iv.df.filter(F.col("hist").isNotNull())
              .withColumn("value", H.hist_fraction(lo, hi, F.col("hist")))
              .drop("hist"))
        return _iv(_drop_name(df))
    if fn == "info":
        return _info(c, call)
    if fn == "label_replace":
        return _label_replace(c, call)
    if fn == "label_join":
        return _label_join(c, call)
    if fn == "absent":
        return _absent(c, call, over_time=False)
    if fn == "absent_over_time":
        return _absent(c, call, over_time=True)

    if fn == "round":
        iv = _vector_arg(c, call)
        to = _scalar_lit(c, call, 1) if len(call.args) > 1 else 1.0
        # PromQL round: nearest multiple of `to`, ties round up.  Upstream
        # funcRound works through the INVERSE multiplier
        # (floor(v*(1/to)+0.5)/(1/to), promql/functions.go funcRound) — the
        # direct v/to form can differ in the last ulp for non-power-of-two
        # `to` and flip a tie across the .5 boundary, so mirror it exactly.
        # Spark's floor returns LONG (NaN→0, ±Inf saturate); doubles with
        # |q| >= 2^52 are already integral (the +0.5 is absorbed), so pass
        # them — and NaN/±Inf — through as Go math.Floor would.
        # to == ±0.0: Go computes 1/±0 = ±Inf (funcRound) and every sample
        # rounds to NaN; Python raises ZeroDivisionError, so mirror the Go
        # float semantics explicitly (copysign keeps -0.0 → -Inf).
        inv = math.copysign(math.inf, to) if to == 0.0 else 1.0 / to
        q = F.col("value") * _lit(inv)
        val = (F.when(F.isnan(q) | (F.abs(q) >= _lit(2.0 ** 52)), q)
               .otherwise(F.floor(q + _lit(0.5)).cast(D))) / _lit(inv)
        df = iv.df.withColumn("value", val.cast(D))
        return _iv(_drop_name(df))

    if fn in ("clamp", "clamp_min", "clamp_max"):
        iv = _vector_arg(c, call)
        v = F.col("value")
        if fn == "clamp":
            mn, mx = _scalar_lit(c, call, 1), _scalar_lit(c, call, 2)
            if mx < mn:  # upstream funcClamp: empty vector (false for NaN)
                return InstantVector(iv.df.filter(_lit(False)))
            if math.isnan(mn) or math.isnan(mx):
                val = NAN()  # Go math.Min/Max propagate NaN bounds
            else:
                val = F.least(F.greatest(v, _lit(mn)), _lit(mx))
        elif fn == "clamp_min":
            b = _scalar_lit(c, call, 1)
            val = NAN() if math.isnan(b) else F.greatest(v, _lit(b))
        else:
            b = _scalar_lit(c, call, 1)
            # Spark least() picks the non-NaN side (NaN sorts greatest);
            # Go math.Min propagates NaN — constant-fold the divergence.
            val = NAN() if math.isnan(b) else F.least(v, _lit(b))
        df = iv.df.withColumn("value", F.when(F.isnan(v), v).otherwise(val))
        return _iv(_drop_name(df))

    if fn == "vector":
        v = c.compile(call.args[0])
        if isinstance(v, float):
            return c._scalar_to_vector(ScalarV(c._const_scalar_df(v)))
        if isinstance(v, ScalarV):
            return c._scalar_to_vector(v)
        raise PromQLCompileError("vector() expects a scalar")

    if fn == "scalar":
        iv = _vector_arg(c, call)
        per_t = (iv.df.groupBy("t")
                 .agg(F.count("*").alias("__n"), F.first("value").alias("__v")))
        out = (c.grid_df().join(per_t, "t", "left")
               .select("t", F.when(F.col("__n") == 1, F.col("__v"))
                             .otherwise(NAN()).alias("value")))
        return ScalarV(out)

    if fn == "time":
        return ScalarV(c.grid_df().select(
            "t", (F.col("t").cast(D) / 1000.0).alias("value")))

    if fn == "timestamp":
        iv = _vector_arg(c, call)
        df = iv.df.withColumn(
            "value",
            (F.coalesce(F.col("sample_ts"), F.col("t")).cast(D) / 1000.0))
        return _iv(_drop_name(df))

    if fn in _TIME_FUNCS:
        if call.args:
            iv = _vector_arg(c, call)
        else:
            iv = c._scalar_to_vector(ScalarV(c.grid_df().select(
                "t", (F.col("t").cast(D) / 1000.0).alias("value"))))
        ts_col = F.timestamp_seconds(F.col("value"))
        df = iv.df.withColumn("value", _TIME_FUNCS[fn](ts_col).cast(D))
        return _iv(_drop_name(df))

    if fn == "pi":
        return float(3.141592653589793)

    if fn in ("sort", "sort_desc"):
        # upstream sorts NaN to the BOTTOM in both directions (funcSort /
        # funcSortDesc reverse a NaN-first heap); Spark's desc() would
        # otherwise put NaN first (NaN orders greatest)
        iv = _vector_arg(c, call)
        order = ([F.isnan("value").asc(), F.col("value").desc()]
                 if fn == "sort_desc" else [F.col("value").asc()])
        return InstantVector(iv.df.orderBy("t", *order, F.col("sig")))

    if fn in ("sort_by_label", "sort_by_label_desc"):
        # Lexicographic (byte-wise) per-label compare, missing label ≡ "",
        # full labelset as final tiebreak — Prometheus 3.x semantics
        # (funcSortByLabel; 3.0 dropped the 2.x natural-sort behavior).
        iv = _vector_arg(c, call)
        desc = fn.endswith("_desc")
        keys = []
        for a in call.args[1:]:
            s = c.compile(a)
            if not isinstance(s, StringV):
                raise PromQLCompileError(f"{fn} label arguments must be strings")
            col = F.coalesce(F.element_at(F.col("labels"), s.value), _lit(""))
            keys.append(col.desc() if desc else col.asc())
        keys.append(F.col("sig").desc() if desc else F.col("sig").asc())
        return InstantVector(iv.df.orderBy("t", *keys))

    raise PromQLCompileError(f"unsupported function {fn}")
