"""PromQL AST → Spark DataFrame compiler.

This module replaces the external promql-engine the reference delegates to
(reference cmd/serve.go:201-222): each PromQL node compiles to a declarative
DataFrame plan, so Catalyst supplies predicate pushdown, column pruning,
partition pruning, join strategy selection and codegen (SURVEY.md §4).

Core design (SURVEY.md §4.2): instead of joining samples against a step grid
(a shuffle join), every sample *computes the grid steps it serves* with
``sequence()`` + ``explode`` — pure map-side work — and a single groupBy per
selector resolves lookback ("latest sample ≤ t within lookback", reference
api/http/query.go:160,393-395).  Window functions like ``rate`` fold sorted
per-(series, step) arrays with higher-order functions — bounded by
samples-per-window, so the plan scales with data, not with query range.
"""

from __future__ import annotations

import copy
import math
from dataclasses import replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from thanos_parquet_gateway_spark.functions import folds
from thanos_parquet_gateway_spark.promql import ast as A
from thanos_parquet_gateway_spark.promql.values import (
    EvalParams,
    InstantVector,
    RangeVector,
    ScalarV,
    StringV,
)
from thanos_parquet_gateway_spark.operators.topk import grouped_topk
from thanos_parquet_gateway_spark.schema import cached_lit as _lit
from thanos_parquet_gateway_spark.schema import (
    canonical_sig,
    drop_labels,
    keep_labels,
    label,
    label_map,
    labels_from_sig,
    utc_day,
)

def fmt_g(v: float) -> str:
    """Go %g float formatting for annotation messages (NaN/+Inf spelled the
    Go way)."""
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "+Inf" if v > 0 else "-Inf"
    return f"{v:g}"


# NaN is excluded from the cached-literal table (NaN != NaN would churn
# it), and these three are the most-rebuilt literal Columns in the
# compiler — lazy module-level singletons (immutable JVM expression
# wrappers, reusable across plans like every cached helper in schema.py)
_CONST_COLS: dict[str, Column] = {}


def _const_col(key: str, value: float) -> Column:
    c = _CONST_COLS.get(key)
    if c is None:
        from pyspark.sql import functions as _F
        c = _F.lit(value)
        _CONST_COLS[key] = c
    return c


def NAN() -> Column:
    return _const_col("nan", float("nan"))


def INF() -> Column:
    return _const_col("inf", float("inf"))


def NEG_INF() -> Column:
    return _const_col("ninf", float("-inf"))

def _ieee_log(fn):
    """Spark's log functions return NULL for arguments <= 0; PromQL (Go
    math.Log) needs -Inf at 0 and NaN below it."""
    def wrap(c):
        return (F.when(F.isnan(c), c)
                 .when(c > 0, fn(c))
                 .when(c == 0, _lit(float("-inf")))
                 .otherwise(_lit(float("nan"))))
    return wrap


def _ieee_intfn(fn):
    """Spark's ceil/floor return LONG (NaN→0, ±Inf→±2^63); PromQL (Go
    math.Ceil/Floor) stays in double.  Doubles with |v| >= 2^52 are already
    integral, so passing them (and NaN/±Inf) through unchanged is exact."""
    def wrap(c):
        return (F.when(F.isnan(c) | (F.abs(c) >= _lit(2.0 ** 52)), c)
                .otherwise(fn(c).cast("double")))
    return wrap


_MATH_FUNCS = {
    "abs": F.abs, "ceil": _ieee_intfn(F.ceil), "floor": _ieee_intfn(F.floor),
    "exp": F.exp,
    "sqrt": F.sqrt, "ln": _ieee_log(F.log), "log2": _ieee_log(F.log2),
    "log10": _ieee_log(F.log10),
    "acos": F.acos, "asin": F.asin, "atan": F.atan, "cos": F.cos,
    "sin": F.sin, "tan": F.tan, "cosh": F.cosh, "sinh": F.sinh,
    "tanh": F.tanh, "acosh": F.acosh, "asinh": F.asinh, "atanh": F.atanh,
    "deg": F.degrees, "rad": F.radians,
    "sgn": lambda c: F.when(F.isnan(c), c).otherwise(
        F.signum(c)).cast("double"),
}

_TIME_FUNCS = {
    "minute": lambda t: F.minute(t), "hour": lambda t: F.hour(t),
    "day_of_week": lambda t: F.dayofweek(t) - 1,
    "day_of_month": lambda t: F.dayofmonth(t),
    "day_of_year": lambda t: F.dayofyear(t),
    "days_in_month": lambda t: F.dayofmonth(F.last_day(t)),
    "month": lambda t: F.month(t), "year": lambda t: F.year(t),
}


def ieee_cmp(op: str, l: Column, r: Column) -> Column:
    """IEEE-754 comparison: any comparison involving NaN is False, except
    ``!=`` which is True.  (Spark's native semantics treat NaN == NaN as
    True and NaN as greater than any double — PromQL must not.)"""
    raw = {"==": l == r, "!=": l != r, ">": l > r, "<": l < r,
           ">=": l >= r, "<=": l <= r}[op]
    return F.when(F.isnan(l) | F.isnan(r), _lit(op == "!=")).otherwise(raw)


def arith_value(op: str, l: Column, r: Column) -> Column:
    """Arithmetic with Go/IEEE float semantics (Spark's `/` and `%` return
    NULL on zero divisors; PromQL needs ±Inf / NaN)."""
    if op == "+":
        return l + r
    if op == "-":
        return l - r
    if op == "*":
        return l * r
    if op == "/":
        return (F.when(r == 0.0,
                       F.when(F.isnan(l) | (l == 0.0), NAN())
                        .when(l > 0, INF()).otherwise(NEG_INF()))
                 .otherwise(l / r))
    if op == "%":
        return F.when((r == 0.0) | F.isnan(r) | F.isnan(l), NAN()).otherwise(l % r)
    if op == "^":
        return F.pow(l, r)
    if op == "atan2":
        return F.atan2(l, r)
    raise ValueError(f"unknown arithmetic op {op}")


def _nan_to_null(c: Column) -> Column:
    return F.when(F.isnan(c), _lit(None).cast("double")).otherwise(c)


def hgroup(df: DataFrame, sig_col: str, *aggs,
           extra_keys: tuple = ("t",), labels: str | None = None) -> DataFrame:
    """groupBy keyed on (extra_keys, xxhash64(sig), sig) — the reference's
    hash-column shuffle trick (convert/tsdb.go:132, schema/schema.go:27):
    the 8-byte hash leads the compound key so exchange/compare work is
    mostly on a long.

    The sig string rides as a grouping KEY, not a ``first(sig)`` aggregate:
    grouping keys may be any type under HashAggregateExec, but aggregation
    BUFFERS must be UnsafeRow-mutable (fixed-width) types — a first(string)
    or first(map) buffer silently demotes the whole aggregation to
    SortAggregate (full sort of the input on both sides of the exchange).

    For the same reason, callers should NOT pass ``F.first("labels")``:
    pass ``labels="labels"`` instead and the label map is rebuilt post-agg
    from the canonical sig (labels_from_sig is the exact inverse of
    canonical_sig), keeping native aggregations on the codegen
    HashAggregate path with map-side partial aggregation."""
    h = F.xxhash64(sig_col).alias("__kh")
    out = (df.groupBy(*extra_keys, h, sig_col)
           .agg(*aggs)
           .drop("__kh"))
    if labels is not None:
        out = out.withColumn(labels, labels_from_sig(sig_col))
    return out


def _matcher_matches(m: A.Matcher, v: str) -> bool:
    """Driver-side matcher evaluation against a constant (external) label
    value — the elision decision (reference search/search.go:356-376)."""
    import re as _re
    return {"=": v == m.value, "!=": v != m.value,
            "=~": _re.fullmatch(m.value, v) is not None,
            "!~": _re.fullmatch(m.value, v) is None}[m.op]


def overlay_labels(ls: dict[str, str]) -> Column:
    """labels with the external label set ``ls`` overlaid: the names in
    ``ls`` shadow data labels of the same name."""
    return F.map_concat(drop_labels("labels", sorted(ls)), label_map(ls))


def stream_decoration(streams: dict[str, dict[str, str]]) -> Column:
    """labels → labels overlaid with the owning stream's external labels.
    A driver-side CASE over the (tiny) stream set — stays in codegen, no
    join (reference search/materialize.go:73-84 decoration).

    Per-stream: only a stream's OWN external-label names shadow its data
    labels.  A label that is external in stream A but a real data label in
    stream B must survive untouched on B's rows (reference
    schema/block.go:37-76 — decoration is per-block from that block's
    stream descriptor, never global)."""
    out = F.col("labels")
    for s, ls in sorted(streams.items()):
        dec = overlay_labels(ls) if ls else F.col("labels")
        out = F.when(F.col("stream") == s, dec).otherwise(out)
    return out


class PromQLCompileError(ValueError):
    pass


class Compiler:
    def __init__(self, samples: DataFrame, params: EvalParams,
                 ext_labels: dict[str, str] | None = None,
                 streams: dict[str, dict[str, str]] | None = None):
        """``streams``: multi-stream mode — maps each value of the
        ``stream`` partition column to that stream's whole external label
        set, the process-wide ``ext_labels`` included
        (schema.stream_labels; reference locate/discover.go:125-305,
        schema/block.go:37-76).  The dict covers the column's domain:
        matchers on stream labels compile to ``stream IN (...)`` so
        Catalyst prunes whole stream partitions.  ``ext_labels`` is the one
        external label set overlaid on everything when there are no
        streams (reference OverrideExtLabels)."""
        self.samples = samples
        self.p = params
        self.streams = streams or {}
        self.ext_labels = {} if self.streams else ext_labels or {}
        if self.streams and "stream" not in samples.columns:
            raise PromQLCompileError(
                "multi-stream mode requires a 'stream' column in samples")
        # label names that are external in at least one stream: decided
        # per-stream from the descriptor (missing ≡ ""), never from data
        self._stream_keys = sorted({k for ls in self.streams.values()
                                    for k in ls})
        self.spark = samples.sparkSession
        self.step = max(params.step_ms, 1)
        # A subquery's body compiles on a shallow copy of this compiler
        # (_subquery), which shares the two lists below.
        # PromQL annotations (upstream util/annotations): (kind, message)
        # pairs collected at compile time, surfaced as the API's top-level
        # warnings / infos arrays.  kind ∈ {"warn", "info"}.
        self.annotations: list[tuple[str, str]] = []
        # data-dependent annotation probes: tiny (kind, msg) DataFrames whose
        # rows only exist when the data condition holds (e.g. a malformed
        # ``le`` label reached histogram_quantile).  Never evaluated on the
        # query hot path — QueryResult.all_annotations collects them on
        # demand (upstream computes these inline during its row-at-a-time
        # eval; a declarative plan needs a bounded side-aggregation).
        self.data_probes: list[DataFrame] = []

    def annotate(self, kind: str, msg: str) -> None:
        if (kind, msg) not in self.annotations:
            self.annotations.append((kind, msg))

    def add_data_probe(self, df: DataFrame) -> None:
        self.data_probes.append(df)

    # ------------------------------------------------------------------ grid
    def grid_df(self) -> DataFrame:
        """One row per evaluation step — tiny, used only by absent()/scalar()."""
        p = self.p
        return self.spark.range(1).select(
            F.explode(F.sequence(_lit(p.start_ms), _lit(p.end_ms),
                                 _lit(self.step))).alias("t"))

    def _serve_steps(self, ts: Column, window_ms: int) -> Column:
        """Grid steps t (start..end by step) with t - window < ts ≤ t,
        i.e. t ∈ [ts, ts + window).  Map-side; no join against the grid."""
        p, step = self.p, self.step
        lo = F.greatest(ts, _lit(p.start_ms))
        t_first = _lit(p.start_ms) + F.ceil((lo - _lit(p.start_ms)) /
                                             _lit(step)).cast("long") * step
        hi = F.least(_lit(p.end_ms), ts + _lit(window_ms - 1))
        t_last = _lit(p.start_ms) + F.floor((hi - _lit(p.start_ms)) /
                                             _lit(step)).cast("long") * step
        empty = F.array().cast("array<long>")
        return F.when(t_first <= t_last,
                      F.sequence(t_first, t_last, _lit(step))).otherwise(empty)

    # ------------------------------------------------------------- dispatch
    def compile(self, node: A.Node):
        if isinstance(node, A.NumberLiteral):
            return float(node.value)
        if isinstance(node, A.StringLiteral):
            return StringV(node.value)
        if isinstance(node, A.VectorSelector):
            return self._vector_selector(node)
        if isinstance(node, A.MatrixSelector):
            return self._matrix_selector(node)
        if isinstance(node, A.Subquery):
            return self._subquery(node)
        if isinstance(node, A.Aggregation):
            return self._aggregation(node)
        if isinstance(node, A.BinaryExpr):
            return self._binary(node)
        if isinstance(node, A.UnaryExpr):
            return self._unary(node)
        if isinstance(node, A.Call):
            return self._call(node)
        raise PromQLCompileError(f"cannot compile {type(node).__name__}")

    # ------------------------------------------------------------ selectors
    def _matcher_cond(self, m: A.Matcher) -> Column | None:
        """Label matcher → predicate (reference search/constraint.go:32-67;
        missing label ≡ '' per search/constraint.go:130-138).  Matchers on
        external labels are consumed against constants (elision, reference
        search/search.go:356-376): None → always true, False literal →
        short-circuit empty."""
        if m.label in self.ext_labels:
            ok = _matcher_matches(m, self.ext_labels[m.label])
            return None if ok else _lit(False)
        if m.label in self._stream_keys:
            # per-stream elision: the matcher is consumed against a stream's
            # descriptor ONLY for streams whose own descriptor carries the
            # label (reference search/search.go:356-376 matchExternalLabels —
            # per-block, from that block's stream).  Streams lacking it fall
            # through to the ordinary data-label predicate: a label external
            # in stream A may be a real data label in stream B.
            ext_ok = [s for s, ls in self.streams.items()
                      if m.label in ls and _matcher_matches(m, ls[m.label])]
            ext_no = [s for s, ls in self.streams.items()
                      if m.label in ls and not _matcher_matches(m, ls[m.label])]
            carrying = ext_ok + ext_no
            data_streams = [s for s in self.streams if s not in set(carrying)]
            if not data_streams:
                # every stream carries the label: pure stream predicates,
                # so Catalyst partition-prunes whole streams and an
                # all-match matcher elides away
                if not ext_no:
                    return None
                if not ext_ok:
                    return _lit(False)
                return F.col("stream").isin(ext_ok)
            # Mixed: streams configured WITHOUT the label keep the data-label
            # predicate; a stream value outside the dict (taken to cover the
            # column) is excluded.  coalesce: a NULL stream value is
            # excluded too, not NULL.
            not_carrying = F.coalesce(F.col("stream").isin(data_streams),
                                      _lit(False))
            cond = not_carrying & self._data_cond(m)
            if ext_ok:
                cond = F.col("stream").isin(ext_ok) | cond
            return cond
        return self._data_cond(m)

    def _data_cond(self, m: A.Matcher) -> Column:
        """Matcher as a data-label predicate (missing ≡ '')."""
        col = (F.col("__name__") if m.label == "__name__" else
               label("labels", m.label))
        if m.op == "=":
            return col == m.value
        if m.op == "!=":
            return col != m.value
        anchored = f"^(?:{m.value})$"
        if m.op == "=~":
            return col.rlike(anchored)
        if m.op == "!~":
            return ~col.rlike(anchored)
        raise PromQLCompileError(f"bad matcher op {m.op}")

    def _selector_base(self, vs: A.VectorSelector, window_ms: int) -> DataFrame:
        """Filtered + sig-keyed samples for a selector.  The time-window
        filter is applied BEFORE the canonical-sig projection: sig is the
        expensive expression in the scan stage, and only in-window rows need
        it (reference analogue: row-range pushdown before materialization,
        search/constraint.go → materialize.go).  On time-partitioned converted
        data the same predicate also drives partition pruning + page skipping."""
        df = self.samples
        # All predicates are collected and applied as ONE conjunctive
        # filter: Catalyst splits the conjunction for pushdown exactly as it
        # would a filter chain, but each DataFrame.filter call is a JVM plan
        # step with its own incremental re-analysis — measurable driver
        # latency on every query compile (guide §7.3).
        conds: list[Column] = []
        if vs.name:
            conds.append(F.col("__name__") == vs.name)  # parquet pushdown
        for m in vs.matchers:
            cond = self._matcher_cond(m)
            if cond is not None:
                conds.append(cond)
        if vs.at_ms is not None:
            wmax = self._resolve_at(vs.at_ms)
        else:
            wmax = self.p.end_ms
        wmin = (self._resolve_at(vs.at_ms) if vs.at_ms is not None
                else self.p.start_ms) - window_ms
        # bounds are on raw sample ts: effective ts = ts + offset must fall
        # in (wmin, wmax]
        lo, hi = wmin - vs.offset_ms, wmax - vs.offset_ms
        conds.append((F.col("ts") > lo) & (F.col("ts") <= hi))
        # The ms `ts` above is an expression over the raw parquet column
        # (unix_millis / div 1000000), so that filter cannot reach parquet
        # stats.  Re-state the window (lo, hi] ≡ [lo+1, hi] as literal
        # bounds on the raw column — pushable, so row groups / pages outside
        # the window are skipped at the scan (the reference's chunk-range
        # pruning, search/materialize.go:319-329).
        from thanos_parquet_gateway_spark.sources.tables import (
            pushable_ts_window,
        )
        raw_win = pushable_ts_window(df, lo + 1, hi)
        if raw_win is not None:
            conds.append(raw_win)
        if "date" in df.columns:
            # converted layout (convert/convert.py): derive partition-column
            # predicates from the window so Catalyst prunes day partitions
            # (the reference's block time-intersect, db/db.go:249-258);
            # lo is exclusive, so the first day is the one holding lo + 1
            conds.append((F.col("date") >= utc_day(lo + 1))
                         & (F.col("date") <= utc_day(hi)))
        acc = conds[0]
        for cnd in conds[1:]:
            acc = acc & cnd
        df = df.filter(acc)
        if self.streams:
            df = df.withColumn("labels", stream_decoration(self.streams))
        elif self.ext_labels:
            df = df.withColumn("labels", overlay_labels(self.ext_labels))
        ts_eff = F.col("ts") + _lit(vs.offset_ms) if vs.offset_ms else F.col("ts")
        cols = [canonical_sig("labels").alias("sig"),
                F.col("labels"), ts_eff.alias("ts"), F.col("value")]
        if "hist" in df.columns:  # native-histogram samples (histograms.py)
            cols.append(F.col("hist"))
        return df.select(*cols)

    def _resolve_at(self, at_ms: int) -> int:
        # start()/end() resolve against the TOP-LEVEL query range, even
        # inside subqueries (upstream preprocesses @ before evaluation) —
        # anchor_* fall back to this compiler's own range when it is the
        # top level, and carry the outer range when it is a subquery grid
        if at_ms == -1:
            return self.p.anchor_start_ms
        if at_ms == -2:
            return self.p.anchor_end_ms
        return at_ms

    def _vector_selector(self, vs: A.VectorSelector) -> InstantVector:
        base = self._selector_base(vs, self.p.lookback_ms)
        lb = self.p.lookback_ms
        # staleness: a NULL-valued marker sample participates in "latest
        # sample" selection (shadowing older real samples) and then drops the
        # series at steps where it is latest (Prometheus staleness semantics)
        has_hist = "hist" in base.columns
        # (sig, ts) is unique, so "latest sample" is max(ts) +
        # max_by(value, ts) in both modes — an exact selection, and the
        # primitive/small buffers keep the aggregation on the hash-based
        # path (ObjectHashAggregate) instead of the full-sort SortAggregate
        # that max(struct) forces
        sel_aggs = [F.max("ts").alias("__mts"),
                    F.max_by("value", "ts").alias("__mval")] + \
            ([F.max_by("hist", "ts").alias("__mhist")] if has_hist else [])
        raw_ts, raw_val = F.col("__mts"), F.col("__mval")
        raw_hist = F.col("__mhist") if has_hist else None
        # filter + ONE final projection straight off the aggregate outputs
        # (labels rebuilt from sig exactly once) — fewer JVM plan steps per
        # compile than the select→filter→select chain it replaces
        alive = (raw_val.isNotNull() | raw_hist.isNotNull()) if has_hist \
            else raw_val.isNotNull()
        sel_extra = ([raw_hist.alias("hist")] if has_hist else [])
        if vs.at_ms is not None:
            at = self._resolve_at(vs.at_ms) + vs.offset_ms * 0  # offset applied in base
            at_df = (hgroup(
                base.filter((F.col("ts") > at - lb) & (F.col("ts") <= at)),
                "sig", *sel_aggs,
                extra_keys=())
                .filter(alive))
            out = (at_df.crossJoin(F.broadcast(self.grid_df()))
                   .select("t", "sig",
                           labels_from_sig("sig").alias("labels"),
                           (raw_ts - _lit(vs.offset_ms)).alias("sample_ts"),
                           raw_val.alias("value"), *sel_extra))
            return InstantVector(out)
        exploded = base.withColumn("t", F.explode(self._serve_steps(F.col("ts"), lb)))
        out = (hgroup(exploded, "sig", *sel_aggs)
               .filter(alive)
               .select("t", "sig",
                       labels_from_sig("sig").alias("labels"),
                       # selection runs in the offset-shifted frame; the
                       # user-visible sample timestamp (timestamp()) is the
                       # ORIGINAL one (upstream vectorSelectorSingle)
                       (raw_ts - _lit(vs.offset_ms)).alias("sample_ts"),
                       raw_val.alias("value"), *sel_extra))
        return InstantVector(out)

    def _matrix_selector(self, ms: A.MatrixSelector) -> RangeVector:
        vs = ms.selector
        # stale markers never enter range windows (Prometheus skips them);
        # native-histogram samples (value NaN, hist set) pass through so the
        # rate family can do bucket-wise extrapolation (reference
        # float-histogram path, db/db_test.go:344-351)
        base = self._selector_base(vs, ms.range_ms)
        alive = F.col("value").isNotNull()
        if "hist" in base.columns:
            alive = alive | F.col("hist").isNotNull()
        base = base.filter(alive)
        at = self._resolve_at(vs.at_ms) if vs.at_ms is not None else None
        return self._range_window(base, ms.range_ms, at)

    def _range_window(self, pts: DataFrame, range_ms: int,
                      at: int | None = None) -> RangeVector:
        """The range vector over a points frame ``(sig, labels, ts, value
        [, hist])``: each point serves every grid step t with
        t - range < ts <= t.  Shared by matrix selectors and subqueries.

        Without ``@`` every point computes the steps it serves
        (``_serve_steps`` + explode, map-side).  With ``@`` the window is
        fixed at (at - range, at] and repeats at every step as a per-step
        offset of (t - at) (upstream setOffsetForAtModifier converts @ to
        exactly that): the window points cross-join the grid and shift into
        the step frame, so every (t - range, t] boundary computation
        downstream — the rate family's extrapolation anchors above all —
        sees the anchored window as if it ended at t.  ts_of_*/timestamp
        subtract the shift back when exposing timestamps (functions.py).

        ``prev`` attaches each point's predecessor (lag per series over
        the points, BEFORE the explode/cross join — one un-replicated
        shuffle) and moves ``__pts``/``__nts`` by the same shift as ``ts``.
        Sound because (sig, ts) is unique in the points frame, and a
        predecessor outside the frame is outside every window: consumers
        gate on __pts > t - range.

        Both variants are THUNKS: each consumer reads exactly one of
        df/prev, and building the other is a wasted JVM plan op with a full
        eager re-analysis of the selector subtree — measured at ~50 ms per
        op on the bench plans, pure per-query compile latency."""
        hist_cols = ["hist"] if "hist" in pts.columns else []
        if at is None:
            steps = F.explode(self._serve_steps(F.col("ts"), range_ms)) \
                .alias("t")

            def window(frame: DataFrame, cols: list[str]) -> DataFrame:
                return frame.select(steps, "sig", "labels", *cols)
        else:
            pts = pts.filter((F.col("ts") > at - range_ms)
                             & (F.col("ts") <= at))
            shift = F.col("t") - _lit(at)

            def window(frame: DataFrame, cols: list[str]) -> DataFrame:
                return (frame.crossJoin(F.broadcast(self.grid_df()))
                        .select("t", "sig", "labels",
                                *[(F.col(c) + shift).alias(c)
                                  if c in ("ts", "__pts", "__nts") else c
                                  for c in cols]))

        def prev() -> DataFrame:
            from pyspark.sql import Window as _W
            w = _W.partitionBy("sig").orderBy("ts")
            # histogram-carrying points additionally lag the hist and lead
            # the ts (same WindowExec, no extra exchange/sort): the native
            # histogram rate needs the predecessor histogram for reset
            # pairs and the successor ts to decide first/last-in-window
            # membership per ROW (__nts > t ≡ last in (t-r, t])
            hist_lag = ([F.lag("hist").over(w).alias("__ph"),
                         F.lead("ts").over(w).alias("__nts")]
                        if hist_cols else [])
            based = pts.select("*",
                               F.lag("value").over(w).alias("__pv"),
                               F.lag("ts").over(w).alias("__pts"),
                               *hist_lag)
            return window(based, ["ts", "value", "__pv", "__pts", *hist_cols,
                                  *(["__ph", "__nts"] if hist_cols else [])])

        return RangeVector(
            lambda: window(pts, ["ts", "value", *hist_cols]), range_ms,
            prev=prev,
            columns=["t", "sig", "labels", "ts", "value", *hist_cols])

    def _subquery(self, sq: A.Subquery) -> RangeVector:
        """x[range:step] — inner expr evaluated on its own epoch-aligned grid,
        results re-windowed like a matrix selector."""
        p = self.p
        sub_step = sq.step_ms or p.subquery_step_ms
        outer_end = p.end_ms - sq.offset_ms
        outer_start = p.start_ms - sq.offset_ms
        if sq.at_ms is not None:
            outer_start = outer_end = self._resolve_at(sq.at_ms) - sq.offset_ms
        inner_start = int(math.ceil((outer_start - sq.range_ms + 1) / sub_step)) * sub_step
        inner_end = outer_end
        # the body compiles on this compiler under its own grid: same
        # samples, label sets, annotations and data probes; inner @
        # start()/end() keep resolving against the top-level range
        inner = copy.copy(self)
        inner.p = replace(p, start_ms=inner_start, end_ms=inner_end,
                          step_ms=sub_step, at_start_ms=p.anchor_start_ms,
                          at_end_ms=p.anchor_end_ms)
        inner.step = max(sub_step, 1)
        inner_res = inner.compile(sq.expr)
        if isinstance(inner_res, (float, ScalarV)):
            # upstream parser: "subquery is only allowed on instant vector"
            raise PromQLCompileError(
                "subquery is only allowed on instant vector, got scalar")
        if not isinstance(inner_res, InstantVector):
            raise PromQLCompileError("expected instant vector in subquery")
        iv = inner_res
        # native-histogram samples ride through subquery points like they
        # do through matrix selectors (upstream evaluates subqueries over
        # histogram series; previously the hist column was dropped here and
        # fn(h[R:step]) lost its histograms)
        hist_cols = ["hist"] if "hist" in iv.df.columns else []
        pts = iv.df.select("sig", "labels",
                           (F.col("t") + _lit(sq.offset_ms)).alias("ts"),
                           "value", *hist_cols)
        # the inner result has one row per (sig, inner step), so (sig, ts)
        # is unique; every grid point that can fall inside ANY outer window
        # is ≥ inner_start by construction
        at = self._resolve_at(sq.at_ms) if sq.at_ms is not None else None
        return self._range_window(pts, sq.range_ms, at)

    def compile_vector(self, node: A.Node) -> InstantVector:
        v = self.compile(node)
        if isinstance(v, float):
            v = self._scalar_to_vector(ScalarV(self._const_scalar_df(v)))
        elif isinstance(v, ScalarV):
            v = self._scalar_to_vector(v)
        if not isinstance(v, InstantVector):
            raise PromQLCompileError("expected instant vector")
        return v

    # ---------------------------------------------------------- aggregation
    def _grouped(self, iv: InstantVector, grouping: list[str], without: bool,
                 has_grouping: bool) -> DataFrame:
        if without:
            gl = drop_labels("labels", list(grouping) + ["__name__"])
        elif has_grouping:
            gl = keep_labels("labels", list(grouping))
        else:
            gl = label_map({})
        return (iv.df.withColumn("glabels", gl)
                .withColumn("gsig", canonical_sig(F.col("glabels"))))

    def _aggregation(self, agg: A.Aggregation):
        iv = self.compile(agg.expr)
        if not isinstance(iv, InstantVector):
            # upstream type check: "expected type instant vector in
            # aggregation expression, got scalar"
            raise PromQLCompileError(
                f"{agg.op} expects an instant vector, got "
                f"{type(iv).__name__}")
        param = None
        param_df = None  # per-step scalar parameter (upstream allows any
        #                  scalar-typed expression, re-evaluated per step)
        if agg.param is not None:
            p = self.compile(agg.param)
            if isinstance(p, StringV):
                param = p.value
            elif isinstance(p, float):
                param = p
            elif isinstance(p, ScalarV) and agg.op in ("topk", "bottomk",
                                                       "quantile"):
                param_df = p.df.withColumnRenamed("value", "__param")
            else:
                raise PromQLCompileError(f"{agg.op} param must be a scalar")
        if agg.op == "count_values" and isinstance(param, str):
            # Prometheus 3 default UTF-8 validation scheme: any non-empty
            # string is a legal label name (model.LabelName.IsValid)
            if param == "":
                # upstream aggregation eval error
                raise PromQLCompileError(
                    f"invalid label name {param!r}")
        if agg.op == "quantile" and isinstance(param, float) and (
                math.isnan(param) or param < 0 or param > 1):
            # upstream annotations.NewInvalidQuantileWarning
            self.annotate("warn", "quantile value should be between 0 and 1, "
                                  f"got {fmt_g(param)}")
        df = self._grouped(iv, agg.grouping, agg.without, agg.has_grouping)
        if param_df is not None:
            # one row per t, broadcast onto the grouped frame
            df = df.join(F.broadcast(param_df), "t")

        if "hist" in df.columns and agg.op in (
                "min", "max", "stddev", "stdvar", "quantile",
                "topk", "bottomk", "count_values"):
            # upstream aggregation(): native-histogram samples are skipped
            # in these aggregators with
            # annotations.NewHistogramIgnoredInAggregationInfo — count/group
            # DO count histograms, sum/avg merge them (branch below),
            # limitk/limit_ratio sample them through
            self.add_data_probe(
                df.filter(F.col("hist").isNotNull()).limit(1)
                  .select(_lit("info").alias("kind"),
                          _lit(f"ignored histogram in {agg.op} "
                                "aggregation").alias("msg")))
            df = df.filter(F.col("hist").isNull()).drop("hist")

        if agg.op in ("topk", "bottomk"):
            if param_df is not None:
                # upstream errors on NaN/overflowing k ("Scalar value %v
                # overflows int64") — raise from the plan, not a CAST crash
                kp = F.col("__param")
                bad = (F.isnan(kp) | (kp >= _lit(float(2 ** 63)))
                       | (kp <= _lit(-float(2 ** 63))))
                k = (F.when(bad, F.raise_error(F.concat(
                        _lit("scalar value "), kp.cast("string"),
                        _lit(f" overflows int64 for {agg.op}"))))
                     .otherwise(kp)).cast("long")
            else:
                if math.isnan(param) or abs(param) >= 2 ** 63:
                    raise PromQLCompileError(
                        f"scalar value {fmt_g(param)} overflows int64")
                k = _lit(int(param))
            # Two-phase distributed top-k (operators/topk.py) — no window:
            # `topk(10, metric)` over a 10M-series metric must not funnel
            # the whole series set through one reducer per step (reference
            # scale contract: db/db_bench_test.go:143-307).  The ascending
            # struct key reproduces the former window order exactly
            # (isnan asc, value desc|asc, sig asc); `value` is never NULL
            # here (stale markers are dropped before aggregation), and the
            # NaN discriminator keeps the negated key finite.
            sgn = _lit(-1.0 if agg.op == "topk" else 1.0)
            key = F.struct(
                F.when(F.isnan("value"), _lit(1)).otherwise(_lit(0))
                 .alias("__nan"),
                F.when(F.isnan("value"), _lit(0.0))
                 .otherwise(F.col("value") * sgn).alias("__ord"),
                F.col("sig").alias("sig"),
                F.col("value").alias("value"))
            ranked = grouped_topk(
                df.withColumn("__gh", F.xxhash64("gsig")),
                ["t", "__gh"], key, k)
            out = ranked.select(
                "t", F.col("__x.sig").alias("sig"),
                labels_from_sig(F.col("__x.sig")).alias("labels"),
                _lit(None).cast("long").alias("sample_ts"),
                F.col("__x.value").alias("value"))
            return InstantVector(out)

        if agg.op == "limitk":
            # Experimental sampling aggregator: up to k series per group,
            # selection unspecified upstream (funcs.go AggrFunc limitk) —
            # deterministic here by sig order so runs are reproducible.
            # Same two-phase shape as topk: no per-(step, group) window.
            k = int(param)
            if k < 1:
                return InstantVector(iv.df.filter(_lit(False)).select(
                    "t", "sig", "labels", "sample_ts", "value"))
            lk_hist = "hist" in df.columns  # sampling keeps histograms
            key = F.struct(F.col("sig").alias("sig"),
                           F.col("sample_ts").alias("sample_ts"),
                           F.col("value").alias("value"),
                           *([F.col("hist").alias("hist")] if lk_hist
                             else []))
            ranked = grouped_topk(
                df.withColumn("__gh", F.xxhash64("gsig")),
                ["t", "__gh"], key, k)
            out = ranked.select(
                "t", F.col("__x.sig").alias("sig"),
                labels_from_sig(F.col("__x.sig")).alias("labels"),
                F.col("__x.sample_ts").alias("sample_ts"),
                F.col("__x.value").alias("value"),
                *([F.col("__x.hist").alias("hist")] if lk_hist else []))
            return InstantVector(out)

        if agg.op == "limit_ratio":
            # hash(series) mapped to [0,1); r ≥ 0 keeps u < r, r < 0 keeps
            # the complement u ≥ 1+r — limit_ratio(r, v) and
            # limit_ratio(r-1, v) partition v exactly, like upstream's
            # ratiosampler (promql/engine.go AddRatioSample).  |r| > 1 clamps.
            if math.isnan(float(param)):
                raise PromQLCompileError("limit_ratio: ratio value is NaN")
            r = max(-1.0, min(1.0, float(param)))
            if float(param) < -1.0 or float(param) > 1.0:
                # upstream annotations.NewInvalidRatioWarning
                self.annotate("warn",
                              "ratio value should be between -1 and 1, got "
                              f"{fmt_g(float(param))}, capping to {fmt_g(r)}")
            u = (F.xxhash64(F.col("sig")).cast("double")
                 / _lit(float(2 ** 64)) + _lit(0.5))
            keep = (u < _lit(r)) if r >= 0 else (u >= _lit(1.0 + r))
            out = df.filter(keep).select(
                "t", "sig", "labels", "sample_ts", "value",
                *(["hist"] if "hist" in df.columns else []))  # sampling
            #   keeps histogram samples, like upstream AddRatioSample
            return InstantVector(out)

        if agg.op == "count_values":
            # Prometheus formats the value label with FormatFloat('f', -1, 64):
            # shortest-roundtrip digits in FIXED notation (never scientific),
            # integral doubles without a fraction ("100", not "100.0"),
            # infinities as +Inf/-Inf, and -0.0 as "-0".  Spark's double→string
            # is Java Double.toString (scientific outside [1e-3, 1e7)), so
            # fixed notation is produced via decimal casts — Spark converts
            # double→decimal through BigDecimal.valueOf (shortest-roundtrip
            # digits), and decimal→string is always plain notation:
            #   - integral |v| < 2^63        → long cast (codegen fast path)
            #   - integral |v| < 1e38        → decimal(38,0)
            #   - non-integral |v| ≥ 1       → decimal(38,17), zeros trimmed
            #     (non-integral doubles are < 2^53, ≤ 17 sig digits)
            #   - non-integral |v| ≥ 1e-20   → decimal(38,37), zeros trimmed
            # Outside those ranges (|v| ≥ 1e38 or 0 < |v| < 1e-20) Java's
            # scientific string ALREADY carries the shortest-roundtrip
            # mantissa digits, so fixed notation is rebuilt by string ops:
            # "d.dddEn" → digits + zero-padding (big) or "0." + zeros +
            # digits (small) — closing the formatting divergence the r5-r7
            # verdicts carried at the extremes.
            # try_cast everywhere: ANSI mode turns overflow into NULL, and
            # the isNotNull guards route to the next branch.
            v = F.col("value")
            lng = v.try_cast("long")
            big = v.try_cast("decimal(38,0)")
            frac_ge1 = v.try_cast("decimal(38,17)")
            frac_lt1 = v.try_cast("decimal(38,37)")

            def _trim(c):
                return F.regexp_replace(
                    F.regexp_replace(c.cast("string"), "0+$", ""),
                    "\\.$", "")

            # extreme magnitudes (|v| >= 1e38 or < 1e-20): rebuild Go's
            # fixed notation with SHORTEST-roundtrip digits.  Java 17's
            # Double.toString guarantees round-trip but not minimal digits
            # (e.g. 4.9E-324 where Go prints 5e-324), so instead of its
            # mantissa, pick the fewest-significant-digits printf("%e")
            # rendering that still parses back to the same double — the
            # same shortest-that-roundtrips rule strconv.FormatFloat
            # implements (Ryū); %.16e (17 sig digits) always round-trips,
            # so the filter is never empty.  Cold path: only the extreme
            # branches below evaluate it.
            sign = F.when(v < 0, _lit("-")).otherwise(_lit(""))
            cands = F.array(*[F.format_string(f"%.{k}e", F.abs(v))
                              for k in range(17)])
            best = F.element_at(
                F.filter(cands, lambda s: s.try_cast("double") == F.abs(v)),
                1)
            mant = F.regexp_extract(best, r"(\d(?:\.\d+)?)e", 1)
            expn = F.regexp_extract(best, r"e([+-]\d+)$", 1).cast("int")
            digits = F.regexp_replace(mant, r"\.", "")
            # %e keeps exactly one digit before the dot → fraction length
            # is len(digits) - 1; for |v| >= 1e38 (exp >= 38 >= fraclen)
            # fixed = sign+digits+zero padding, for 0 < |v| < 1e-20
            # (exp <= -21) fixed = sign + "0." + (-exp-1) zeros + digits
            # (trailing mantissa zeros trimmed — a shortest winner can
            # still carry one, e.g. "%.1e" beating "%.0e" on a tie).
            big_fixed = F.concat(
                sign, digits,
                F.repeat(_lit("0"), expn - (F.length(digits) - 1)))
            small_fixed = F.concat(
                sign, _lit("0."), F.repeat(_lit("0"), -expn - 1),
                F.regexp_replace(digits, "0+$", ""))
            vstr = (F.when(F.isnan(v), _lit("NaN"))
                    .when(v == float("inf"), _lit("+Inf"))
                    .when(v == float("-inf"), _lit("-Inf"))
                    .when(v == 0.0,
                          # negative zero via Java's toString ("-0.0");
                          # 1/v would be an ANSI divide-by-zero error
                          F.when(v.cast("string").startswith("-"),
                                 _lit("-0")).otherwise(_lit("0")))
                    .when(lng.cast("double") == v, lng.cast("string"))
                    .when(big.isNotNull() & (big.cast("double") == v),
                          big.cast("string"))
                    .when((F.abs(v) >= 1.0) & frac_ge1.isNotNull(),
                          _trim(frac_ge1))
                    .when((F.abs(v) >= 1e-20) & frac_lt1.isNotNull(),
                          _trim(frac_lt1))
                    .when(F.abs(v) >= 1e38, big_fixed)
                    .otherwise(small_fixed))
            nl = F.map_concat(
                F.map_filter(F.col("glabels"), lambda k, _v: k != _lit(param)),
                F.create_map(_lit(param), vstr))
            out = (hgroup(df.withColumn("labels", nl)
                          .withColumn("sig", canonical_sig(F.col("labels"))),
                          "sig",
                          F.count("*").cast("double").alias("value"),
                          labels="labels")
                   .select("t", "sig", "labels",
                           _lit(None).cast("long").alias("sample_ts"), "value"))
            return InstantVector(out)

        hist_part = None  # histogram-group sum/avg output, unioned onto the
        #                   float result at the return sites below
        if "hist" in df.columns and agg.op in ("sum", "avg"):
            # native-histogram sum: le-aligned bucket merge (histograms.py);
            # avg = the same merge scaled by 1/n (upstream aggregates
            # histograms through FloatHistogram.Add then Div).  Upstream
            # aggregation() semantics per (step, group): all-float groups
            # aggregate normally, all-histogram groups merge, MIXED groups
            # are removed entirely with
            # annotations.NewMixedFloatsHistogramsAggWarning.
            from thanos_parquet_gateway_spark.promql import histograms as H
            dfh = df.withColumn("__gh", F.xxhash64("gsig"))
            mixed = (dfh.groupBy("t", "__gh")
                     .agg(F.max(F.col("hist").isNotNull()).alias("__h"),
                          F.max(F.col("hist").isNull()).alias("__f"))
                     .filter(F.col("__h") & F.col("__f"))
                     .select("t", "__gh"))
            self.add_data_probe(mixed.limit(1).select(
                _lit("warn").alias("kind"),
                _lit("encountered a mix of histograms and floats for "
                      "aggregation").alias("msg")))
            dfh = dfh.join(mixed, ["t", "__gh"], "left_anti")
            hdf = dfh.filter(F.col("hist").isNotNull())
            df = dfh.filter(F.col("hist").isNull()).drop("hist", "__gh")
            totals = (hdf.groupBy("t", "__gh")
                      .agg(F.first("gsig").alias("gsig"),
                           F.sum(F.col("hist.count")).alias("__c"),
                           F.sum(F.col("hist.sum")).alias("__s"),
                           F.count("*").alias("__n"),
                           # bound semantics survive the merge (same-schema
                           # histograms in practice; min is deterministic)
                           F.min(F.col("hist.schema")).alias("__sch"),
                           F.first("glabels").alias("labels")))
            buckets = (hdf.select("t", "__gh",
                                  F.explode(F.col("hist.buckets")).alias("b"))
                       .groupBy("t", "__gh", F.col("b.le").alias("__le"))
                       .agg(F.sum(F.col("b.count")).alias("__bc"))
                       .groupBy("t", "__gh")
                       .agg(F.array_sort(F.collect_list(
                           F.struct(F.col("__le").alias("le"),
                                    F.col("__bc").alias("count")))).alias("__bk")))
            merged = H.make_hist(F.col("__c"), F.col("__s"), F.col("__bk"),
                                 F.col("__sch"))
            if agg.op == "avg":
                merged = H.scale_hist(merged, _lit(1.0) / F.col("__n"))
            hist_part = (totals.join(buckets, ["t", "__gh"])
                         .select("t", F.col("gsig").alias("sig"), "labels",
                                 _lit(None).cast("long").alias("sample_ts"),
                                 _lit(float("nan")).alias("value"),
                                 merged.alias("hist")))
            # float rows fall through to the aggregation paths below

        def _with_hist(out_df):
            if hist_part is None:
                return out_df
            return out_df.unionByName(hist_part, allowMissingColumns=True)

        if agg.op == "quantile" or (self.p.deterministic
                                    and agg.op in folds.REASSOC):
            # the rank rule (NaN first, as upstream) folds in both modes;
            # det mode also folds the float sums that reassociate
            extra = ([F.first("__param").alias("__param")]
                     if param_df is not None else [])
            g = hgroup(df, "gsig",
                       folds.sorted_pairs(F.col("sig"), F.col("value")).alias("arr"),
                       *extra, labels="labels")
            arr = F.col("arr")
            if agg.op == "quantile":
                val = folds.fold_quantile(
                    arr, F.col("__param") if param_df is not None
                    else _lit(float(param)))
            else:
                val = {"sum": folds.fold_sum, "avg": folds.fold_avg,
                       "stddev": folds.fold_stddev_pop,
                       "stdvar": folds.fold_var_pop}[agg.op](arr)
            out = g.select("t", F.col("gsig").alias("sig"), "labels",
                           _lit(None).cast("long").alias("sample_ts"),
                           val.alias("value"))
            return InstantVector(_with_hist(out))

        nanif = _nan_to_null(F.col("value"))
        exprs = {
            "sum": F.sum("value"),
            "avg": F.avg("value"),
            "count": F.count("*").cast("double"),
            "group": F.first(_lit(1.0)),
            "min": F.coalesce(F.min(nanif), F.first(NAN())),
            "max": F.coalesce(F.max(nanif), F.first(NAN())),
            "stddev": F.coalesce(F.stddev_pop("value"), F.first(NAN())),
            "stdvar": F.coalesce(F.var_pop("value"), F.first(NAN())),
        }
        out = (hgroup(df, "gsig",
                      exprs[agg.op].alias("value"),
                      labels="labels")
               .select("t", F.col("gsig").alias("sig"), "labels",
                       _lit(None).cast("long").alias("sample_ts"),
                       F.col("value").cast("double").alias("value")))
        return InstantVector(_with_hist(out))

    # -------------------------------------------------------------- binary
    def _const_scalar_df(self, v: float) -> DataFrame:
        return self.grid_df().select("t", _lit(v).cast("double").alias("value"))

    def _scalar_to_vector(self, s: ScalarV) -> InstantVector:
        empty = label_map({})
        df = s.df.select("t", canonical_sig(empty).alias("sig"),
                         empty.alias("labels"),
                         _lit(None).cast("long").alias("sample_ts"), "value")
        return InstantVector(df)

    def _match_sig(self, vm: A.VectorMatching) -> Column:
        """Join key for vector matching (SURVEY.md §2.C): on(...) keeps the
        listed labels; ignoring/default drops listed + __name__."""
        if vm.explicit and vm.on:
            return canonical_sig(keep_labels("labels", vm.labels))
        dropped = (list(vm.labels) if vm.explicit else []) + ["__name__"]
        return canonical_sig(drop_labels("labels", dropped))

    def _binary(self, be: A.BinaryExpr):
        l = self.compile(be.lhs)
        r = self.compile(be.rhs)
        op = be.op

        if isinstance(l, (RangeVector, StringV)) or \
                isinstance(r, (RangeVector, StringV)):
            # upstream typecheck: "binary expression must contain only
            # scalar and instant vector types"
            raise PromQLCompileError(
                "binary expression must contain only scalar and instant "
                "vector types")

        if isinstance(l, float) and isinstance(r, float):
            return self._const_binop(op, l, r, be.bool_modifier)

        if op in A.SET_OPS:
            if not (isinstance(l, InstantVector) and isinstance(r, InstantVector)):
                raise PromQLCompileError(f"{op} requires vector operands")
            return self._set_op(op, l, r, be.matching)

        l_vec = isinstance(l, InstantVector)
        r_vec = isinstance(r, InstantVector)
        if l_vec and r_vec:
            return self._vector_vector(be, l, r)
        if l_vec or r_vec:
            return self._vector_scalar(be, l, r)
        # scalar (df) ⊗ scalar
        if op in A.COMPARISON_OPS and not be.bool_modifier:
            raise PromQLCompileError(
                "comparisons between scalars must use BOOL modifier")
        ldf = l.df if isinstance(l, ScalarV) else self._const_scalar_df(l)
        rdf = r.df if isinstance(r, ScalarV) else self._const_scalar_df(r)
        j = ldf.alias("l").join(rdf.alias("r"), "t")
        lv, rv = F.col("l.value"), F.col("r.value")
        if op in A.COMPARISON_OPS:
            val = ieee_cmp(op, lv, rv).cast("double")
        else:
            val = arith_value(op, lv, rv)
        return ScalarV(j.select("t", val.alias("value")))

    def _const_binop(self, op, l: float, r: float, bool_mod: bool):
        if op in A.COMPARISON_OPS:
            if not bool_mod:
                raise PromQLCompileError(
                    "comparisons between scalars must use BOOL modifier")
            res = {"==": l == r, "!=": l != r, ">": l > r, "<": l < r,
                   ">=": l >= r, "<=": l <= r}[op]
            if math.isnan(l) or math.isnan(r):
                res = op == "!="
            return 1.0 if res else 0.0
        try:
            if op == "+":
                return l + r
            if op == "-":
                return l - r
            if op == "*":
                return l * r
            if op == "/":
                if r == 0:
                    return math.nan if (l == 0 or math.isnan(l)) else math.copysign(math.inf, l)
                return l / r
            if op == "%":
                return math.fmod(l, r) if r != 0 else math.nan
            if op == "^":
                return math.pow(l, r)
            if op == "atan2":
                return math.atan2(l, r)
        except (OverflowError, ValueError):
            return math.nan
        raise PromQLCompileError(f"unknown op {op}")

    def _vector_scalar(self, be: A.BinaryExpr, l, r) -> InstantVector:
        op = be.op
        swap = not isinstance(l, InstantVector)
        vec = r if swap else l
        sca = l if swap else r
        df = vec.df
        if isinstance(sca, float):
            sc = _lit(float(sca))
        else:
            sdf = sca.df.withColumnRenamed("value", "__sv")
            df = df.join(F.broadcast(sdf), "t")
            sc = F.col("__sv")
        lv, rv = (sc, F.col("value")) if swap else (F.col("value"), sc)
        has_hist = "hist" in df.columns
        if has_hist and not (op == "*" or (op == "/" and not swap)):
            # upstream: only hist*scalar, scalar*hist and hist/scalar are
            # defined; every other combination drops the histogram sample
            # (annotations.NewIncompatibleTypesInBinOpInfo)
            self.annotate("info", "incompatible sample types encountered "
                                  f"for binary operator \"{op}\"")
            df = df.filter(F.col("hist").isNull()).drop("hist")
            has_hist = False
        if op in A.COMPARISON_OPS:
            cond = ieee_cmp(op, lv, rv)
            if be.bool_modifier:
                out = (df.withColumn("value", cond.cast("double"))
                       .withColumn("labels", drop_labels("labels", ["__name__"]))
                       .withColumn("sig", canonical_sig(F.col("labels"))))
            else:
                out = df.filter(cond)
        else:
            out = (df.withColumn("value", arith_value(op, lv, rv))
                   .withColumn("labels", drop_labels("labels", ["__name__"]))
                   .withColumn("sig", canonical_sig(F.col("labels"))))
            if has_hist:
                # histogram scaling (upstream FloatHistogram.Mul / Div)
                from thanos_parquet_gateway_spark.promql import histograms as H
                factor = sc if op == "*" else _lit(1.0) / sc
                out = out.withColumn(
                    "hist", F.when(F.col("hist").isNotNull(),
                                   H.scale_hist(F.col("hist"), factor)))
        extra = ["hist"] if has_hist else []
        return InstantVector(
            out.select("t", "sig", "labels", "sample_ts", "value", *extra))

    def _vector_vector(self, be: A.BinaryExpr, l: InstantVector,
                       r: InstantVector) -> InstantVector:
        op, vm = be.op, be.matching
        if vm.card == "one-to-many":  # group_right: swap, carry op orientation
            swapped = A.BinaryExpr(op, be.rhs, be.lhs, be.bool_modifier,
                                   A.VectorMatching(vm.on, vm.labels,
                                                    "many-to-one", vm.include,
                                                    vm.explicit))
            iv = self._vector_vector_impl(swapped, r, l, swap_values=True)
            return iv
        return self._vector_vector_impl(be, l, r, swap_values=False)

    def _vector_vector_impl(self, be, l, r, swap_values: bool) -> InstantVector:
        op, vm = be.op, be.matching
        # join/window key = xxhash64 of the match-labels sig: 8-byte shuffle
        # key instead of a JSON string (reference convert/tsdb.go:132)
        mh = F.xxhash64(self._match_sig(vm))
        from pyspark.sql import Window as W
        # Match-group uniqueness (Prometheus errors instead of joining
        # per-pair): the 'one' side (rhs here; group_right was swapped) must
        # be unique per (t, match-labels); in one-to-one the lhs must be too.
        # Counted with a window over the join key — the join shuffles on the
        # same key, so Catalyst reuses the exchange; raise_error fires only
        # on offending rows (`when` short-circuits).  The window partitions
        # by the PROJECTED __mh attribute, not the mh expression: keying the
        # window on the raw expression makes Spark project a second copy
        # (_w0) next to __mh, i.e. the match-sig JSON+hash computed twice
        # per row — per-task work is the wrong trade for one fewer plan op.
        ldf = l.df.select("*", mh.alias("__mh"))
        mw = W.partitionBy("t", "__mh")
        lcnt = (F.count("*").over(mw) if vm.card == "one-to-one"
                else _lit(1))
        ldf = ldf.select("*", lcnt.alias("__lcnt"))
        side = "left" if swap_values else "right"
        # The 'one'-side guard is applied to the PRE-join rows: Prometheus
        # raises while building its rightSigs map, before matching, so a
        # duplicate 'one'-side series errors even when its match group has no
        # partner on the other side.  The guard is folded into the JOIN KEY —
        # a plain payload column would be lazily skipped by whole-stage
        # codegen for non-matching rows, but the key must be evaluated for
        # every rhs row to probe/build the hash table, matched or not.
        rw = W.partitionBy("t", "__mh_raw")
        rguard = F.when(
            F.count("*").over(rw) > 1,
            F.raise_error(F.concat(
                _lit("found duplicate series for the match group "),
                F.to_json("labels"),
                _lit(f" on the {side} hand-side of the operation")))
        ).otherwise(F.col("__mh_raw"))
        lhist = "hist" in l.df.columns
        rhist = "hist" in r.df.columns
        rextra = ([F.col("hist").alias("__rhist")] if rhist else [])
        rdf = (r.df.select("*", mh.alias("__mh_raw"))
               .select("t", rguard.alias("__mh"),
                       F.col("value").alias("__rv"),
                       F.col("labels").alias("__rlabels"), *rextra))
        j = ldf.join(rdf, ["t", "__mh"])
        # The many-side (lhs) one-to-one guard stays POST-join: Prometheus
        # only detects the left duplicate when inserting into matchedSigs,
        # i.e. after the left series found a right partner.
        dup = F.col("__lcnt") > 1
        guard = F.when(
            dup,
            F.raise_error(_lit(
                "multiple matches for labels: many-to-one matching must be "
                "explicit (group_left/group_right)")))
        lv = F.when(dup, guard).otherwise(F.col("value"))
        rv = F.col("__rv")
        if swap_values:
            lv, rv = rv, lv
        # native-histogram operands (upstream FloatHistogram arithmetic):
        # h+h / h-h bucket-merge, h*f / f*h / h/f scale; every other
        # hist-involved pairing is dropped like upstream's incompatible-
        # types eval path.  Float pairs are untouched.
        from thanos_parquet_gateway_spark.promql import histograms as H
        lh = F.col("hist") if lhist else H.null_hist()
        rh = F.col("__rhist") if rhist else H.null_hist()
        if swap_values:
            lh, rh = rh, lh
        any_hist = lhist or rhist
        both_f = lh.isNull() & rh.isNull()
        hist_out = None
        hist_cmp = None
        if any_hist:
            both_h = lh.isNotNull() & rh.isNotNull()
            if op in ("==", "!="):
                # upstream (Prometheus 3): histogram equality is structural
                # (count, sum, buckets); mixed float/histogram pairs drop
                keep = both_f | both_h
                eq = lh.eqNullSafe(rh)
                hist_cmp = (both_h, eq if op == "==" else ~eq)
                hist_out = F.when(both_h, lh)
            elif op in ("+", "-"):
                keep = both_f | both_h
                hist_out = F.when(
                    both_h, H.merge_two(lh, rh) if op == "+"
                    else H.sub_two(lh, rh))
            elif op == "*":
                keep = both_f | (lh.isNotNull() != rh.isNotNull())
                hist_out = (F.when(lh.isNotNull() & rh.isNull(),
                                   H.scale_hist(lh, rv))
                            .when(rh.isNotNull() & lh.isNull(),
                                  H.scale_hist(rh, lv)))
            elif op == "/":
                keep = both_f | (lh.isNotNull() & rh.isNull())
                hist_out = F.when(lh.isNotNull() & rh.isNull(),
                                  H.scale_hist(lh, _lit(1.0) / rv))
            else:
                # %, ^, atan2, comparisons: float-only upstream
                self.annotate("info", "incompatible sample types encountered"
                                      f" for binary operator \"{op}\"")
                keep = both_f
                hist_out = None
            j = j.filter(keep)
            if hist_out is not None:
                # materialized BEFORE the value column is overwritten with
                # the arithmetic result — the scale factor reads it
                j = j.withColumn("__hout", hist_out)
        # ONE fused projection per branch (result labels + sig + value in a
        # single select) instead of a withColumn chain — each chained step
        # is a JVM plan op with incremental re-analysis, pure compile
        # latency.  canonical_sig(rl) duplicates the rl subtree in the
        # projection; physical-plan subexpression elimination dedupes it.
        sample_ts = _lit(None).cast("long").alias("sample_ts")
        # arithmetic results and non-bool ==/!= filters carry the (lhs)
        # histogram; bool comparisons yield plain 0/1 floats
        hist_keep = ([F.col("__hout").alias("hist")]
                     if hist_out is not None else [])
        if op in A.COMPARISON_OPS:
            cond = ieee_cmp(op, lv, rv)
            if hist_cmp is not None:
                cond = F.when(hist_cmp[0], hist_cmp[1]).otherwise(cond)
            if be.bool_modifier:
                rl = self._result_labels(vm)
                out = j.select("t", canonical_sig(rl).alias("sig"),
                               rl.alias("labels"), sample_ts,
                               cond.cast("double").alias("value"))
            else:
                out = j.filter(cond).select(
                    "t", "sig", "labels", sample_ts,
                    lv.alias("value"), *hist_keep)
        else:
            rl = self._result_labels(vm)
            out = j.select("t", canonical_sig(rl).alias("sig"),
                           rl.alias("labels"), sample_ts,
                           arith_value(op, lv, rv).alias("value"),
                           *hist_keep)
        return InstantVector(out)

    def _result_labels(self, vm: A.VectorMatching) -> Column:
        """Result label set of an arithmetic/bool vector-vector op: on(...) 1:1
        keeps the on-labels; ignoring/default keeps lhs minus ignoring minus
        __name__; group_left additionally copies include-labels from the one
        side (reference test evidence db/db_test.go:660-680)."""
        if vm.explicit and vm.on and vm.card == "one-to-one":
            base = keep_labels("labels", vm.labels)
        else:
            # ignoring-labels are dropped ONLY for one-to-one matches
            # (upstream engine resultMetric: the many side of group_left/
            # group_right keeps its full labelset, including ignored labels)
            dropped = ["__name__"]
            if vm.explicit and not vm.on and vm.card == "one-to-one":
                dropped += list(vm.labels)
            base = drop_labels("labels", dropped)
        if vm.include:
            inc = F.array(*[_lit(k) for k in vm.include])
            base = F.map_concat(
                F.map_filter(base, lambda k, _v: ~F.array_contains(inc, k)),
                F.map_filter(F.col("__rlabels"), lambda k, _v: F.array_contains(inc, k)))
        return base

    def _set_op(self, op: str, l: InstantVector, r: InstantVector,
                vm: A.VectorMatching) -> InstantVector:
        from thanos_parquet_gateway_spark.promql import histograms as H
        mh = F.xxhash64(self._match_sig(vm))
        # set ops never touch sample values, so native-histogram samples
        # pass through untouched (null-hist padding when only one side
        # carries them)
        any_hist = "hist" in l.df.columns or "hist" in r.df.columns
        ldf = l.df.withColumn("__mh", mh)
        if any_hist and "hist" not in ldf.columns:
            ldf = ldf.withColumn("hist", H.null_hist())
        rkeys = r.df.withColumn("__mh", mh).select("t", "__mh").distinct()
        if op == "and":
            out = ldf.join(rkeys, ["t", "__mh"], "left_semi")
        elif op == "unless":
            out = ldf.join(rkeys, ["t", "__mh"], "left_anti")
        else:  # or — all lhs series + rhs series whose match-sig absent in lhs
            lkeys = ldf.select("t", "__mh").distinct()
            rdf = r.df.withColumn("__mh", mh)
            if any_hist and "hist" not in rdf.columns:
                rdf = rdf.withColumn("hist", H.null_hist())
            radd = rdf.join(lkeys, ["t", "__mh"], "left_anti")
            out = ldf.unionByName(radd)
        extra = ["hist"] if any_hist else []
        return InstantVector(
            out.select("t", "sig", "labels", "sample_ts", "value", *extra))

    def _unary(self, ue: A.UnaryExpr):
        v = self.compile(ue.expr)
        if isinstance(v, float):
            return -v
        if isinstance(v, ScalarV):
            return ScalarV(v.df.withColumn("value", -F.col("value")))
        if isinstance(v, InstantVector):
            df = (v.df.withColumn("value", -F.col("value"))
                  .withColumn("labels", drop_labels("labels", ["__name__"]))
                  .withColumn("sig", canonical_sig(F.col("labels"))))
            extra = []
            if "hist" in df.columns:
                # upstream: unary minus scales the histogram by -1
                from thanos_parquet_gateway_spark.promql import histograms as H
                df = df.withColumn(
                    "hist", F.when(F.col("hist").isNotNull(),
                                   H.scale_hist(F.col("hist"), _lit(-1.0))))
                extra = ["hist"]
            return InstantVector(
                df.select("t", "sig", "labels", "sample_ts", "value", *extra))
        raise PromQLCompileError("cannot negate range vector")

    # ---------------------------------------------------------------- calls
    def _call(self, call: A.Call):
        from thanos_parquet_gateway_spark.promql import functions as PF
        return PF.dispatch(self, call)
