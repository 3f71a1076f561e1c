"""Native-histogram support (reference: HISTOGRAM / FLOAT_HISTOGRAM chunk
encodings, api/grpc/thanos.go:462-473; float-histogram queries
db/db_test.go:344-351).

Spark-first representation (SURVEY.md §1.4 "native histograms → nested
StructType"): a nullable ``hist`` column on the samples table,

    hist: struct<count:  double,   -- total observations
                 sum:    double,   -- sum of observations
                 buckets: array<struct<le:double, count:double>>,
                 schema: int>      -- Prometheus schema: -53 = custom
                                   -- bounds (NHCB), n in [-4, 8] =
                                   -- exponential base 2^(2^-n);
                                   -- NULL ≡ custom (legacy rows)

``buckets`` are NON-cumulative with explicit upper bounds, sorted by le
ascending, last bucket le = +Inf.  Conversion from Prometheus sparse
exponential schemas computes the bounds at ingest (le = base^(idx), base =
2^(2^-schema)) — storing bounds directly makes bucket algebra a plain
array/groupBy problem and removes schema-mismatch handling from the query
path (different-schema histograms land on their own le grids and merge via
le equality, mirroring Prometheus' reduce-to-common-schema on ingest).

The ``schema`` field preserves the bound SEMANTICS upstream attaches to
the two families (promql/quantile.go histogramQuantile, functions.go
funcHistogramStdDev):
- custom buckets (NHCB, schema -53): classic-histogram interpolation — the
  first bucket's lower bound is clamped to 0 (unless le <= 0) and stddev
  midpoints are arithmetic;
- exponential (schema >= -4): a bucket with upper bound le > 0 covers
  (le/base, le] — the ACTUAL exponential lower bound is used for
  interpolation (no first-bucket clamp), and stddev midpoints are
  geometric, sqrt(lower·upper), with the zero bucket representing 0.

Float samples leave ``hist`` NULL; histogram samples carry value = NaN like
Prometheus' series model.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from thanos_parquet_gateway_spark.schema import cached_lit as _lit

D = "double"

CUSTOM_SCHEMA = -53  # upstream histogram.CustomBucketsSchema

HIST_TYPE = T.StructType([
    T.StructField("count", T.DoubleType()),
    T.StructField("sum", T.DoubleType()),
    T.StructField("buckets", T.ArrayType(T.StructType([
        T.StructField("le", T.DoubleType()),
        T.StructField("count", T.DoubleType()),
    ]))),
    T.StructField("schema", T.IntegerType()),
])


def make_hist(count: Column, total: Column, buckets: Column,
              schema: Column | int | None = None) -> Column:
    if schema is None:
        sch = _lit(None).cast("int")  # NULL ≡ custom bounds
    elif isinstance(schema, int):
        sch = _lit(schema).cast("int")
    else:
        sch = schema.cast("int")
    return F.struct(count.cast(D).alias("count"), total.cast(D).alias("sum"),
                    buckets.alias("buckets"), sch.alias("schema"))


def _is_exp(hist: Column) -> Column:
    """True when the histogram carries exponential-schema bound semantics."""
    sch = hist["schema"]
    return sch.isNotNull() & (sch != CUSTOM_SCHEMA)


def _base(hist: Column) -> Column:
    """Exponential bucket base 2^(2^-schema)."""
    return F.pow(_lit(2.0),
                 F.pow(_lit(2.0), -hist["schema"].cast(D)))


def null_hist() -> Column:
    return _lit(None).cast(HIST_TYPE)


def exp_bucket_le(value: Column, schema: int = 0) -> Column:
    """Upper bound of the exponential bucket containing ``value`` (>0):
    le = base^ceil(log_base(v)), base = 2^(2^-schema).  schema=0 → powers
    of two, matching Prometheus native-histogram schema 0."""
    base = float(2.0 ** (2.0 ** -schema))
    logb = F.log(_lit(base), value.cast(D))
    return F.pow(_lit(base), F.ceil(logb).cast(D))


def hist_count(hist: Column) -> Column:
    return hist["count"]


def hist_sum(hist: Column) -> Column:
    return hist["sum"]


def _fdiv(l: Column, r: Column) -> Column:
    """Go float division (0/0 → NaN, x/0 → ±Inf) — Spark ANSI mode would
    raise on a zero divisor instead."""
    nan = _lit(float("nan"))
    return (F.when(r == 0.0,
                   F.when(F.isnan(l) | (l == 0.0), nan)
                    .when(l > 0, _lit(float("inf")))
                    .otherwise(_lit(float("-inf"))))
             .otherwise(l / r))


def hist_avg(hist: Column) -> Column:
    # count == 0 → 0/0 = NaN (or ±Inf for a nonzero sum), like Go floats
    return _fdiv(hist["sum"], hist["count"])


def _cumulative(hist: Column) -> Column:
    """buckets → running-total counts (same shape, cumulative)."""
    return F.aggregate(
        hist["buckets"],
        F.array().cast("array<struct<le:double,count:double>>"),
        lambda acc, b: F.concat(acc, F.array(F.struct(
            b["le"].alias("le"),
            (b["count"] + F.coalesce(F.try_element_at(acc, _lit(-1))["count"],
                                     _lit(0.0))).alias("count")))))


def _bucket_lower(hist: Column, les: Column, i: Column) -> Column:
    """Lower bound of bucket i (1-based) under the histogram's schema
    semantics: custom/NHCB → classic rule (first bucket clamps to 0 unless
    le <= 0, else previous le); exponential → the ACTUAL bounds upstream
    histogramQuantile uses unclamped: le/base for a positive bucket,
    le·base for a negative one (index i covers [-base^i, -base^(i-1))),
    le itself for the zero bucket, previous le for the +Inf cap (so
    cumulative interpolation above the last finite bound stays finite)."""
    le = F.element_at(les, F.greatest(i, _lit(1)))
    prev = F.when(i == 1, _lit(0.0)) \
            .otherwise(F.element_at(les, F.greatest(i - 1, _lit(1))))
    classic = F.when(i == 1,
                     F.when(le <= 0, le).otherwise(_lit(0.0))) \
               .otherwise(prev)
    expo = (F.when(le == 0, le)
             .when(le < 0, le * _base(hist))
             .when(le == _lit(float("inf")), prev)
             .otherwise(le / _base(hist)))
    return F.when(_is_exp(hist), expo).otherwise(classic)


def hist_quantile(q: float, hist: Column) -> Column:
    """Quantile over native buckets: locate the cumulative bucket containing
    rank = q*count, linear-interpolate within [lower, upper) with
    schema-aware lower bounds (_bucket_lower — Prometheus histogramQuantile
    semantics for both families; the +Inf bucket returns the highest
    finite bound)."""
    if math.isnan(q):
        # Spark orders NaN above every double, so the q > 1 branch below
        # would claim it; upstream returns NaN for NaN phi
        return _lit(float("nan"))
    cum = _cumulative(hist)
    les = F.transform(cum, lambda x: x["le"])
    counts = F.transform(cum, lambda x: x["count"])
    b = F.size(cum)
    total = hist["count"]
    rank = _lit(float(q)) * total
    idx = F.aggregate(
        F.sequence(_lit(1), b), _lit(-1),
        lambda acc, i: F.when((acc == -1) & (F.element_at(counts, i) >= rank), i)
                        .otherwise(acc))
    lower = _bucket_lower(hist, les, idx)
    upper = F.element_at(les, F.greatest(idx, _lit(1)))
    count_lo = F.when(idx == 1, _lit(0.0)).otherwise(
        F.element_at(counts, F.greatest(idx - 1, _lit(1))))
    count_hi = F.element_at(counts, F.greatest(idx, _lit(1)))
    # q=0 landing on an empty first bucket gives 0/0 — NaN in Go, an ANSI
    # error in Spark; route through Go float division
    interp = lower + (upper - lower) * _fdiv(rank - count_lo,
                                             count_hi - count_lo)
    nan = _lit(float("nan"))
    return (F.when(_lit(q) < 0, _lit(float("-inf")))
             .when(_lit(q) > 1, _lit(float("inf")))
             .when((b < 1) | (total == 0), nan)
             .when(idx == -1, nan)
             .when((idx == b) & (b >= 2), F.element_at(les, -2))
             .when(idx == b, nan)  # only the +Inf bucket exists
             .otherwise(interp))


def _cum_at(hist: Column, x: Column) -> Column:
    """Interpolated cumulative count at value x (0 below first bound's
    zero-anchor, total above the last finite bound)."""
    cum = _cumulative(hist)
    les = F.transform(cum, lambda e: e["le"])
    counts = F.transform(cum, lambda e: e["count"])
    b = F.size(cum)
    # first bucket index with le >= x
    idx = F.aggregate(
        F.sequence(_lit(1), b), _lit(-1),
        lambda acc, i: F.when((acc == -1) & (F.element_at(les, i) >= x), i)
                        .otherwise(acc))
    lower = F.when(_is_exp(hist), _bucket_lower(hist, les, idx)) \
             .otherwise(F.when(idx == 1, _lit(0.0)).otherwise(
                 F.element_at(les, F.greatest(idx - 1, _lit(1)))))
    count_lo = F.when(idx == 1, _lit(0.0)).otherwise(
        F.element_at(counts, F.greatest(idx - 1, _lit(1))))
    upper = F.element_at(les, F.greatest(idx, _lit(1)))
    count_hi = F.element_at(counts, F.greatest(idx, _lit(1)))
    frac = F.when(upper == lower, _lit(0.0)) \
            .otherwise((x - lower) / (upper - lower))
    interp = count_lo + (count_hi - count_lo) * F.least(F.greatest(frac, _lit(0.0)),
                                                        _lit(1.0))
    total = hist["count"]
    # classic/NHCB grids have no mass below 0; exponential grids may carry
    # negative buckets, so x <= 0 interpolates generically there (the frac
    # clamp handles x below the first bucket's lower bound)
    return (F.when(idx == -1, total)           # x above every bound
             .when(~_is_exp(hist) & (x <= _lit(0.0)), _lit(0.0))
             .otherwise(interp))


def hist_fraction(lo: float, hi: float, hist: Column) -> Column:
    """histogram_fraction(lo, hi, h): estimated fraction of observations in
    [lo, hi] via interpolated cumulative counts.  NaN bounds → NaN; an
    empty/inverted interval (lower >= upper) → 0 on a non-empty histogram
    (upstream histogramFraction guards, promql/quantile.go — previously the
    inverted case leaked a negative cum difference)."""
    if math.isnan(lo) or math.isnan(hi):
        return _lit(float("nan"))
    total = hist["count"]
    if lo >= hi:
        return F.when(total == 0, _lit(float("nan"))).otherwise(_lit(0.0))
    frac = (_cum_at(hist, _lit(float(hi))) - _cum_at(hist, _lit(float(lo)))) / total
    return F.when(total == 0, _lit(float("nan"))).otherwise(frac)


def merge_two(a: Column, b: Column) -> Column:
    """Pointwise histogram merge (le-aligned): used by sum aggregation and,
    through sub_two, by the rate family.  Bucket union keyed by le; counts
    add."""
    both = F.concat(a["buckets"], b["buckets"])
    les = F.array_sort(F.array_distinct(F.transform(both, lambda e: e["le"])))
    merged = F.transform(les, lambda le: F.struct(
        le.alias("le"),
        F.aggregate(F.filter(both, lambda e: e["le"] == le), _lit(0.0),
                    lambda acc, e: acc + e["count"]).alias("count")))
    return make_hist(a["count"] + b["count"], a["sum"] + b["sum"], merged,
                     F.coalesce(a["schema"], b["schema"]))


def hist_stdvar(hist: Column) -> Column:
    """histogram_stdvar: estimated population variance of the observations.
    Every observation in a bucket is assumed to sit at the bucket's
    representative value — upstream funcHistogramStdDev: the ARITHMETIC
    midpoint of (lower, upper] for custom buckets (NHCB), the GEOMETRIC
    midpoint sqrt(lower·upper) for exponential schemas (with the
    zero-spanning bucket representing exactly 0).  Lower-bound anchors are
    the schema-aware ones the quantile algebra uses (_bucket_lower); the
    +Inf cap bucket falls back to its lower edge (its count is 0 in our
    model, so the term vanishes either way)."""
    bks = hist["buckets"]
    les = F.transform(bks, lambda e: e["le"])
    mean = hist["sum"] / hist["count"]
    inf = _lit(float("inf"))

    def mid(i):
        le = F.element_at(les, i)
        lower = _bucket_lower(hist, les, i)
        arith = (F.when(le <= 0, le)
                  .when(le == inf, lower)
                  .otherwise((lower + le) / 2))
        geo = (F.when(le == 0, _lit(0.0))
                .when(le == inf, lower)
                .when(le < 0, -F.sqrt(lower * le))  # signed (upstream)
                .otherwise(F.sqrt(lower * le)))
        return F.when(_is_exp(hist), geo).otherwise(arith)

    var = F.aggregate(
        F.sequence(_lit(1), F.size(bks)), _lit(0.0),
        lambda acc, i: acc + F.element_at(bks, i)["count"]
        * (mid(i) - mean) * (mid(i) - mean))
    return F.when(hist["count"] == 0, _lit(float("nan"))) \
            .otherwise(var / hist["count"])


def hist_stddev(hist: Column) -> Column:
    return F.sqrt(hist_stdvar(hist))


# ------------------------------------------------- counter-histogram algebra
# (rate/increase/delta over native-histogram samples — the reference serves
# rate(native_histogram[5m]) through promql-engine, db/db_test.go:344-351)
def zero_hist() -> Column:
    return make_hist(_lit(0.0), _lit(0.0),
                     F.array().cast("array<struct<le:double,count:double>>"))


def sub_two(a: Column, b: Column) -> Column:
    """a - b bucket-wise: ``a`` merged with ``b`` scaled by -1.  Exact:
    x + (-y) == x - y in IEEE-754, and the per-le fold order is
    merge_two's."""
    return merge_two(a, scale_hist(b, _lit(-1.0)))


def scale_hist(h: Column, s: Column) -> Column:
    """Scalar-scale every component (extrapolation factor / per-second)."""
    return make_hist(h["count"] * s, h["sum"] * s,
                     F.transform(h["buckets"], lambda e: F.struct(
                         e["le"].alias("le"), (e["count"] * s).alias("count"))),
                     h["schema"])


def detect_reset(prev: Column, cur: Column) -> Column:
    """Counter-reset heuristic between consecutive counter histograms
    (Prometheus FloatHistogram.DetectReset): total count drop, or any
    individual bucket count drop (counter buckets are monotone; a missing
    bucket in cur counts as 0)."""
    bucket_drop = F.exists(
        prev["buckets"],
        lambda pb: F.coalesce(
            F.try_element_at(
                F.filter(cur["buckets"], lambda cb: cb["le"] == pb["le"]),
                _lit(1))["count"],
            _lit(0.0)) < pb["count"])
    return (cur["count"] < prev["count"]) | bucket_drop

