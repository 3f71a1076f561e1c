"""Core data model: the long-format ``samples`` table and label utilities.

Reference physical model: twin labels/chunks parquet files per day-block with
one dictionary-encoded column per label name plus a labels-hash column
(reference: schema/schema.go:25-62, convert/convert.go:653-678).  Our
Spark-native redesign (SURVEY.md §1.4) is ONE long-format table:

    samples(series_hash long,        -- xxhash64 of canonical label set
            labels map<string,string>,  -- always contains __name__
            __name__ string,         -- promoted for parquet pushdown
            ts long,                 -- sample timestamp, epoch millis
            value double,
            date string,             -- partition: UTC day (block-per-day model,
                                     --   reference db/db.go:29-31)
            stream long)             -- partition: external-labels hash
                                     --   (reference schema/block.go:37-76)

Missing label ≡ empty string in matchers (reference search/constraint.go:130-138)
— encoded everywhere as coalesce(labels[k], '').
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

# Canonical column names.
SERIES_HASH = "series_hash"
LABELS = "labels"
NAME = "__name__"
TS = "ts"
VALUE = "value"
DATE = "date"
STREAM = "stream"

LOOKBACK_MS = 5 * 60 * 1000  # PromQL default lookback (reference api/http/query.go:160)

# Prometheus staleness markers are NaNs with a reserved bit pattern
# (0x7ff0000000000002); Spark/Arrow canonicalize NaN payloads, so the bit
# trick is unrepresentable here.  The long format instead encodes a stale
# marker as value IS NULL (ordinary NaN samples stay NaN).  Conversion from
# Prometheus chunks maps staleNaN → NULL at write time.
def stale_marker() -> Column:
    return F.lit(None).cast("double")


def is_stale(value_col: Column | str) -> Column:
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    return c.isNull()


# Column objects are immutable wrappers over (unresolved) JVM expression
# trees, freely reusable across DataFrames and plans.  The helpers below are
# rebuilt for every compiled query with the same string argument, and each
# construction costs a py4j round trip per sub-expression — measurable
# driver latency per query compile.  Cache the name-keyed variants; the
# Column-argument variants (expression inputs) stay uncached.
@functools.lru_cache(maxsize=2048)
def _lit_cached(value, _kind: str) -> Column:
    # _kind disambiguates hash-equal keys of different types (True == 1,
    # 1 == 1.0) so a bool literal can never alias an int/double one
    return F.lit(value)


def cached_lit(value) -> Column:
    """F.lit with memoized Columns for hashable scalars (r13): literals are
    the single most frequent JVM construction in a compiled PromQL query
    (~65 per bench-query compile, ~3 py4j round trips each), and a literal
    Column is the canonical immutable-expression-wrapper case for reuse.
    NaN never cache-hits (NaN != NaN would churn the cache) and non-scalar
    values (Columns, arrays, ...) pass straight through uncached."""
    if value is None or isinstance(value, (bool, int, str)) \
            or (isinstance(value, float) and value == value):
        return _lit_cached(value, type(value).__name__)
    return F.lit(value)


@functools.lru_cache(maxsize=256)
def _label_cached(name: str, key: str) -> Column:
    return F.coalesce(F.element_at(F.col(name), key), F.lit(""))


def label(labels_col: Column | str, key: str) -> Column:
    """A label value; missing key decays to '' per reference semantics
    (search/constraint.go:130-138)."""
    if isinstance(labels_col, str):
        return _label_cached(labels_col, key)
    return F.coalesce(F.element_at(labels_col, key), F.lit(""))


def canonical_sig(labels_col: Column | str) -> Column:
    """Deterministic string identity of a label set.

    map_entries → array_sort sorts struct<key,value> lexicographically by key;
    to_json yields a canonical serialization.  Plays the role of the
    reference's ``___cf_meta_hash`` label-set hash (schema/schema.go:27,
    convert/tsdb.go:132) but is collision-free and order-independent.
    """
    if isinstance(labels_col, str):
        return _canonical_sig_cached(labels_col)
    return F.to_json(F.array_sort(F.map_entries(labels_col)))


@functools.lru_cache(maxsize=256)
def _canonical_sig_cached(name: str) -> Column:
    return F.to_json(F.array_sort(F.map_entries(F.col(name))))


def labels_from_sig(sig_col: Column | str) -> Column:
    """Inverse of :func:`canonical_sig` — rebuild the label map from its
    canonical JSON serialization.  Lets orderable operators (two-phase
    top-k) carry the string ``sig`` through a sort key instead of the
    unorderable ``map`` column."""
    if isinstance(sig_col, str):
        return _labels_from_sig_cached(sig_col)
    return F.map_from_entries(
        F.from_json(sig_col, "array<struct<key:string,value:string>>"))


@functools.lru_cache(maxsize=256)
def _labels_from_sig_cached(name: str) -> Column:
    return F.map_from_entries(
        F.from_json(F.col(name), "array<struct<key:string,value:string>>"))


def series_hash(labels_col: Column | str) -> Column:
    """64-bit series identity = xxhash64 of the canonical label serialization
    (same dedup/join role as reference ___cf_meta_hash)."""
    if isinstance(labels_col, str):
        return _series_hash_cached(labels_col)
    return F.xxhash64(canonical_sig(labels_col))


@functools.lru_cache(maxsize=256)
def _series_hash_cached(name: str) -> Column:
    return F.xxhash64(_canonical_sig_cached(name))


def drop_labels(labels_col: Column | str, keys: list[str]) -> Column:
    """Remove label names (replica-label drop, reference db/db.go:124-128;
    ``without(...)`` grouping; __name__ drop on arithmetic)."""
    if isinstance(labels_col, str):
        return _drop_labels_cached(labels_col, tuple(keys))
    keys_arr = F.array(*[F.lit(k) for k in keys])
    return F.map_filter(labels_col,
                        lambda k, _v: ~F.array_contains(keys_arr, k))


@functools.lru_cache(maxsize=256)
def _drop_labels_cached(name: str, keys: tuple[str, ...]) -> Column:
    keys_arr = F.array(*[F.lit(k) for k in keys])
    return F.map_filter(F.col(name),
                        lambda k, _v: ~F.array_contains(keys_arr, k))


def keep_labels(labels_col: Column | str, keys: list[str]) -> Column:
    """Keep only the listed label names (``by(...)`` grouping / on(...) match)."""
    if isinstance(labels_col, str):
        return _keep_labels_cached(labels_col, tuple(keys))
    keys_arr = F.array(*[F.lit(k) for k in keys])
    return F.map_filter(labels_col,
                        lambda k, _v: F.array_contains(keys_arr, k))


@functools.lru_cache(maxsize=256)
def _keep_labels_cached(name: str, keys: tuple[str, ...]) -> Column:
    keys_arr = F.array(*[F.lit(k) for k in keys])
    return F.map_filter(F.col(name),
                        lambda k, _v: F.array_contains(keys_arr, k))


def label_map(labels: dict[str, str]) -> Column:
    """A constant label map, keys in sorted order; empty → a typed empty
    map."""
    if not labels:
        return F.map_from_arrays(F.array().cast("array<string>"),
                                 F.array().cast("array<string>"))
    return F.create_map(*[cached_lit(x) for kv in sorted(labels.items())
                          for x in kv])


def stream_labels(ext_labels: dict[str, str] | None,
                  streams: dict[str, dict[str, str]] | None
                  ) -> dict[str, dict[str, str]]:
    """Each stream's external label set: its descriptor over the
    process-wide external labels, so a descriptor label wins (reference
    schema/block.go:37-76).  The one precedence that matching, decoration,
    metadata and Info all read."""
    ext = ext_labels or {}
    return {s: {**ext, **ls} for s, ls in (streams or {}).items()}


def utc_day(ms: int) -> str:
    """The ``date`` partition value (UTC day) holding epoch-millis ``ms``;
    times before the epoch clamp to its first day."""
    import datetime as _dt
    return _dt.datetime.fromtimestamp(max(ms, 0) / 1000,
                                      _dt.timezone.utc).strftime("%Y-%m-%d")
