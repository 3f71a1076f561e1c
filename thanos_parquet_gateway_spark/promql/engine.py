"""Query engine facade: the Spark-native replacement for the reference's
``serve`` path (reference cmd/serve.go:201-222 + api/http/query.go).

Entry points mirror the Prometheus HTTP API surface the reference exposes
(api/http/query.go:175-179): instant query, range query, series, label names,
label values — each returning a DataFrame (never collecting on its own).
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thanos_parquet_gateway_spark.promql import ast as A
from thanos_parquet_gateway_spark.promql import parser as P
from thanos_parquet_gateway_spark.promql.compiler import Compiler
from thanos_parquet_gateway_spark.promql.values import (
    EvalParams,
    InstantVector,
    RangeVector,
    ScalarV,
    StringV,
)
from thanos_parquet_gateway_spark.schema import (
    drop_labels,
    label,
    label_map,
    series_hash,
    stream_labels,
    utc_day,
)


@dataclass
class QueryResult:
    df: DataFrame
    result_type: str  # 'vector' | 'matrix' | 'scalar'
    # PromQL annotations (upstream util/annotations, served as the API's
    # top-level warnings/infos): list of ("warn" | "info", message).
    # Statically-determinable annotations only — data-dependent ones
    # (e.g. histogram_quantile forced monotonicity) live in ``probes``.
    annotations: list = None
    # Deferred data-dependent annotation probes: tiny DataFrames of
    # (kind, msg) rows.  Upstream's row-at-a-time evaluator computes these
    # inline for free; a declarative plan cannot know data-dependent facts
    # until an action runs, so they are bounded side-aggregations collected
    # ONLY when a consumer asks for annotations (all_annotations) — the
    # query hot path (df) never pays for them.
    probes: list = None

    def all_annotations(self) -> list:
        """Static annotations plus collected data-dependent probes.
        Collection happens once; results are folded into ``annotations``."""
        ann = list(self.annotations or [])
        for p in self.probes or []:
            for r in p.collect():
                item = (r["kind"], r["msg"])
                if item not in ann:
                    ann.append(item)
        self.annotations = ann
        self.probes = []
        return ann

    def capped(self, limit: int) -> "QueryResult":
        """This result with at most ``limit`` rows (0 = uncapped)."""
        return replace(self, df=_capped(self.df, limit))


def _capped(df: DataFrame, limit: int) -> DataFrame:
    return df.limit(limit) if limit else df


class LRU:
    """At most ``cap`` values by key, evicting the least recently used:
    the plan memo and the query server's engines.  ``get`` builds a miss
    outside the lock (builds are driver-heavy); racing builders of a key
    all get the value inserted first.  A build that raises keeps nothing;
    ``key=None`` builds a value that is not kept (a miss).  ``retire``
    gets each evicted value under the reentrant ``lock``."""

    def __init__(self, cap: int, retire=None):
        self.cap = cap
        self.retire = retire
        self.lock = threading.RLock()
        self._d: OrderedDict = OrderedDict()
        self._counts = {"hits": 0, "misses": 0, "evictions": 0}

    def get(self, key, build):
        with self.lock:
            hit = None if key is None else self._d.get(key)
            if hit is not None:
                self._d.move_to_end(key)
                self._counts["hits"] += 1
                return hit
            self._counts["misses"] += 1
        value = build()
        if key is None:
            return value
        with self.lock:
            value = self._d.setdefault(key, value)
            self._d.move_to_end(key)
            while len(self._d) > self.cap:
                _, old = self._d.popitem(last=False)
                self._counts["evictions"] += 1
                if self.retire is not None:
                    self.retire(old)
        return value

    def counts(self) -> dict:
        """hits, misses, evictions and entries."""
        with self.lock:
            return dict(self._counts, entries=len(self._d))

    def values(self) -> list:
        with self.lock:
            return list(self._d.values())

    def __iter__(self):
        with self.lock:
            return iter(list(self._d))

    def __len__(self) -> int:
        return len(self._d)


class PromQLEngine:
    def __init__(self, samples: DataFrame, *,
                 lookback_ms: int = 300_000,
                 deterministic: bool = False,
                 subquery_step_ms: int = 60_000,
                 replica_labels: list[str] | None = None,
                 ext_labels: dict[str, str] | None = None,
                 streams: dict[str, dict[str, str]] | None = None,
                 label_stats: DataFrame | None = None):
        """``samples``: long-format samples table (schema.py).  ``replica_labels``
        are dropped and the data deduplicated by (series, ts) — the Spark
        equivalent of the reference's replica-label drop + hash dedup
        (reference db/db.go:124-128, db/shard.go:252-268).  ``streams`` maps
        the ``stream`` partition-column value to that stream's external label
        set (multi-stream mode, reference locate/discover.go:125-305) and
        covers the column's domain: matchers on stream labels prune stream
        partitions, results are decorated per stream.  A stream's labels
        are its descriptor over ``ext_labels`` (schema.stream_labels)."""
        if "__name__" not in samples.columns:
            samples = samples.withColumn("__name__", label("labels", "__name__"))
        ext_rep = grp_of_stream = None
        if replica_labels and streams:
            # Replica labels usually live in the stream EXTERNAL label
            # sets (two Prometheis uploading replica="a"/"b" blocks —
            # reference TSDBDiscoverer keys them into separate streams,
            # locate/discover.go:495-516).  Thanos semantics: the replica
            # labels are dropped from each stream's decoration, and
            # series dedup crosses exactly the streams whose REMAINING
            # external labels coincide (db/db.go:124-128) — streams that
            # differ in a non-replica label (cluster=...) never merge.
            ext_rep = {s: "\x1f".join(ls.get(r, "") for r in replica_labels)
                       for s, ls in streams.items()}
            streams = {s: {k: v for k, v in ls.items()
                           if k not in replica_labels}
                       for s, ls in streams.items()}
            grp_of_stream = {
                s: "\x1f".join(f"{k}\x1e{v}" for k, v in sorted(ls.items()))
                for s, ls in streams.items()}
        if replica_labels:
            # Winner-replica dedup (reference db/shard.go:252-268 keeps ONE
            # series per post-drop labelset; Thanos penalty dedup never mixes
            # replicas at a timestamp).  Deterministic pick per (sig, ts):
            # lowest replica key wins, ties broken by highest value.  The
            # whole row rides along via min_by, so `hist` (native histograms)
            # and any extra columns survive; `date` stays a grouping key so
            # time filters still push through to partition pruning.
            rep = F.concat_ws("\x1f",
                              *[label("labels", r) for r in replica_labels])
            if ext_rep is not None and "stream" in samples.columns:
                # the stream's external replica values join the winner
                # key (lowest replica wins across streams too)
                rep_ext = F.coalesce(
                    F.element_at(label_map(ext_rep),
                                 F.col("stream").cast("string")),
                    F.lit(""))
                rep = F.concat_ws("\x1f", rep, rep_ext)
            samples = (samples
                       .withColumn("__rep", rep)
                       .withColumn("labels",
                                   drop_labels("labels", replica_labels)))
            if grp_of_stream is not None and "stream" in samples.columns:
                # dedup group = the stream's post-drop external label
                # set: identical sets dedup across streams, different
                # ones stay separate series
                samples = samples.withColumn(
                    "__extgrp",
                    F.coalesce(
                        F.element_at(label_map(grp_of_stream),
                                     F.col("stream").cast("string")),
                        F.lit("")))
            if "series_hash" in samples.columns:
                samples = samples.withColumn("series_hash",
                                             series_hash("labels"))
            keys = ["__sig", "ts"] + (["date"] if "date" in samples.columns
                                      else []) \
                + (["__extgrp"] if "__extgrp" in samples.columns else [])
            payload = [c for c in samples.columns
                       if c not in ("ts", "date", "__rep", "__extgrp")]
            # NULL value = staleness marker; an EXPLICIT stale flag (not a
            # -inf sentinel, which a genuine -inf sample would tie with)
            # makes any real sample — including -inf — beat a stale marker
            # at the same replica rank, deterministically.
            order_key = F.struct(
                F.col("__rep").alias("r"),
                F.col("value").isNull().cast("int").alias("s"),
                (-F.coalesce(F.col("value"),
                             F.lit(float("-inf")))).alias("v"))
            # 8-byte dedup key (xxhash64 of the canonical sig) — the
            # reference dedups by the same 64-bit hash (convert/tsdb.go:132)
            samples = (samples
                       .withColumn("__sig", series_hash("labels"))
                       .groupBy(*keys)
                       .agg(F.min_by(F.struct(*payload), order_key)
                            .alias("__row"))
                       .select(*[k for k in keys
                                 if k not in ("__sig", "__extgrp")],
                               "__row.*"))
        self.samples = samples
        self.lookback_ms = lookback_ms
        self.deterministic = deterministic
        self.subquery_step_ms = subquery_step_ms
        self.ext_labels = ext_labels
        self.streams = stream_labels(ext_labels, streams)
        # Plan memo: a serving gateway asks for the SAME result at the same
        # parameters constantly (dashboard refresh, retried panels).  Every
        # API collect site collects a DataFrame taken from this one LRU
        # (256 entries, engine-scoped), keyed on (kind, query text, time
        # parameters, row cap) for PromQL and on (kind, name, matchers,
        # start, end, row cap) for metadata and Series export.  A hit hands
        # back the SAME Dataset, so a repeated collect re-runs neither the
        # Python build nor Catalyst analysis/optimization/planning, and
        # Spark skips the map stages whose shuffle output the first run
        # left behind (their scan stages show SKIPPED).  No rows are stored
        # in the memo, but an entry answers from the file listing the
        # table handle captured at first analysis (sources/tables.py) and
        # from the first run's shuffle output: it is valid for as long as
        # that listing is, which `serve` fixes at start-up.  Response
        # ``stats.samples`` report the scan each execution ran (api/http.py
        # ``executed_stats``).  Only an exact repeat hits; a request whose
        # time the client left to default to now is built without a key
        # (memo=False) so it cannot push out entries that do repeat.  The
        # cap counts entries, not the shuffle output they keep alive.  Each
        # PromQL hit returns a fresh QueryResult wrapper so
        # all_annotations' fold-in never mutates the cached entry.
        self._plan_cache = LRU(256)
        # convert-time sidecar (convert.write_label_stats): the reference's
        # dictionary-shortcut LabelValues analogue — unconstrained metadata
        # queries read it instead of scanning samples.  It carries raw
        # labels, so an engine that drops replica labels serves a different
        # label set and never reads it
        self.label_stats = None if replica_labels else label_stats

    # ------------------------------------------------------------- queries
    def _compiler(self, start_ms: int, end_ms: int,
                  step_ms: int) -> Compiler:
        return Compiler(self.samples,
                        EvalParams(start_ms, end_ms, max(step_ms, 1),
                                   self.lookback_ms, self.deterministic,
                                   self.subquery_step_ms),
                        self.ext_labels, self.streams)

    def _compile(self, q: str, start_ms: int, end_ms: int, step_ms: int):
        node = P.parse(q)
        comp = self._compiler(start_ms, end_ms, step_ms)
        return comp, comp.compile(node)

    def _plan_cached(self, key: tuple | None, build):
        """Plans memoized in ``_plan_cache`` (see __init__ and LRU.get): a
        QueryResult or a metadata DataFrame.  QueryResult hits hand back a
        fresh wrapper over the same DataFrame with copied annotation/probe
        lists."""
        hit = self._plan_cache.get(key, build)
        if not isinstance(hit, QueryResult):
            return hit
        return QueryResult(hit.df, hit.result_type,
                           list(hit.annotations or []),
                           list(hit.probes or []))

    def plan_cache_counts(self) -> dict:
        """Memo counters for /metrics: hits, misses, evictions, entries."""
        return self._plan_cache.counts()

    def query_range(self, q: str, start_ms: int, end_ms: int,
                    step_ms: int, limit: int = 0, *,
                    memo: bool = True) -> QueryResult:
        """``limit`` caps the result rows (the API's row-quota probe);
        ``memo=False`` bypasses the plan memo (see _plan_cached)."""
        return self._plan_cached(
            ("range", q, start_ms, end_ms, step_ms, limit) if memo else None,
            lambda: self._query_range_uncached(
                q, start_ms, end_ms, step_ms).capped(limit))

    def _query_range_uncached(self, q: str, start_ms: int, end_ms: int,
                              step_ms: int) -> QueryResult:
        comp, v = self._compile(q, start_ms, end_ms, step_ms)
        ann = comp.annotations
        probes = comp.data_probes
        if isinstance(v, StringV):
            # upstream: "invalid expression type \"string\" for range query"
            raise ValueError(
                'invalid expression type "string" for range query')
        if isinstance(v, float):
            v = ScalarV(comp._const_scalar_df(v))
        if isinstance(v, ScalarV):
            return QueryResult(v.df.select("t", "value"), "scalar", ann, probes)
        if isinstance(v, RangeVector):
            raise ValueError("range query must evaluate to an instant vector/scalar")
        if isinstance(v, InstantVector):
            extra = ["hist"] if "hist" in v.df.columns else []
            df = v.df.select("t", "sig", "labels", "value", *extra)
            return QueryResult(df, "matrix", ann, probes)
        raise ValueError(f"unexpected result {type(v).__name__}")

    def query_instant(self, q: str, t_ms: int, limit: int = 0, *,
                      memo: bool = True) -> QueryResult:
        """``limit`` caps the result rows (the API's row-quota probe);
        ``memo=False`` bypasses the plan memo (see _plan_cached)."""
        return self._plan_cached(
            ("instant", q, t_ms, limit) if memo else None,
            lambda: self._query_instant_uncached(q, t_ms).capped(limit))

    def _query_instant_uncached(self, q: str, t_ms: int) -> QueryResult:
        comp, v = self._compile(q, t_ms, t_ms, 1)
        ann = comp.annotations
        probes = comp.data_probes
        if isinstance(v, StringV):
            # string literal result (API resultType "string")
            df = self.samples.sparkSession.createDataFrame(
                [(t_ms, v.value)], "t long, value string")
            return QueryResult(df, "string", ann, probes)
        if isinstance(v, float):
            v = ScalarV(comp._const_scalar_df(v))
        if isinstance(v, ScalarV):
            return QueryResult(v.df.select("t", "value"), "scalar", ann, probes)
        if isinstance(v, RangeVector):
            return QueryResult(v.df.select("t", "sig", "labels", "ts", "value"),
                               "matrix", ann, probes)
        extra = ["hist"] if "hist" in v.df.columns else []
        return QueryResult(v.df.select("t", "sig", "labels", "value", *extra),
                           "vector", ann, probes)

    # ------------------------------------------- metadata APIs (A27-A31)
    def _selected(self, match: list[str], start_ms: int,
                  end_ms: int) -> DataFrame:
        """(sig, labels, ts, value[, hist]) rows of the ``match[]``
        selectors within [start, end], unioned (reference /series
        multi-matcher union, api/http/query.go:567-846).  Each selector
        runs PromQL selection (Compiler._selector_base): its matchers,
        time-window and day-partition pushdown and external-label
        decoration.  An offset or @ in a selector is ignored."""
        comp = self._compiler(start_ms, end_ms, 1)
        out = None
        for q in match or ["{__name__=~\".+\"}"]:
            sel = P.parse(q)
            if isinstance(sel, A.MatrixSelector):
                sel = sel.selector
            if not isinstance(sel, A.VectorSelector):
                raise ValueError("series match[] must be a selector")
            df = comp._selector_base(replace(sel, offset_ms=0, at_ms=None), 1)
            out = df if out is None else out.unionByName(df)
        return out

    def _metadata(self, kind: str, name, match: list[str] | None,
                  start_ms: int, end_ms: int, limit: int, build,
                  memo: bool) -> DataFrame:
        """Metadata/Series plan capped at ``limit`` rows, memoized unless
        ``memo`` is False."""
        return self._plan_cached(
            (kind, name, tuple(match or ()), start_ms, end_ms, limit)
            if memo else None,
            lambda: _capped(build(), limit))

    def series(self, match: list[str], start_ms: int, end_ms: int,
               limit: int = 0, *, samples: bool = False,
               memo: bool = True) -> DataFrame:
        """Matched series, one row per series ordered by ``sig``: (sig,
        labels) for /series and the Series export with SkipChunks.  With
        ``samples`` this is the raw Series export (reference
        api/grpc/thanos.go:376-459): each series also carries its samples
        array, with no lookback and no staleness handling — the querier
        re-evaluates PromQL itself.  The array is the chunk payload
        analogue: bounded by series×window like a chunk run, assembled
        after the same shuffle a chunk materialization would need."""
        def build():
            matched = self._selected(match, start_ms, end_ms)
            if not samples:
                return (matched.select("sig", "labels")
                        .dropDuplicates(["sig"]).orderBy("sig"))
            extra = ["hist"] if "hist" in matched.columns else []
            return (matched.groupBy("sig")
                    .agg(F.first("labels").alias("labels"),
                         F.array_sort(F.collect_list(
                             F.struct("ts", "value", *extra)))
                          .alias("samples"))
                    .orderBy("sig"))
        return self._metadata("series_samples" if samples else "series",
                              None, match, start_ms, end_ms, limit, build,
                              memo)

    def _stats_fast_path(self, match) -> DataFrame | None:
        """The sidecar answers only unconstrained metadata queries (the
        reference's dictionary shortcut is likewise matcher-free,
        search/search.go:153-201); matchers, stream decoration, and
        external labels fall back to the filtered scan."""
        if match or self.streams or self.ext_labels or \
                self.label_stats is None:
            return None
        return self.label_stats

    def _stats_in_range(self, start_ms: int, end_ms: int) -> DataFrame:
        return self.label_stats.filter(
            (F.col("date") >= utc_day(start_ms))
            & (F.col("date") <= utc_day(end_ms)))

    def label_names(self, match: list[str] | None, start_ms: int, end_ms: int,
                    limit: int = 0, *, memo: bool = True) -> DataFrame:
        """Reference: schema-level when unconstrained, filtered scan otherwise
        (search/search.go:294-345).  With a converted table's label-stats
        sidecar the unconstrained case never touches the samples."""
        def build():
            if self._stats_fast_path(match) is not None:
                return (self._stats_in_range(start_ms, end_ms)
                        .select(F.col("label").alias("name"))
                        .distinct().orderBy("name"))
            return (self._selected(match, start_ms, end_ms)
                    .select(F.explode(F.map_keys("labels")).alias("name"))
                    .distinct().orderBy("name"))
        return self._metadata("label_names", None, match, start_ms, end_ms,
                              limit, build, memo)

    def label_values(self, name: str, match: list[str] | None,
                     start_ms: int, end_ms: int, limit: int = 0, *,
                     memo: bool = True) -> DataFrame:
        """Reference: dictionary shortcut without matchers, filtered distinct
        with matchers (search/search.go:153-262).  The sidecar (when the
        engine was built from a converted table) IS the dictionary: distinct
        (label, value) per stream/day, no samples scan."""
        def build():
            if self._stats_fast_path(match) is not None:
                return (self._stats_in_range(start_ms, end_ms)
                        .filter(F.col("label") == name)
                        .select("value").filter(F.col("value") != "")
                        .distinct().orderBy("value"))
            return (self._selected(match, start_ms, end_ms)
                    .select(label("labels", name).alias("value"))
                    .filter(F.col("value") != "")
                    .distinct().orderBy("value"))
        return self._metadata("label_values", name, match, start_ms, end_ms,
                              limit, build, memo)
