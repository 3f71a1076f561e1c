"""Transport-independent query server — the Spark-native analogue of the
reference's gRPC QueryServer (reference api/grpc/thanos.go:116-167).

This is how a Thanos Querier talks to the gateway in production: the
Info / Query / QueryRange / Series / LabelNames / LabelValues handlers with
per-request replica-label handling.  The gRPC transport itself is a thin
protobuf shim in the reference; what matters (and what this module
re-expresses) is the handler semantics:

- Info (thanos.go:169-233): advertise the served time range and the external
  label set of every stream so the querier can route and deduplicate.
- Query / QueryRange (thanos.go:235-374): PromQL evaluation with
  ``ReplicaLabels`` supplied per request (not fixed at startup) — each
  distinct replica-label set gets its own lazily-built engine over the same
  samples DataFrame (plans are lazy; construction is free).
- Series (thanos.go:376-459): RAW series export — selector → (labels,
  samples) with NO PromQL engine, no lookback, no staleness handling; the
  querier re-evaluates PromQL itself.  SkipChunks ≡ labels-only.
- LabelNames / LabelValues (thanos.go:475-523): metadata with matchers and
  per-request replica-label drop.

`serve` puts HTTP (api/http.py) and gRPC over one QueryServer: the same
engines and plan memos, and one set of quotas and concurrency semaphore
(reference cmd/serve.go:201-222, internal/limits/limit.go).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thanos_parquet_gateway_spark.api.http import QueryAPI
from thanos_parquet_gateway_spark.promql.engine import LRU, PromQLEngine
from thanos_parquet_gateway_spark.schema import label_map, stream_labels


class QueryServer:
    def __init__(self, samples: DataFrame, *,
                 streams: dict[str, dict[str, str]] | None = None,
                 ext_labels: dict[str, str] | None = None,
                 lookback_ms: int = 300_000,
                 deterministic: bool = False,
                 label_stats: DataFrame | None = None,
                 **limits):
        """``limits``: QueryAPI's max_concurrent and quotas, shared by
        every QueryAPI handed out.  ``label_stats``: the convert-time
        sidecar (convert.write_label_stats), handed to every engine."""
        self.samples = samples
        self.streams = streams
        self.ext_labels = ext_labels
        self.lookback_ms = lookback_ms
        self.deterministic = deterministic
        self.label_stats = label_stats
        self._limits = QueryAPI(None, **limits)
        # one (engine, api) per distinct (replica-label set, lookback),
        # built lazily — the reference builds a DBQueryable per request
        # (thanos.go:135-147) and threads the per-request LookbackDelta
        # through query opts (thanos.go:247); DataFrame plans are lazy so
        # caching by key is the same cost model.  LRU-bounded: lookback_ms
        # comes straight off the gRPC QueryRequest, so a client cycling
        # distinct lookbacks must not grow the cache (and its Spark plans)
        # without bound for the life of the server.
        self._apis = LRU(32, retire=self._retire)
        # memo counters of evicted engines, so /metrics never counts down
        self._retired = {"hits": 0, "misses": 0, "evictions": 0}

    def _api(self, replica_labels: list[str] | None,
             lookback_ms: int | None = None) -> QueryAPI:
        lb = lookback_ms or self.lookback_ms
        key = (tuple(sorted(replica_labels or ())), lb)
        return self._apis.get(key, lambda: self._limits.over(PromQLEngine(
            self.samples, lookback_ms=lb, deterministic=self.deterministic,
            replica_labels=list(key[0]) or None, ext_labels=self.ext_labels,
            streams=self.streams, label_stats=self.label_stats)))

    def _retire(self, api: QueryAPI) -> None:
        counts = api.engine.plan_cache_counts()
        for k in self._retired:
            self._retired[k] += counts[k]

    def plan_cache_counts(self) -> dict:
        """Plan-memo hits, misses and evictions over every engine this
        server has held, and the entries of those it holds."""
        with self._apis.lock:  # no eviction between the two sums
            out = dict(self._retired, entries=0)
            for api in self._apis.values():
                for k, v in api.engine.plan_cache_counts().items():
                    out[k] += v
        return out

    # ------------------------------------------------------------------ Info
    def info_df(self) -> DataFrame:
        """Per-stream advertisement: (stream, labels, mint, maxt) — the
        TSDBInfo rows of the reference's Info response (thanos.go:194-221).
        One partial aggregation over the samples table; on a converted
        layout this touches only footer stats of the pruned scan."""
        df = self.samples
        if self.streams and "stream" in df.columns:
            per = (df.groupBy("stream")
                   .agg(F.min("ts").alias("mint"), F.max("ts").alias("maxt")))
            overlay = label_map({})
            for s, ls in sorted(stream_labels(self.ext_labels,
                                              self.streams).items()):
                overlay = F.when(F.col("stream") == s,
                                 label_map(ls)).otherwise(overlay)
            return per.select("stream", overlay.alias("labels"),
                              "mint", "maxt").orderBy("stream")
        return (df.agg(F.min("ts").alias("mint"), F.max("ts").alias("maxt"))
                .select(F.lit("0").alias("stream"),
                        label_map(self.ext_labels).alias("labels"),
                        "mint", "maxt"))

    def info(self) -> dict:
        """InfoResponse shape (thanos.go:169-233): component type, the union
        of stream label sets, the overall time range, per-stream TsdbInfos."""
        rows = self.info_df().collect()
        infos = [{"minTime": r["mint"], "maxTime": r["maxt"],
                  "labels": dict(r["labels"])} for r in rows]
        return {
            "componentType": "query",
            "labelSets": [i["labels"] for i in infos],
            "store": {
                "minTime": min((i["minTime"] for i in infos), default=0),
                "maxTime": max((i["maxTime"] for i in infos), default=0),
                "supportsWithoutReplicaLabels": True,
                "tsdbInfos": infos,
            },
            "query": {},
        }

    # ----------------------------------------------------- Query/QueryRange
    def query(self, q: str, t_ms: int,
              replica_labels: list[str] | None = None,
              lookback_ms: int | None = None) -> dict:
        return self._api(replica_labels, lookback_ms).query(q, t_ms)

    def query_range(self, q: str, start_ms: int, end_ms: int, step_ms: int,
                    replica_labels: list[str] | None = None,
                    lookback_ms: int | None = None) -> dict:
        return self._api(replica_labels, lookback_ms).query_range(
            q, start_ms, end_ms, step_ms)

    # ------------------------------------------------------- Series export
    def series(self, matchers: list[str], start_ms: int, end_ms: int, *,
               limit: int = 0, skip_samples: bool = False,
               replica_labels: list[str] | None = None
               ) -> tuple[list[dict], list[str]]:
        """Raw series export (thanos.go:376-459) in collected form:
        [{labels, samples: [[ts, value], ...]}, ...] plus truncation
        warnings (thanos.go:413-418).  The plan is the engine's memoized
        ``series(..., samples=True)``, collected through the same QueryAPI
        admission and row quota as /series; ``skip_samples`` ≡ the
        reference's SkipChunks (labels only)."""
        rows, warns = self._api(replica_labels).series_export(
            matchers, start_ms, end_ms, limit, samples=not skip_samples)
        out = []
        for r in rows:
            item = {"labels": dict(r["labels"])}
            if not skip_samples:
                has_hist = r["samples"] and "hist" in r["samples"][0]
                item["samples"] = [
                    [s["ts"], s["value"]] for s in r["samples"]
                    if not (has_hist and s["hist"] is not None)]
                if has_hist:
                    hists = [
                        [s["ts"], {
                            "count": s["hist"]["count"],
                            "sum": s["hist"]["sum"],
                            "buckets": [(b["le"], b["count"])
                                        for b in s["hist"]["buckets"]],
                            "schema": s["hist"]["schema"],
                        }] for s in r["samples"] if s["hist"] is not None]
                    if hists:
                        item["histograms"] = hists
            out.append(item)
        return out, warns

    # ----------------------------------------------------------- metadata
    def label_names(self, matchers: list[str] | None, start_ms: int,
                    end_ms: int, limit: int = 0,
                    replica_labels: list[str] | None = None
                    ) -> tuple[list[str], list[str]]:
        return self._api(replica_labels).labels(matchers, start_ms, end_ms,
                                                limit)

    def label_values(self, name: str, matchers: list[str] | None,
                     start_ms: int, end_ms: int, limit: int = 0,
                     replica_labels: list[str] | None = None
                     ) -> tuple[list[str], list[str]]:
        return self._api(replica_labels).label_values(name, matchers,
                                                      start_ms, end_ms, limit)
