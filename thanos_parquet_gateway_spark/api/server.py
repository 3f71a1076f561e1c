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

Quotas/warnings/stats ride on the same QueryAPI machinery as the HTTP path
(api/http.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thanos_parquet_gateway_spark.api.http import QueryAPI
from thanos_parquet_gateway_spark.promql.engine import PromQLEngine


class QueryServer:
    def __init__(self, samples: DataFrame, *,
                 streams: dict[str, dict[str, str]] | None = None,
                 ext_labels: dict[str, str] | None = None,
                 lookback_ms: int = 300_000,
                 deterministic: bool = False,
                 max_concurrent: int = 100,
                 row_quota: int = 0, byte_quota: int = 0,
                 shard_quota: int = 0,
                 label_names_row_quota: int = 0,
                 label_values_row_quota: int = 0,
                 default_metadata_row_quota: int | None = None,
                 label_stats: DataFrame | None = None):
        self.samples = samples
        self.streams = streams
        self.ext_labels = ext_labels
        self.lookback_ms = lookback_ms
        self.deterministic = deterministic
        self.max_concurrent = max_concurrent
        self.row_quota = row_quota
        self.byte_quota = byte_quota
        self.shard_quota = shard_quota
        self.label_names_row_quota = label_names_row_quota
        self.label_values_row_quota = label_values_row_quota
        self.default_metadata_row_quota = default_metadata_row_quota
        # convert-time label-stats sidecar (convert.write_label_stats),
        # handed to every engine (PromQLEngine decides when it applies)
        self.label_stats = label_stats
        # one (engine, api) per distinct (replica-label set, lookback),
        # built lazily — the reference builds a DBQueryable per request
        # (thanos.go:135-147) and threads the per-request LookbackDelta
        # through query opts (thanos.go:247); DataFrame plans are lazy so
        # caching by key is the same cost model.  LRU-bounded: lookback_ms
        # comes straight off the gRPC QueryRequest, so a client cycling
        # distinct lookbacks must not grow the cache (and its Spark plans)
        # without bound for the life of the server.
        from collections import OrderedDict
        import threading
        self._apis: OrderedDict[tuple, QueryAPI] = OrderedDict()
        self._apis_max = 32
        # gRPC dispatch is one thread per stream: lookup/insert/evict must
        # be atomic or concurrent requests race move_to_end vs popitem
        self._apis_lock = threading.Lock()

    def _api(self, replica_labels: list[str] | None,
             lookback_ms: int | None = None) -> QueryAPI:
        lb = lookback_ms or self.lookback_ms
        key = (tuple(sorted(replica_labels or ())), lb)
        with self._apis_lock:
            api = self._apis.get(key)
            if api is not None:
                self._apis.move_to_end(key)
                return api
        # build outside the lock (plan construction is driver-heavy); a
        # concurrent builder of the same key just loses the insert race
        eng = PromQLEngine(self.samples,
                           lookback_ms=lb,
                           deterministic=self.deterministic,
                           replica_labels=list(key[0]) or None,
                           ext_labels=self.ext_labels,
                           streams=self.streams,
                           label_stats=self.label_stats)
        api = QueryAPI(eng, self.max_concurrent,
                       row_quota=self.row_quota,
                       byte_quota=self.byte_quota,
                       shard_quota=self.shard_quota,
                       label_names_row_quota=self.label_names_row_quota,
                       label_values_row_quota=self.label_values_row_quota,
                       **({} if self.default_metadata_row_quota is None else
                          {"default_metadata_row_quota":
                           self.default_metadata_row_quota}))
        with self._apis_lock:
            api = self._apis.setdefault(key, api)
            self._apis.move_to_end(key)
            while len(self._apis) > self._apis_max:
                self._apis.popitem(last=False)  # evict least-recently-used
        return api

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
            overlay = F.expr("map()").cast("map<string,string>")
            for s, ls in sorted(self.streams.items()):
                ext = (F.create_map(*[F.lit(x) for kv in sorted(ls.items())
                                      for x in kv]) if ls else
                       F.expr("map()").cast("map<string,string>"))
                overlay = F.when(F.col("stream") == s, ext).otherwise(overlay)
            return per.select("stream", overlay.alias("labels"),
                              "mint", "maxt").orderBy("stream")
        ext = self.ext_labels or {}
        lbls = (F.create_map(*[F.lit(x) for kv in sorted(ext.items())
                               for x in kv]) if ext else
                F.expr("map()").cast("map<string,string>"))
        return (df.agg(F.min("ts").alias("mint"), F.max("ts").alias("maxt"))
                .select(F.lit("0").alias("stream"), lbls.alias("labels"),
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
