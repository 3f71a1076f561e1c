"""Prometheus HTTP API shim over the Spark engine.

JSON contract mirrors the reference's endpoints (reference
api/http/query.go:175-179, response shaping :232-251,536-564):
/api/v1/query, /query_range, /series, /labels, /label/<name>/values.

Driver-side control plane only: parses params, delegates to PromQLEngine
(executors do the work), serializes {status, data:{resultType, result}}.
``PromHTTPServer`` serves through the process's one ``QueryServer``
(api/server.py), sharing its engines, quotas and one concurrency semaphore
with gRPC (reference internal/limits/limit.go:27-64).

Resource quotas (reference internal/limits/limit.go:66-93):
- row quota: the result DataFrame is fetched capped at q+1 rows (the engine
  memoizes the capped plan) — executors stop early instead of shipping an
  oversized result;
- byte quota: admission against the Catalyst-optimized plan's estimated
  input size (post partition-pruning file bytes) — the Spark analogue of
  reserving chunk bytes before materialization.
Truncation warnings (reference internal/warnings/warnings.go:9-13) ride in
the top-level ``warnings`` array; per-query samples-scanned stats (reference
api/grpc/thanos.go:561-566) are what this execution scanned: the change in
the executed plan's scan metrics across the collect, so a plan-memo hit
whose scan stages Spark skipped reports 0.
"""

from __future__ import annotations

import copy
import json
import math
import threading
import time
import weakref
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from thanos_parquet_gateway_spark.promql.engine import PromQLEngine

# Reference internal/warnings/warnings.go:9
WARN_TRUNCATED = "results truncated due to limit"


def _fmt_val(v: float) -> str:
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "+Inf" if v > 0 else "-Inf"
    return repr(v) if v != int(v) else str(int(v))


def _hist_json(h) -> dict:
    """Collected hist struct → the Prometheus HTTP API histogram object:
    {"count", "sum", "buckets": [[boundary_rule, lower, upper, count]...]}
    (values as Prometheus-formatted strings; empty buckets omitted like
    upstream).  boundary_rule: 0 = (lower, upper], 1 = [lower, upper),
    3 = closed both (the zero bucket).  A "schema" int rides along as an
    extension so the gRPC layer can rebuild exact bounds."""
    sch = h["schema"]
    sch_i = -53 if sch is None else int(sch)
    bks = sorted((float(b["le"]), float(b["count"])) for b in h["buckets"])
    out = []
    if sch_i == -53:
        prev = float("-inf")
        for le, c in bks:
            if c:
                out.append([0, _fmt_val(prev), _fmt_val(le), _fmt_val(c)])
            prev = le
    else:
        base = 2.0 ** (2.0 ** -sch_i)
        for le, c in bks:
            if not c:
                continue
            if le == 0.0:
                # zero bucket; the engine model does not track the zero
                # threshold, so the bound collapses to the point 0
                out.append([3, "0", "0", _fmt_val(c)])
            elif le > 0:
                out.append([0, _fmt_val(le / base), _fmt_val(le),
                            _fmt_val(c)])
            else:
                out.append([1, _fmt_val(le * base), _fmt_val(le),
                            _fmt_val(c)])
    return {"count": _fmt_val(float(h["count"])),
            "sum": _fmt_val(float(h["sum"])),
            "schema": sch_i, "buckets": out}


def _parse_time(s: str | None, default_ms: int) -> int:
    if not s:
        return default_ms
    try:
        return int(float(s) * 1000)
    except ValueError:
        from datetime import datetime
        return int(datetime.fromisoformat(s.replace("Z", "+00:00"))
                   .timestamp() * 1000)


# large-but-finite backstop for metadata endpoints when the operator sets no
# quota and the client sends no limit (round-9 verdict #6): big enough that
# no legitimate label/series listing hits it, small enough that a forgotten
# knob yields a 400 resource_exhausted instead of a driver OOM
DEFAULT_METADATA_ROW_QUOTA = 1_000_000


class QuotaExceeded(RuntimeError):
    """Per-query resource quota hit (reference internal/limits/limit.go:66-93:
    Quota.Reserve; surfaced with errorType=resource_exhausted like the
    reference's HTTP layer, api/http/query.go:188,216)."""


def plan_input_bytes(df) -> int:
    """Catalyst-estimated *input* size of the optimized plan: the sum of
    sizeInBytes over the plan's leaf relations (for file scans, the pruned
    file bytes) — the admission analogue of the reference's chunk-bytes
    quota (internal/limits/limit.go:66-93 wired at db/db.go).  Summing
    leaves (not the root) matters: the root estimate is the *output* size,
    which collapses after aggregates (quota would never fire on huge scans)
    and multiplies after joins (spurious rejections)."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            total += int(leaves.apply(i).stats().sizeInBytes())
        return total
    except Exception:  # noqa: BLE001 — stats are advisory
        return 0


_scan_files_probe_warned = False


def plan_scan_files(df) -> int:
    """Post-pruning file count the query would scan, summed over the
    plan's file scans — the admission analogue of the reference's SHARD
    quota (a Select may touch at most N parquet shards; the repo's
    conversion writes ~6M-row shard files, so files ≡ shards here).
    Driver-side only: reads FileSourceScanExec.selectedPartitions (the
    pruned listing the scan will use anyway — computed once, cached by
    the node).

    UPPER-BOUND admission: this walks the AQE ``initialPlan`` (the query
    has not run at admission time), so counts reflect static partition
    pruning only — files that dynamic partition pruning or AQE would
    later skip at runtime are still counted.  The quota therefore only
    ever over-estimates (rejects a query that would have scanned fewer
    files), never under-admits — the conservative direction for an
    admission control (pinned by test_api).

    Advisory: returns 0 (quota off) when the private interface is
    unavailable, with a ONE-TIME warning so a silently-disabled quota is
    visible (the shape is also pinned by test_api so a Spark upgrade
    fails loudly)."""
    global _scan_files_probe_warned
    try:
        leaves: list = []
        _walk_leaves(df._jdf.queryExecution().executedPlan(), leaves,
                     adaptive="initial")
        total = 0
        for leaf in leaves:
            if leaf.getClass().getSimpleName() == "FileSourceScanExec":
                total += int(leaf.selectedPartitions().totalNumberOfFiles())
        return total
    except Exception:  # noqa: BLE001 — stats are advisory
        if not _scan_files_probe_warned:
            _scan_files_probe_warned = True
            import warnings
            warnings.warn(
                "plan_scan_files: FileSourceScanExec.selectedPartitions "
                "probe failed — the shard quota is DISABLED (returns 0) "
                "for this process", RuntimeWarning, stacklevel=2)
        return 0


def _walk_leaves(node, out, adaptive: str = "executed"):
    """Collect physical-plan leaves, descending through AQE wrappers
    (AdaptiveSparkPlanExec / *QueryStageExec / ReusedExchangeExec), which
    collectLeaves() treats as opaque.  ``adaptive`` picks which side of
    an AdaptiveSparkPlanExec to walk: "executed" (post-run, for stats)
    or "initial" (pre-run, for admission — no stages exist yet)."""
    cls = node.getClass().getSimpleName()
    if cls.startswith("AdaptiveSparkPlan"):
        sub = (node.initialPlan() if adaptive == "initial"
               else node.executedPlan())
        _walk_leaves(sub, out, adaptive)
        return
    if "QueryStage" in cls:
        _walk_leaves(node.plan(), out, adaptive)
        return
    if cls.startswith("ReusedExchange"):
        _walk_leaves(node.child(), out, adaptive)
        return
    ch = node.children()
    if ch.size() == 0:
        out.append(node)
        return
    for i in range(ch.size()):
        _walk_leaves(ch.apply(i), out, adaptive)


_SCAN_METRICS = ("numOutputRows", "numFiles", "filesSize")
# Dataset → its scan-metric handles (see _meters); weak keys, so the entry
# lives and dies with the plan-memo entry that holds the Dataset
_scan_meters: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _meters(df) -> tuple[list, list, bool]:
    """The executed plan's scan-metric handles, taken by one walk after
    ``df``'s first collect (before it, AQE may still re-plan the leaves)
    and kept for the Dataset's life: a plan-memo hit re-executes the same
    physical nodes, so it reads them at one py4j call per metric.

    Returns, per scan leaf, the ``SQLMetric`` handles of numOutputRows,
    numFiles and filesSize (None where the leaf lacks one); per leaf the
    files and bytes of its pruned listing; and whether the metrics add up
    across executions.  Every action resets the metrics of the plan it
    runs, but not below an AdaptiveSparkPlanExec root, which Spark treats
    as a leaf.  numFiles and filesSize are set once, when the node lists
    its files; shard-quota admission lists them before the first action,
    whose reset then zeroes them, so the listing is read from the node.
    Racing first walks compute the same handles twice."""
    got = _scan_meters.get(df)
    if got is None:
        root = df._jdf.queryExecution().executedPlan()
        leaves: list = []
        _walk_leaves(root, leaves)
        handles, listing = [], []
        for leaf in leaves:
            m = leaf.metrics()
            hs = tuple(m.apply(k) if m.contains(k) else None
                       for k in _SCAN_METRICS)
            if any(h is not None for h in hs):
                handles.append(hs)
                listing.append(_listing(leaf) if hs[1] is not None
                               else (0, 0))
        got = _scan_meters[df] = (
            handles, listing,
            root.getClass().getSimpleName().startswith("AdaptiveSparkPlan"))
    return got


def _read(handle) -> int:
    return 0 if handle is None else int(handle.value())


def _listing(scan) -> tuple[int, int]:
    """(files, bytes) a file scan node lists: the partitions its numFiles
    and filesSize metrics count, after static and dynamic pruning."""
    p = scan.dynamicallySelectedPartitions()
    return int(p.totalNumberOfFiles()), int(p.totalFileSize())


def _samples(per_leaf) -> dict:
    """(rows, files, bytes) per scan leaf → the stats payload: total rows
    produced by all scans and the largest single scan — the analogue of
    the reference's samples total/peak stats (api/grpc/thanos.go:561-566)
    — plus the parquet scan counters (reference search/metrics.go:35-76
    exports pages/rows/bytes per query): ``filesScanned`` (split count
    after partition/stats pruning, the page-run analogue) and
    ``bytesScanned`` (pruned file bytes)."""
    return {"totalQueried": sum(r for r, _, _ in per_leaf),
            "peakSamples": max((r for r, _, _ in per_leaf), default=0),
            "filesScanned": sum(f for _, f, _ in per_leaf),
            "bytesScanned": sum(b for _, _, b in per_leaf)}


def scan_stats(df) -> dict:
    """Scan statistics as the *executed* plan's leaf metrics hold them
    (call after an action), in the ``_samples`` payload shape: under AQE,
    everything the Dataset's executions have scanned so far."""
    try:
        return _samples([[_read(h) for h in hs] for hs in _meters(df)[0]])
    except Exception:  # noqa: BLE001 — stats are advisory
        return _samples([])


def scan_rows(df) -> list | None:
    """numOutputRows per scan leaf of ``df`` now, to pass to
    ``executed_stats``; None before the Dataset's first collect."""
    try:
        got = _scan_meters.get(df)
        return None if got is None else [_read(hs[0]) for hs in got[0]]
    except Exception:  # noqa: BLE001 — stats are advisory
        return None


def executed_stats(df, before: list | None) -> dict:
    """Scan statistics of the execution of ``df`` that ran since
    ``scan_rows`` returned ``before`` (None: the first collect, whose
    metrics hold that execution alone).  A leaf whose rows did not move —
    a scan stage Spark skipped — counts 0; one that scanned reports its
    rows and its listing's files and bytes.  Two executions of one plan
    that overlap may attribute a scan to either request; the stats are
    advisory."""
    try:
        handles, listing, cumulative = _meters(df)
        after = [_read(hs[0]) for hs in handles]
    except Exception:  # noqa: BLE001 — stats are advisory
        return _samples([])
    if before is None:
        return _samples([(r, *ls) for r, ls in zip(after, listing)])
    per_leaf = []
    for r0, r1, ls in zip(before, after, listing):
        rows = r1 - r0 if cumulative else r1
        per_leaf.append((rows, *ls) if rows else (0, 0, 0))
    return _samples(per_leaf)


class QueryAPI:
    """Transport-independent request handlers (unit-testable without HTTP).

    ``row_quota`` bounds the rows a single query may materialize to the
    driver; ``byte_quota`` bounds the estimated input bytes a query may
    scan; ``shard_quota`` bounds the post-pruning file count a query may
    touch (the reference's shard quota).  All reject with QuotaExceeded
    before shipping oversized work, mirroring the reference's
    Quota.Reserve admission.
    """

    def __init__(self, engine: PromQLEngine, max_concurrent: int = 100,
                 row_quota: int = 0, byte_quota: int = 0,
                 shard_quota: int = 0,
                 label_names_row_quota: int = 0,
                 label_values_row_quota: int = 0,
                 default_metadata_row_quota: int = DEFAULT_METADATA_ROW_QUOTA):
        self.engine = engine
        self.sem = threading.Semaphore(max_concurrent)
        self.row_quota = row_quota
        self.byte_quota = byte_quota
        self.shard_quota = shard_quota
        # per-endpoint metadata quotas, mirroring the reference's
        # LabelNamesRowCountQuota / LabelValuesRowCountQuota options
        # (api/http/query.go:130-140 wired to internal/limits Quota)
        self.label_names_row_quota = label_names_row_quota
        self.label_values_row_quota = label_values_row_quota
        # backstop when an operator configures NO quota and the client sends
        # NO limit: the reference defaults to UnlimitedQuota, but an
        # unbounded metadata collect is a driver OOM at 100x scale — degrade
        # to a 400 at a large-but-finite ceiling instead.  Pass 0 to restore
        # the reference's truly-unlimited behavior.
        self.default_metadata_row_quota = default_metadata_row_quota

    def over(self, engine: PromQLEngine) -> "QueryAPI":
        """An API over ``engine`` with this one's quotas and semaphore."""
        api = copy.copy(self)
        api.engine = engine
        return api

    def _admit(self, df):
        if self.byte_quota:
            est = plan_input_bytes(df)
            if est > self.byte_quota:
                raise QuotaExceeded(
                    f"resource exhausted (query would scan ~{est} bytes, "
                    f"quota {self.byte_quota})")
        if self.shard_quota:
            n = plan_scan_files(df)
            if n > self.shard_quota:
                raise QuotaExceeded(
                    f"resource exhausted (query would scan {n} shards, "
                    f"quota {self.shard_quota})")

    def _row_cap(self) -> int:
        """Rows a PromQL result is fetched with: quota+1 under a row quota
        (the engine memoizes the capped plan under its query key), so
        executors stop early instead of shipping an oversized result."""
        return self.row_quota + 1 if self.row_quota else 0

    @staticmethod
    def _run(df) -> tuple[list, dict]:
        """Collect ``df``: its rows and the stats of the scan this
        execution ran (``executed_stats``)."""
        before = scan_rows(df)
        rows = df.collect()
        return rows, {"samples": executed_stats(df, before)}

    def _collect(self, df) -> tuple[list, dict]:
        """Admit, then ``_run`` a plan fetched with ``_row_cap`` rows and
        enforce the row quota on it."""
        self._admit(df)
        rows, stats = self._run(df)
        if self.row_quota and len(rows) > self.row_quota:
            raise QuotaExceeded(
                f"resource exhausted (query would return more than "
                f"{self.row_quota} rows)")
        return rows, stats

    @staticmethod
    def _with_annotations(payload: dict, res) -> dict:
        """Attach PromQL annotations (upstream util/annotations) as the
        Prometheus API's warnings/infos arrays (the HTTP layer lifts them
        to the top-level response fields)."""
        if hasattr(res, "all_annotations"):
            # includes data-dependent probe annotations (bounded
            # side-aggregations, collected once here)
            ann = res.all_annotations()
        else:
            ann = getattr(res, "annotations", None) or []
        warns = [m for k, m in ann if k == "warn"]
        infos = [m for k, m in ann if k == "info"]
        if warns:
            payload["warnings"] = warns
        if infos:
            payload["infos"] = infos
        return payload

    def query(self, q: str, t_ms: int, *, memo: bool = True) -> dict:
        """``memo=False`` (a time the client left to default to now, a key
        no later request repeats) builds the plan without memoizing it;
        the same for every endpoint below."""
        with self.sem:
            res = self.engine.query_instant(q, t_ms, self._row_cap(),
                                            memo=memo)
            if res.result_type == "string":
                row = res.df.collect()[0]
                return self._with_annotations(
                    {"resultType": "string",
                     "result": [t_ms / 1000.0, row["value"]]}, res)
            if res.result_type == "scalar":
                rows, stats = self._run(res.df)
                return self._with_annotations(
                    {"resultType": "scalar",
                     "result": [t_ms / 1000.0, _fmt_val(rows[0]["value"])],
                     "stats": stats}, res)
            rows, stats = self._collect(res.df)
            # Prometheus execution error: an instant vector must not contain
            # two samples with the same labelset (can arise from
            # label_replace/label_join collapsing labels).  Checked here on
            # the collected result — no extra job.
            seen: set = set()
            for r in rows:
                key = frozenset(dict(r["labels"]).items())
                if key in seen:
                    raise ValueError(
                        "vector cannot contain metrics with the same labelset")
                seen.add(key)
            has_hist = "hist" in res.df.columns
            result = []
            for r in rows:
                item = {"metric": dict(r["labels"])}
                if has_hist and r["hist"] is not None:
                    # native-histogram sample: Prometheus API "histogram"
                    # slot instead of "value" (value is the NaN carrier)
                    item["histogram"] = [r["t"] / 1000.0,
                                         _hist_json(r["hist"])]
                else:
                    item["value"] = [r["t"] / 1000.0, _fmt_val(r["value"])]
                result.append(item)
            return self._with_annotations(
                {"resultType": "vector", "result": result, "stats": stats},
                res)

    def query_range(self, q: str, start_ms: int, end_ms: int,
                    step_ms: int, *, memo: bool = True) -> dict:
        with self.sem:
            res = self.engine.query_range(q, start_ms, end_ms, step_ms,
                                          self._row_cap(), memo=memo)
            rows, stats = self._collect(res.df)
            if res.result_type == "scalar":
                return self._with_annotations(
                    {"resultType": "matrix", "result": [{
                        "metric": {},
                        "values": [[r["t"] / 1000.0, _fmt_val(r["value"])]
                                   for r in sorted(rows,
                                                   key=lambda r: r["t"])]}],
                     "stats": stats}, res)
            has_hist = "hist" in res.df.columns
            series: dict = {}
            seen_points: set = set()
            for r in rows:
                # two rows on one (series, step) = duplicate labelsets
                # (Prometheus execution error, as in the vector case)
                if (r["sig"], r["t"]) in seen_points:
                    raise ValueError(
                        "vector cannot contain metrics with the same labelset")
                seen_points.add((r["sig"], r["t"]))
                s = series.setdefault(r["sig"],
                                      {"metric": dict(r["labels"]),
                                       "values": []})
                if has_hist and r["hist"] is not None:
                    s.setdefault("histograms", []).append(
                        [r["t"] / 1000.0, _hist_json(r["hist"])])
                else:
                    s["values"].append(
                        [r["t"] / 1000.0, _fmt_val(r["value"])])
            for s in series.values():
                s["values"].sort(key=lambda v: v[0])
                if "histograms" in s:
                    s["histograms"].sort(key=lambda v: v[0])
                    if not s["values"]:  # upstream omits the empty slot
                        del s["values"]
            return self._with_annotations(
                {"resultType": "matrix",
                 "result": [series[k] for k in sorted(series)],
                 "stats": stats}, res)

    # -- metadata endpoints: (data, warnings) pairs ----------------------
    def _limited(self, fetch, limit: int, quota: int = 0,
                 backstop: bool = True):
        """Collect limit+1 rows; report truncation as a warning instead of
        silently clipping (reference search/materialize.go:53-58,
        db/db.go:339-347).  ``quota`` is the operator-set per-endpoint row
        ceiling (reference LabelNames/LabelValuesRowCountQuota): exceeding
        it is a 400 resource_exhausted, unlike the client ``limit`` which
        truncates with a warning — and the quota probe pulls at most
        quota+1 rows, never the full result.  With NO quota and NO limit,
        ``default_metadata_row_quota`` backstops the otherwise-unbounded
        collect (the reference's UnlimitedQuota default would OOM the
        driver at scale; 0 restores it) unless ``backstop`` is False.
        ``fetch(n)`` returns the engine's memoized plan capped at n rows
        (0 = uncapped).  Runs under the concurrency semaphore and
        admission like a query."""
        if backstop and not quota and not limit:
            quota = self.default_metadata_row_quota
        cap = quota or limit
        with self.sem:
            df = fetch(cap + 1 if cap else 0)
            self._admit(df)
            rows = df.collect()
        if quota and len(rows) > quota:
            raise QuotaExceeded(
                f"resource exhausted (metadata result exceeds the "
                f"{quota}-row quota)")
        if limit and len(rows) > limit:
            return rows[:limit], [WARN_TRUNCATED]
        return rows, []

    def series(self, match: list[str], start_ms: int, end_ms: int,
               limit: int = 0, *, memo: bool = True
               ) -> tuple[list[dict], list[str]]:
        rows, warns = self._limited(
            lambda n: self.engine.series(match, start_ms, end_ms, n,
                                         memo=memo),
            limit, quota=self.row_quota)
        return [dict(r["labels"]) for r in rows], warns

    def series_export(self, match: list[str], start_ms: int, end_ms: int,
                      limit: int = 0, *, samples: bool = True
                      ) -> tuple[list, list[str]]:
        """Collected rows of the raw Series export (gRPC Series, see
        PromQLEngine.series): ``samples=False`` is SkipChunks.  The same
        admission and row quota as /series; like the reference's Select
        it is bounded by the row quota only, with no metadata backstop, so
        without quota or limit it collects the uncapped plan."""
        return self._limited(
            lambda n: self.engine.series(match, start_ms, end_ms, n,
                                         samples=samples),
            limit, quota=self.row_quota, backstop=False)

    def labels(self, match: list[str] | None, start_ms: int, end_ms: int,
               limit: int = 0, *, memo: bool = True
               ) -> tuple[list[str], list[str]]:
        rows, warns = self._limited(
            lambda n: self.engine.label_names(match, start_ms, end_ms, n,
                                              memo=memo),
            limit, quota=self.label_names_row_quota)
        return [r["name"] for r in rows], warns

    def label_values(self, name: str, match: list[str] | None, start_ms: int,
                     end_ms: int, limit: int = 0, *, memo: bool = True
                     ) -> tuple[list[str], list[str]]:
        rows, warns = self._limited(
            lambda n: self.engine.label_values(name, match, start_ms, end_ms,
                                               n, memo=memo),
            limit, quota=self.label_values_row_quota)
        return [r["value"] for r in rows], warns


class PromHTTPServer:
    def __init__(self, query_server, port: int = 9090,
                 replica_labels: list[str] | None = None):
        """Serves each request through the QueryAPI that ``query_server``
        holds for ``replica_labels``; /metrics reads its memo counters."""
        self.query_server = qserver = query_server
        # Internal-API surface (reference cmd/config.go:183-191 serves
        # /-/healthy, /-/ready and /metrics on a separate internal port;
        # here they share the query port — one listener in-process).
        # Counters are plain ints under a lock, rendered in Prometheus
        # text exposition format by /metrics.
        self._counters: dict[tuple[str, str], int] = {}
        self._counters_lock = threading.Lock()
        counters, counters_lock = self._counters, self._counters_lock

        def _count(name: str, label: str) -> None:
            with counters_lock:
                counters[(name, label)] = counters.get((name, label), 0) + 1

        # Known-endpoint buckets only: counting raw client paths would let
        # arbitrary /api/* strings (404s, arbitrary label names) grow the
        # counter map without bound on a long-running server, and a path
        # containing ``"`` / ``\`` / newline would corrupt the exposition
        # output for every scraper thereafter.  Dynamic label-values paths
        # collapse to one bucket; everything else is endpoint="other".
        _ENDPOINTS = frozenset((
            "/api/v1/query", "/api/v1/query_range", "/api/v1/format_query",
            "/api/v1/parse_query", "/api/v1/series", "/api/v1/labels"))

        def _endpoint_bucket(path: str) -> str:
            if path in _ENDPOINTS:
                return path
            if path.startswith("/api/v1/label/") and path.endswith("/values"):
                return "/api/v1/label/:name/values"
            return "other"

        def _esc_label(v: str) -> str:
            # Prometheus text exposition escaping for label values
            return (v.replace("\\", r"\\").replace('"', r"\"")
                     .replace("\n", r"\n"))

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _send(self, payload, code=200):
                self._send_text(json.dumps(payload).encode(), code,
                                "application/json")

            def _ok(self, data, warnings=None, infos=None):
                payload = {"status": "success", "data": data}
                # query handlers return warnings/infos inside the data dict;
                # the Prometheus API carries them at the top level
                if isinstance(data, dict):
                    warnings = warnings or data.pop("warnings", None)
                    infos = infos or data.pop("infos", None)
                if warnings:
                    payload["warnings"] = warnings
                if infos:
                    payload["infos"] = infos
                self._send(payload)

            def do_GET(self):  # noqa: N802
                self.do_POST()

            def _send_text(self, body: bytes, code: int = 200,
                           ctype: str = "text/plain; charset=utf-8"):
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802
                try:
                    u = urlparse(self.path)
                    if u.path in ("/-/healthy", "/-/ready", "/metrics"):
                        # Drain any request body BEFORE responding: leaving
                        # Content-Length bytes unread is harmless on
                        # HTTP/1.0 (no keep-alive) but becomes a
                        # request-desync if protocol_version is ever
                        # bumped to HTTP/1.1.
                        if self.headers.get("Content-Length"):
                            remaining = int(self.headers["Content-Length"])
                            while remaining > 0:
                                chunk = self.rfile.read(min(remaining, 65536))
                                if not chunk:
                                    break
                                remaining -= len(chunk)
                    if u.path in ("/-/healthy", "/-/ready"):
                        # reference cmd/config.go:183-191: plain "OK"
                        self._send_text(b"OK")
                        return
                    if u.path == "/metrics":
                        with counters_lock:
                            items = sorted(counters.items())
                        lines = [
                            "# HELP pqg_http_requests_total HTTP requests "
                            "by endpoint.",
                            "# TYPE pqg_http_requests_total counter"]
                        lines += [
                            f'pqg_http_requests_total'
                            f'{{endpoint="{_esc_label(lb)}"}} {v}'
                            for (name, lb), v in items
                            if name == "requests"]
                        lines += [
                            "# HELP pqg_http_errors_total HTTP error "
                            "responses by type.",
                            "# TYPE pqg_http_errors_total counter"]
                        lines += [
                            f'pqg_http_errors_total'
                            f'{{type="{_esc_label(lb)}"}} {v}'
                            for (name, lb), v in items if name == "errors"]
                        memo = qserver.plan_cache_counts()
                        for key, kind in (("hits", "counter"),
                                          ("misses", "counter"),
                                          ("evictions", "counter"),
                                          ("entries", "gauge")):
                            metric = f"pqg_plan_cache_{key}" + (
                                "_total" if kind == "counter" else "")
                            lines += [f"# HELP {metric} Plan memo {key}.",
                                      f"# TYPE {metric} {kind}",
                                      f"{metric} {memo[key]}"]
                        self._send_text(("\n".join(lines) + "\n").encode(),
                                        ctype="text/plain; version=0.0.4; "
                                              "charset=utf-8")
                        return
                    if u.path.startswith("/api/"):
                        _count("requests", _endpoint_bucket(u.path))
                    qs = parse_qs(u.query)
                    if self.headers.get("Content-Length"):
                        n = int(self.headers["Content-Length"])
                        qs.update(parse_qs(self.rfile.read(n).decode()))
                    now = int(time.time() * 1000)
                    one = lambda k, d=None: qs.get(k, [d])[0]  # noqa: E731
                    api = qserver._api(replica_labels)
                    # a time defaulted to now is a key no later request
                    # repeats: such requests bypass the plan memo
                    if u.path == "/api/v1/query":
                        self._ok(api.query(one("query"),
                                           _parse_time(one("time"), now),
                                           memo=bool(one("time"))))
                    elif u.path == "/api/v1/query_range":
                        step = one("step", "30")
                        self._ok(api.query_range(
                            one("query"), _parse_time(one("start"), now),
                            _parse_time(one("end"), now),
                            int(float(step) * 1000),
                            memo=bool(one("start") and one("end"))))
                    elif u.path == "/api/v1/format_query":
                        # Prometheus 3 query formatter: parse + prettify
                        # (promql/printer.py; long expressions split across
                        # indented lines like upstream Pretty)
                        from thanos_parquet_gateway_spark.promql.parser import (
                            parse as _pq_parse,
                        )
                        from thanos_parquet_gateway_spark.promql.printer import (
                            prettify,
                        )
                        self._ok(prettify(_pq_parse(one("query") or "")))
                    elif u.path == "/api/v1/parse_query":
                        # Prometheus 3 AST endpoint: the parsed expression
                        # as a JSON tree (promql/printer.ast_to_json)
                        from thanos_parquet_gateway_spark.promql.parser import (
                            parse as _pq_parse,
                        )
                        from thanos_parquet_gateway_spark.promql.printer import (
                            ast_to_json,
                        )
                        self._ok(ast_to_json(_pq_parse(one("query") or "")))
                    elif u.path == "/api/v1/series":
                        data, warns = api.series(qs.get("match[]", []),
                                                 _parse_time(one("start"), 0),
                                                 _parse_time(one("end"), now),
                                                 int(one("limit", "0")),
                                                 memo=bool(one("end")))
                        self._ok(data, warns)
                    elif u.path == "/api/v1/labels":
                        data, warns = api.labels(qs.get("match[]") or None,
                                                 _parse_time(one("start"), 0),
                                                 _parse_time(one("end"), now),
                                                 int(one("limit", "0")),
                                                 memo=bool(one("end")))
                        self._ok(data, warns)
                    elif u.path.startswith("/api/v1/label/") and \
                            u.path.endswith("/values"):
                        name = u.path[len("/api/v1/label/"):-len("/values")]
                        data, warns = api.label_values(
                            name, qs.get("match[]") or None,
                            _parse_time(one("start"), 0),
                            _parse_time(one("end"), now),
                            int(one("limit", "0")), memo=bool(one("end")))
                        self._ok(data, warns)
                    else:
                        self._send({"status": "error",
                                    "errorType": "bad_data",
                                    "error": "unknown endpoint"}, 404)
                        return
                except QuotaExceeded as e:
                    # reference maps resource-exhausted to HTTP 400 with
                    # errorType=resource_exhausted (api/http/query.go:188,216)
                    _count("errors", "resource_exhausted")
                    self._send({"status": "error",
                                "errorType": "resource_exhausted",
                                "error": str(e)}, 400)
                except Exception as e:  # noqa: BLE001
                    _count("errors", "execution")
                    self._send({"status": "error", "errorType": "execution",
                                "error": str(e)}, 422)

        self.server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self.server.server_address[1]

    def serve_background(self):
        t = threading.Thread(target=self.server.serve_forever, daemon=True)
        t.start()
        return t

    def shutdown(self):
        self.server.shutdown()
