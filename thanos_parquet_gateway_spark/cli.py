"""Command-line entry points — the analogue of the reference's cobra CLI
(reference cmd/cmd.go, cmd/serve.go:60-140, cmd/convert.go:80-111).

    python -m thanos_parquet_gateway_spark serve   --path DIR [--port N] ...
    python -m thanos_parquet_gateway_spark convert --src DIR --dst DIR ...
    python -m thanos_parquet_gateway_spark retention --path DIR --days N

The reference's object-store/tracing/concurrency knobs collapse into Spark
configuration (connector + scheduler); what remains is the query/limit
surface (lookback, quotas, replica/external labels — cmd/serve.go:101-111)
and the conversion policy (grace period, max plan days, retention —
cmd/convert.go:82-101), re-expressed one-to-one where they still mean
something on Spark.
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_label_map(pairs: list[str]) -> dict[str, str]:
    out = {}
    for p in pairs:
        k, _, v = p.partition("=")
        if not _:
            raise SystemExit(f"bad label {p!r}; want name=value")
        out[k] = v
    return out


def cmd_serve(args) -> int:
    from thanos_parquet_gateway_spark import get_spark
    from thanos_parquet_gateway_spark.api import PromHTTPServer, QueryServer
    from thanos_parquet_gateway_spark.convert import open_table

    spark = get_spark("serve")
    samples, streams, label_stats = open_table(spark, args.path)
    qs = QueryServer(samples, streams=streams,
                     ext_labels=_parse_label_map(args.external_label or [])
                     or None,
                     lookback_ms=args.lookback_ms,
                     label_stats=label_stats,
                     max_concurrent=args.max_concurrent,
                     row_quota=args.max_row_count,
                     byte_quota=args.max_chunk_bytes,
                     shard_quota=args.max_shard_count)
    srv = PromHTTPServer(qs, port=args.port,
                         replica_labels=args.replica_label)
    gsrv = None
    if args.grpc_port is not None:
        # reference serves HTTP and gRPC side by side over one engine and
        # one set of limits (cmd/serve.go:60-140,201-222)
        from thanos_parquet_gateway_spark.api.grpc_server import (
            ThanosGrpcServer,
        )
        gsrv = ThanosGrpcServer(qs, port=args.grpc_port).start()
    print(f"serving {args.path} on :{srv.port}"
          + (f" grpc :{gsrv.port}" if gsrv else "")
          + f" (streams={sorted(streams) if streams else None})")
    srv.server.serve_forever()
    return 0


def cmd_query(args) -> int:
    """One-shot PromQL from the shell (promtool query instant/range
    analogue): JSON result on stdout, evaluation errors as status=error
    with exit code 1."""
    from thanos_parquet_gateway_spark import get_spark
    from thanos_parquet_gateway_spark.api import QueryServer
    from thanos_parquet_gateway_spark.convert import open_table

    spark = get_spark("query")
    samples, streams, label_stats = open_table(spark, args.path)
    qs = QueryServer(
        samples, streams=streams, label_stats=label_stats,
        lookback_ms=args.lookback_ms,
        ext_labels=_parse_label_map(args.external_label or []) or None)
    rl = args.replica_label
    try:
        if args.start is not None or args.end is not None:
            if args.start is None or args.end is None:
                raise SystemExit("range query needs both --start and --end")
            data = qs.query_range(args.expr, args.start, args.end, args.step,
                                  replica_labels=rl)
        else:
            import time as _time
            t = args.time if args.time is not None else int(_time.time() * 1000)
            data = qs.query(args.expr, t, replica_labels=rl)
    except Exception as e:  # noqa: BLE001 — CLI surface
        print(json.dumps({"status": "error", "errorType": "execution",
                          "error": str(e)}))
        return 1
    print(json.dumps({"status": "success", "data": data}))
    return 0


def _date_ms(date: str) -> int:
    import datetime as _dt
    return int(_dt.datetime.strptime(date, "%Y-%m-%d")
               .replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)


def _contiguous_day_runs(days: list[str]) -> list[tuple[int, int]]:
    """Sorted day strings → merged [min_ms, max_ms) windows of CONTIGUOUS
    runs, so a sparse plan (two days a year apart) decodes two small
    windows instead of one min/max span over everything in between —
    chunk-range pruning at the index metas then skips the gap entirely."""
    day_len = 86_400_000
    runs: list[list[int]] = []
    for d in sorted(set(days)):
        a = _date_ms(d)
        if runs and runs[-1][1] == a:
            runs[-1][1] = a + day_len
        else:
            runs.append([a, a + day_len])
    return [(a, b) for a, b in runs]


def _parse_selectors(items: list[str]) -> list[tuple[str, str, str]]:
    """``name<op>value`` selector strings → (name, op, value) matcher
    triples, ops ``= != =~ !~`` (reference
    tsdb.discovery.select-external-labels, cmd/convert.go:123)."""
    out = []
    for it in items:
        for op in ("!~", "=~", "!=", "="):  # longest ops first
            name, sep, value = it.partition(op)
            if sep:
                out.append((name.strip(), op, value))
                break
        else:
            raise SystemExit(f"bad external-label selector {it!r} "
                             "(want name=value, name!=value, name=~re, "
                             "name!~re)")
    return out


def cmd_convert(args) -> int:
    import time

    from pyspark.sql import functions as F
    from thanos_parquet_gateway_spark import get_spark
    from thanos_parquet_gateway_spark.convert import (
        convert_streams,
        read_manifest,
        write_manifest,
    )
    from thanos_parquet_gateway_spark.convert.planner import plan_days, source_days

    spark = get_spark("convert")
    tsdb_src = getattr(args, "src_format", "parquet") == "tsdb"
    streams = None
    if tsdb_src:
        # native Prometheus block ingestion (B1/B15, reference
        # convert/convert.go:353-396 + TSDBDiscoverer locate/discover.go:
        # 518-651): discover blocks grouped into external-label streams,
        # plan straight from block metas — no chunk I/O at plan time
        from thanos_parquet_gateway_spark.sources import tsdb as _tsdb
        streams = _tsdb.discover_streams(
            args.src,
            ext_label_matchers=_parse_selectors(
                getattr(args, "select_external_labels", None) or []) or None,
            min_age_ms=getattr(args, "min_block_age_ms", 0) or None)
        src_cov = _tsdb.tsdb_source_days(spark, args.src, streams=streams)
        raw = None
    else:
        raw = spark.read.parquet(args.src)
        src_cov = source_days(raw)
    plan = plan_days(src_cov, read_manifest(spark, args.dst),
                     max_days=args.max_plan_days)
    plan_rows = plan.collect()
    days = sorted({r["date"] for r in plan_rows})
    if args.grace_period_ms:
        # reference convert.grace-period: skip days younger than the cutoff
        cutoff = time.strftime(
            "%Y-%m-%d",
            time.gmtime((time.time() * 1000 - args.grace_period_ms) / 1000))
        days = [d for d in days if d <= cutoff]
    print(f"planned days: {sorted(days)}")
    if not days:
        return 0
    date_col = F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd")
    if tsdb_src:
        # per-stream decode of only the planned days, in CONTIGUOUS run
        # windows (a sparse plan never decodes the gap between runs);
        # chunk-range pruning happens at the index metas, boundary
        # chunks are trimmed exactly
        days_by_stream: dict[str, list[str]] = {}
        for r in plan_rows:
            if r["date"] in days:
                days_by_stream.setdefault(r["stream"], []).append(r["date"])
        raws = {}
        for skey, sdays in sorted(days_by_stream.items()):
            parts = [_tsdb.tsdb_samples(spark, blocks=streams[skey]["blocks"],
                                        min_ms=a, max_ms=b)
                     for a, b in _contiguous_day_runs(sdays)]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            raws[skey] = df.filter(date_col.isin(sdays))
        ext_labels = {k: streams[k]["labels"] for k in raws}
    else:
        # a samples parquet is stream "0" with no external labels
        raws, ext_labels = {"0": raw.filter(date_col.isin(days))}, {}
    # the manifest returned covers the whole table, not just this run
    # (dynamic partition overwrite leaves other days in place)
    manifest = convert_streams(
        raws, args.dst, ext_labels=ext_labels,
        max_records_per_file=args.rowgroup_size * args.rowgroup_count)
    write_manifest(manifest, args.dst)
    for r in manifest.orderBy("stream", "date").collect():
        print(json.dumps({"stream": r["stream"], "date": r["date"],
                          "mint": r["mint"], "maxt": r["maxt"],
                          "n_samples": r["n_samples"]}))
    return 0


def cmd_retention(args) -> int:
    import time

    from thanos_parquet_gateway_spark import get_spark
    from thanos_parquet_gateway_spark.convert import (
        apply_retention,
        mark_for_deletion,
        read_manifest,
        write_manifest,
    )

    spark = get_spark("retention")
    now_ms = int(time.time() * 1000)
    manifest = read_manifest(spark, args.path)
    if manifest is None:
        raise SystemExit(f"no manifest under {args.path}; run convert first")
    marked = mark_for_deletion(manifest, args.days, now_ms,
                               table_path=args.path).cache()
    n = marked.filter("deleted_at IS NOT NULL").count()
    print(f"marked partitions: {n}")
    write_manifest(marked, args.path)
    if args.apply:
        deleted = apply_retention(marked, args.path, now_ms=now_ms,
                                  consistency_delay_ms=args.consistency_delay_ms)
        print(f"deleted: {deleted}")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="thanos_parquet_gateway_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("serve", help="serve the Prometheus HTTP API over a "
                       "converted samples table (reference cmd/serve.go)")
    s.add_argument("--path", required=True, help="samples parquet root")
    s.add_argument("--port", type=int, default=9090)
    s.add_argument("--grpc-port", type=int, default=None,
                   help="also serve the Thanos gRPC query API on this port "
                   "(reference http-port/grpc-port pair, cmd/serve.go)")
    s.add_argument("--lookback-ms", type=int, default=300_000,
                   help="query.lookback (reference cmd/serve.go:102)")
    s.add_argument("--max-concurrent", type=int, default=100,
                   help="query.limits concurrency: one semaphore over every "
                   "HTTP and gRPC query and metadata request of the process")
    s.add_argument("--max-row-count", type=int, default=0,
                   help="query.limits.select.max-row-count (0 = unlimited)")
    s.add_argument("--max-chunk-bytes", type=int, default=0,
                   help="query.limits.select.max-chunk-bytes (0 = unlimited)")
    s.add_argument("--max-shard-count", type=int, default=0,
                   help="query.limits.max-shard-count: post-pruning parquet "
                   "files a query may touch (reference cmd/serve.go:106; "
                   "0 = unlimited)")
    s.add_argument("--replica-label", action="append",
                   help="replica label to drop+dedup (repeatable)")
    s.add_argument("--external-label", action="append",
                   help="name=value external label (repeatable; "
                   "reference query.external-label)")
    s.set_defaults(fn=cmd_serve)

    qp = sub.add_parser("query", help="one-shot PromQL evaluation (promtool "
                        "query instant/range analogue)")
    qp.add_argument("--path", required=True, help="samples parquet root")
    qp.add_argument("expr", help="PromQL expression")
    qp.add_argument("--time", type=int, default=None,
                    help="instant eval time (epoch ms; default now)")
    qp.add_argument("--start", type=int, default=None,
                    help="range start (epoch ms)")
    qp.add_argument("--end", type=int, default=None, help="range end (epoch ms)")
    qp.add_argument("--step", type=int, default=60_000, help="range step (ms)")
    qp.add_argument("--lookback-ms", type=int, default=300_000)
    qp.add_argument("--replica-label", action="append")
    qp.add_argument("--external-label", action="append")
    qp.set_defaults(fn=cmd_query)

    c = sub.add_parser("convert", help="convert raw samples parquet into the "
                       "stream/date-partitioned layout (reference cmd/convert.go)")
    c.add_argument("--src", required=True)
    c.add_argument("--dst", required=True)
    c.add_argument("--src-format", choices=("parquet", "tsdb"),
                   default="parquet",
                   help="source kind: raw samples parquet, or a dir of "
                   "Prometheus TSDB blocks (native B1 ingestion, "
                   "reference convert/convert.go:353-396)")
    c.add_argument("--select-external-labels", action="append",
                   metavar="SELECTOR",
                   help="tsdb source: only blocks whose external labels "
                   "match (name=value, name!=value, name=~re, name!~re; "
                   "repeatable — reference "
                   "tsdb.discovery.select-external-labels)")
    c.add_argument("--min-block-age-ms", type=int, default=0,
                   help="tsdb source: skip blocks with data younger than "
                   "this (reference tsdb.discovery.min-block-age)")
    c.add_argument("--grace-period-ms", type=int, default=0,
                   help="don't convert days younger than this "
                   "(reference convert.grace-period)")
    c.add_argument("--max-plan-days", type=int, default=0,
                   help="soft limit of days per run (convert.max-plan-days)")
    c.add_argument("--rowgroup-size", type=int, default=1_000_000,
                   help="rows per rowgroup (convert.rowgroup.size)")
    c.add_argument("--rowgroup-count", type=int, default=6,
                   help="rowgroups per file (convert.rowgroup.count)")
    c.set_defaults(fn=cmd_convert)

    r = sub.add_parser("retention", help="two-phase retention mark/sweep "
                       "(reference convert.retention-days)")
    r.add_argument("--path", required=True)
    r.add_argument("--days", type=int, required=True)
    r.add_argument("--apply", action="store_true",
                   help="sweep marked days (default: mark only)")
    r.add_argument("--consistency-delay-ms", type=int,
                   default=12 * 3600 * 1000,
                   help="wait this long after marking before the sweep "
                   "(reference locate/deletion.go 12h delay)")
    r.set_defaults(fn=cmd_retention)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
