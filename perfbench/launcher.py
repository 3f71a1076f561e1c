"""Gateway process of the benchmark.

    python3 perfbench/launcher.py serve --corpus DIR --table DIR
        --lookback-ms N [--spans FILE]
    python3 perfbench/launcher.py operators --corpus DIR --seconds S
        --out FILE [--spans FILE]

``serve`` converts ``DIR/events.parquet`` with ``convert.convert_samples``
(timed, reported as one JSON line on stdout), then hands over to
``cli.main(["serve", ...])`` on ephemeral HTTP and gRPC ports, exactly as
``python -m thanos_parquet_gateway_spark serve`` builds the gateway.
``operators`` runs the all-pairs registry entries back to back, each
drained to a ``noop`` sink, until ``--seconds`` have passed.  Progress is
reported as JSON event lines on stdout.

With ``--spans`` the public entry points of every layer are wrapped
(``trace_spans.Tracer.install``) before the gateway starts; recording is
switched on by SIGUSR1 and off by SIGUSR2 (``serve``) or on for every
second pass (``operators``), and the spans are written to FILE when the
process stops.  SIGTERM stops the process cleanly.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OPERATOR_JOBS = ("dedup_jaccard", "sim_near_dup", "sim_semantic_dedup")


def _stop(*_a):
    raise KeyboardInterrupt


def _emit(event: str, **kw) -> None:
    print(json.dumps({"event": event, **kw}), flush=True)


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def serve(args, tracer) -> int:
    from thanos_parquet_gateway_spark import cli, get_spark
    from thanos_parquet_gateway_spark.convert import convert_samples
    from thanos_parquet_gateway_spark.sources import samples_from_events

    t0 = time.perf_counter()
    spark = get_spark("serve")
    t1 = time.perf_counter()
    samples = samples_from_events(spark, args.corpus)
    manifest = convert_samples(samples, args.table)
    rows = sum(r["n_samples"] for r in manifest.collect())
    t2 = time.perf_counter()
    files, size = _dir_stats(args.table)
    src_bytes = os.path.getsize(os.path.join(args.corpus, "events.parquet"))
    _emit("converted", spark_start_s=t1 - t0, write_s=t2 - t1,
          rows_written=rows, files_written=files, bytes_written=size,
          source_bytes=src_bytes)
    if tracer is not None:
        tracer.install(spark)
        signal.signal(signal.SIGUSR1, lambda *_a: tracer.set_enabled(True))
        signal.signal(signal.SIGUSR2, lambda *_a: tracer.set_enabled(False))
    return cli.main(["serve", "--path", args.table, "--port", "0",
                     "--grpc-port", "0",
                     "--lookback-ms", str(args.lookback_ms)])


def operators(args, tracer) -> int:
    """One caller, closed loop over the operator jobs: a pass drains each
    job to a ``noop`` sink.  The first pass collects the results instead
    (written to ``--out`` for the correctness check); it is the warm-up.
    Traced runs record spans in every second pass."""
    from thanos_parquet_gateway_spark import get_spark
    from thanos_parquet_gateway_spark.plans.entry_queries import QUERIES

    spark = get_spark("operators")
    if tracer is not None:
        from trace_spans import join_output_rows
        tracer.install(spark)
    results = {name: [list(r) for r in QUERIES[name](spark, args.corpus)
                      .collect()] for name in OPERATOR_JOBS}
    with open(args.out, "w") as f:
        json.dump(results, f)
    _emit("ready")
    start = time.perf_counter()
    deadline = start + args.seconds
    n = 0
    while time.perf_counter() < deadline:
        if tracer is not None:
            tracer.set_enabled(n % 2 == 1)
        n += 1
        t0 = time.perf_counter()
        for name in OPERATOR_JOBS:
            ctx = (tracer.root_span(
                "operators.job", job=name,
                after=lambda rec, n=len(results[name]): rec.update(
                    candidate_pairs=join_output_rows(spark),
                    output_rows=n))
                   if tracer is not None else contextlib.nullcontext())
            with ctx:
                (QUERIES[name](spark, args.corpus)
                 .write.format("noop").mode("overwrite").save())
        _emit("pass", s=time.perf_counter() - t0, start=t0 - start,
              traced=bool(tracer and tracer.enabled))
    _emit("done")
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("mode", choices=("serve", "operators"))
    p.add_argument("--corpus", required=True)
    p.add_argument("--table")
    p.add_argument("--lookback-ms", type=int, default=7 * 86_400_000)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--out")
    p.add_argument("--spans")
    args = p.parse_args(argv)
    signal.signal(signal.SIGTERM, _stop)
    tracer = None
    if args.spans:
        from trace_spans import Tracer
        tracer = Tracer()
    try:
        return serve(args, tracer) if args.mode == "serve" \
            else operators(args, tracer)
    except KeyboardInterrupt:
        return 0
    finally:
        if tracer is not None:
            tracer.dump(args.spans)


if __name__ == "__main__":
    sys.exit(main())
