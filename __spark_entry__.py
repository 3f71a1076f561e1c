"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries live in thanos_parquet_gateway_spark/plans/entry_queries.py —
one entry per implemented operator from SURVEY.md §2, each with an
order-stable (bit-deterministic) DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _configure(spark: SparkSession) -> None:
    """Apply session conf the engine depends on (idempotent; the driver may
    hand us a vanilla session)."""
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # some confs may be fixed on a running session
    from thanos_parquet_gateway_spark.session import register_kernels
    register_kernels(spark)  # the similarity entries call tsq_dot


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _configure(spark)
    from thanos_parquet_gateway_spark.plans import flagship
    return flagship(spark)


def _rotation_rank() -> dict[str, int]:
    """Rank each query by the most recent round whose committed
    CORRECTNESS_r*.json contains a row for it (never-checked → -1), so the
    registry iterates oldest-proven-first and a bounded per-round driver
    window keeps re-proving the stalest results."""
    import glob
    import json
    import os
    import re

    rank: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name in rows:
            rank[name] = max(rank.get(name, -1), int(m.group(1)))
    return rank


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, iterated
    oldest-proven-first (see _rotation_rank)."""
    from thanos_parquet_gateway_spark.plans import QUERIES

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _configure(spark)
            return fn(spark, sf_dir)
        return run

    rank = _rotation_rank()
    order = {name: i for i, name in enumerate(QUERIES)}
    names = sorted(QUERIES, key=lambda n: (rank.get(n, -1), order[n]))
    return {name: wrap(QUERIES[name]) for name in names}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted for genuinely
    non-SQL-expressible ops → driver records a rows-only check)."""
    from thanos_parquet_gateway_spark.plans import ORACLES
    return dict(ORACLES)
