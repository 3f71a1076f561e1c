"""Parquet sources.

The reference's source layer discovers parquet blocks in object storage and
opens them with async page reads (locate/discover.go:125-305,
locate/syncer.go:278-284).  In Spark that whole layer is
``spark.read.parquet`` — the vectorized reader + S3A/GCS connector give the
ranged reads, page skipping and readahead for free (SURVEY.md §2.A A1-A3).

Also defines the canonical events→samples derivation used by tests/bench:
the driver's synthetic ``events`` table plays the role of a Prometheus scrape
corpus (metric name = event_type, labels from user_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Session-scoped table handles: the (lazy, immutable) DataFrame for a
    given (sf_dir, table) is built once per session and reused — the
    per-open costs (parquet footer/schema read, file listing, the events
    dtype probe below) are catalog work a serving process does once, not
    per query.  No data or results are cached — the handle is an unexecuted
    plan over the parquet files, re-scanned by every action.  The cache
    lives ON the session object so it dies with the session; callers that
    rewrite a table path mid-session should read it directly instead."""
    cache = getattr(spark, "_tpgs_table_cache", None)
    if cache is None:
        cache = {}
        spark._tpgs_table_cache = cache
    key = (sf_dir, name)
    if key not in cache:
        cache[key] = _load_table(spark, sf_dir, name)
    return cache[key]


def _load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # ts is TIMESTAMP(NANOS) read as long ns (see session.py); normalize
        # to micros TimestampType + keep epoch-ms for the samples model.
        # __ts_raw keeps the UNtouched parquet column: every normalized form
        # is an expression over it, which Spark cannot push to parquet stats;
        # time-window predicates re-stated as literals on __ts_raw reach the
        # scan (row-group/page skipping — the reference's chunk-range pruning,
        # search/materialize.go:319-329).
        df = df.withColumn("__ts_raw", F.col("ts"))
        ts_field = dict(df.dtypes)["ts"]
        if ts_field == "bigint":
            # integer div: ns ≈ 1.7e18 exceeds double's exact range, so
            # float division here would round ±1ms (diverging from DuckDB's
            # truncating epoch_ms oracle)
            df = df.withColumn("ts_ms", F.expr("ts div 1000000")) \
                   .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            if ts_field == "timestamp_ntz":
                # parquet timestamp[us] without isAdjustedToUTC reads as
                # TIMESTAMP_NTZ; values are UTC wall-clock.  Session tz is
                # pinned to UTC (session.py), so the cast reinterprets the
                # same instant — matching DuckDB's epoch_ms() on this file.
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            df = df.withColumn("ts_ms", F.unix_millis("ts"))
    return df


def samples_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) → samples.

    Series identity: __name__ = event_type, user = user_id, shard = user_id%8.
    Catalyst folds element_at(map_from_arrays(...)) back to the underlying
    columns, so matcher filters still push down to the parquet scan.
    """
    e = load_table(spark, sf_dir, "events")
    labels = F.map_from_arrays(
        F.array(F.lit("__name__"), F.lit("shard"), F.lit("user")),
        F.array(
            F.col("event_type"),
            (F.col("user_id") % 8).cast("string"),
            F.col("user_id").cast("string"),
        ),
    )
    return e.select(
        F.col("event_type").alias("__name__"),
        labels.alias("labels"),
        F.col("ts_ms").alias("ts"),
        F.col("value").alias("value"),
        F.col("__ts_raw"),
    )


def scan_splits_estimate(df: DataFrame) -> int:
    """Estimated scan-split count of ``df``'s leaf relations: catalog size
    estimate // maxPartitionBytes (driver-side metadata only, no job).
    Raises when the stats probe is unavailable — callers choose their own
    safe default.  Leaves without real statistics (in-memory relations,
    ExistingRDD scans) report the defaultSizeInBytes SENTINEL, Long.MaxValue
    by default — that is "unknown", not "huge" (feeding it onward once
    produced repartition(6.8e10), overflowing the Java int signature), so
    any leaf at or above the sentinel raises too."""
    spark = df.sparkSession
    max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    sizes = [int(str(leaves.apply(i).stats().sizeInBytes()))
             for i in range(leaves.size())]
    if any(s >= 2 ** 60 for s in sizes):
        raise ValueError("leaf statistics unavailable (sentinel size)")
    return int(sum(sizes) // max_split)


def hash_parallelism(df: DataFrame) -> int:
    """Explicit partition count for a CPU-bound stage over byte-small rows
    (per-shingle hashing, per-pair cosine), where AQE's size-based
    coalescing would undershoot badly.  Scale-adaptive: max(cluster cores,
    estimated input splits) — a few-split local input spreads across the
    cores, while a 100 TB input keeps input-proportional parallelism
    instead of being pinned to the core count.  Falls back to the core
    count when the stats probe fails."""
    par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    try:
        return max(par, scan_splits_estimate(df))
    except Exception:
        return par


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin-repartition ``df`` to cluster parallelism ONLY when its
    scan is too small to fill the cores (estimated splits < parallelism).
    Uses the leaf relations' catalog size estimate (driver-side, no job).
    For CPU-bound per-row operators (text quality/repetition signals, the
    7× hopping-window explode, all-pairs joins) a few-split local input
    would otherwise run single-task; a many-split 100 TB input skips the
    repartition — an unconditional one would be a full wasted shuffle of
    the fact table.

    Filters that Catalyst infers downstream (``isnotnull`` of a join or
    filter input) are pushed through the round-robin into the SCAN task,
    below the spread.  A heavy expression that such a filter can reach
    then runs single-task again, once per inference — so callers keep
    heavy derived columns non-nullable (e.g. ``coalesce(size(x), 0)``)
    or compute them above this call."""
    spark = df.sparkSession
    par = max(spark.sparkContext.defaultParallelism, 1)
    try:
        if scan_splits_estimate(df) >= par:
            return df
    except Exception:
        # Stats probe failed: do NOTHING.  The function exists to fix a
        # small-scan corner; an unknown scan may be the 100 TB fact table,
        # where the repartition is a full wasted shuffle — the no-op is the
        # safe default at scale (a local few-split scan merely stays
        # unspread, costing parallelism, not a data move).
        return df
    return df.repartition(par)


def pushable_ts_window(df: DataFrame, min_ms: int, max_ms: int):
    """Predicate on the carried-through raw parquet column ``__ts_raw``
    equivalent to the derived epoch-ms ``ts`` lying in [min_ms, max_ms] —
    exact, not a superset: ms = floor(instant), so ``ms >= m ⇔ instant >=
    m`` and ``ms <= M ⇔ instant < M+1`` (same for the nanosAsLong integer
    div).  Unlike the expression-based ms filter this comparison is a bare
    column vs literal, so the parquet reader pushes it to row-group/page
    stats.  NULL-tolerant (unioned synthetic rows pass).  Returns None when
    the frame carries no raw column."""
    if "__ts_raw" not in df.columns:
        return None
    raw_t = dict(df.dtypes)["__ts_raw"]
    if raw_t == "bigint":  # nanosAsLong read
        in_win = ((F.col("__ts_raw") >= min_ms * 1_000_000)
                  & (F.col("__ts_raw") < (max_ms + 1) * 1_000_000))
    elif raw_t in ("timestamp", "timestamp_ntz"):
        lo = F.timestamp_micros(F.lit(min_ms * 1000)).cast(raw_t)
        hi = F.timestamp_micros(F.lit((max_ms + 1) * 1000)).cast(raw_t)
        in_win = (F.col("__ts_raw") >= lo) & (F.col("__ts_raw") < hi)
    else:
        return None
    return F.col("__ts_raw").isNull() | in_win


# DuckDB-side equivalent of samples_from_events for oracle SQL (keys sorted:
# __name__ < shard < user — must match canonical_sig ordering).
SAMPLES_ORACLE_CTE = """
samples AS (
    SELECT event_type AS name,
           CAST(user_id % 8 AS VARCHAR) AS shard,
           CAST(user_id AS VARCHAR) AS "user",
           epoch_ms(ts) AS ts,
           value
    FROM events
)
"""
