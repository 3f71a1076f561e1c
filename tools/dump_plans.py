"""Dump .explain('formatted') for every bench query — plus the tracked
non-bench production paths (subquery rate, native-histogram
rate/irate/resets and sum/last_over_time, @-anchored rate) — to <out_dir>/<name>_<tag>.txt.

Usage: python tools/dump_plans.py <out_dir> <tag> [query ...]
Tag is e.g. 'before' or 'after'.  With no query names, dumps everything;
a name that is not a bench query dumps that plans/entry_queries.py entry.
Bench entries build the same DataFrames as bench.py's make_benches(), so
the plans are exactly what the bench times.  The corpus is
$SPARK_GRAFT_SF_DIR (by default the sf0.1 testdata).
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout


def _hist_df(spark, sf_dir, query):
    """``query`` over native-histogram samples in PRODUCTION mode — the
    same per-user daily cumulative histograms (``lat_hist``) the
    promql_native_rate registry entry builds, evaluated with
    deterministic=False so the dumped plan is the production
    histogram-window path."""
    from pyspark.sql import functions as F

    from thanos_parquet_gateway_spark.plans import entry_queries as EQ
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from thanos_parquet_gateway_spark.promql import histograms as H
    from thanos_parquet_gateway_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    ev = (e.filter((F.col("event_type") == "click") & (F.col("value") > 0) &
                   (F.col("ts_ms") <= EQ._NR_T))
          .select(F.col("user_id"), F.col("value"), F.col("ts_ms")))
    days = spark.createDataFrame([(t,) for t in EQ._NR_DAYS], "sts long")
    grid = ev.select("user_id").distinct().crossJoin(F.broadcast(days))
    j = grid.join(ev.withColumnRenamed("user_id", "uid"),
                  (F.col("uid") == F.col("user_id")) &
                  (F.col("ts_ms") <= F.col("sts")), "left")
    cnt_if = lambda c: F.count(F.when(c, 1)).cast("double")  # noqa: E731
    stats = j.groupBy("user_id", "sts").agg(
        F.count("value").cast("double").alias("cnt"),
        F.coalesce(F.sum(F.col("value").cast(EQ._DEC)),
                   F.lit(0).cast(EQ._DEC)).cast("double").alias("total"),
        cnt_if(F.col("value") <= 5).alias("b5"),
        cnt_if((F.col("value") > 5) & (F.col("value") <= 10)).alias("b10"),
        cnt_if(F.col("value") > 10).alias("binf"))
    buckets = F.array(*[
        F.struct(F.lit(le).alias("le"), F.col(c).alias("count"))
        for le, c in [(5.0, "b5"), (10.0, "b10"), (float("inf"), "binf")]])
    samples = stats.select(
        F.lit("lat_hist").alias("__name__"),
        F.map_from_arrays(
            F.array(F.lit("__name__"), F.lit("user")),
            F.array(F.lit("lat_hist"),
                    F.col("user_id").cast("string"))).alias("labels"),
        F.col("sts").alias("ts"),
        F.lit(float("nan")).alias("value"),
        H.make_hist(F.col("cnt"), F.col("total"), buckets).alias("hist"))
    eng = PromQLEngine(samples, lookback_ms=60_000, deterministic=False)
    return eng.query_instant(query, EQ._NR_T).df


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, tag, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.makedirs(out_dir, exist_ok=True)

    sys.path.insert(0, here)
    from pyspark.sql import functions as F

    from thanos_parquet_gateway_spark import get_spark
    from thanos_parquet_gateway_spark.operators import dedup, similarity
    from thanos_parquet_gateway_spark.plans import entry_queries as EQ
    from thanos_parquet_gateway_spark.promql import PromQLEngine
    from thanos_parquet_gateway_spark.sources import samples_from_events
    from thanos_parquet_gateway_spark.sources.tables import load_table

    spark = get_spark("dump-plans")
    eng = PromQLEngine(samples_from_events(spark, sf_dir),
                       lookback_ms=EQ.LOOKBACK, deterministic=False)

    dfs = {
        "promql_instant_sum": lambda: eng.query_instant(
            "sum by (shard) (click)", EQ.T).df,
        "promql_range_rate": lambda: eng.query_range(
            "rate(click[2d])", EQ.R_START, EQ.R_END, EQ.STEP).df,
        "promql_range_agg": lambda: eng.query_range(
            "sum by (shard) (count_over_time(click[1d]))",
            EQ.R_START, EQ.R_END, EQ.STEP).df,
        "promql_topk_binop": lambda: eng.query_instant(
            "topk(5, count_over_time(click[7d]) / on(user) "
            "count_over_time(view[7d]))", EQ.T).df,
        "tpch_q1": lambda: EQ.QUERIES["tpch_q1_pricing"](spark, sf_dir),
        "tpch_q3": lambda: EQ.QUERIES["tpch_q3_shipping"](spark, sf_dir),
        "tpch_q5": lambda: EQ.QUERIES["tpch_q5_region_revenue"](spark, sf_dir),
        "dedup_lsh": lambda: dedup.lsh_candidate_pairs(
            load_table(spark, sf_dir, "documents")),
        "sim_topk": lambda: similarity.brute_force_topk(
            load_table(spark, sf_dir, "embeddings"),
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < 3)
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("query_vec")), k=5),
        "sim_lsh_topk": lambda: EQ.QUERIES["sim_lsh_topk"](spark, sf_dir),
        "events_sessionize": lambda: EQ.QUERIES["events_sessionize"](spark, sf_dir),
        "events_hopping": lambda: EQ.QUERIES["events_hopping_window"](spark, sf_dir),
        # tracked non-bench paths (production mode, like the bench engine)
        "promql_subquery_rate": lambda: eng.query_range(
            "rate(click[2d:2h])", EQ.R_START, EQ.R_END, EQ.STEP).df,
        "promql_hist_rate": lambda: _hist_df(
            spark, sf_dir, "rate(lat_hist[4d])"),
        "promql_hist_irate": lambda: _hist_df(
            spark, sf_dir, "irate(lat_hist[4d])"),
        "promql_hist_resets": lambda: _hist_df(
            spark, sf_dir, "resets(lat_hist[4d])"),
        "promql_hist_sum_over_time": lambda: _hist_df(
            spark, sf_dir, "sum_over_time(lat_hist[4d])"),
        "promql_hist_last_over_time": lambda: _hist_df(
            spark, sf_dir, "last_over_time(lat_hist[4d])"),
        "promql_at_rate": lambda: eng.query_range(
            f"rate(click[2d] @ {EQ.R_END // 1000})",
            EQ.R_START, EQ.R_END, EQ.STEP).df,
    }

    for name in only - dfs.keys():  # any registry entry, by name
        dfs[name] = lambda name=name: EQ.QUERIES[name](spark, sf_dir)
    for name, mk in dfs.items():
        if only and name not in only:
            continue
        df = mk()
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
