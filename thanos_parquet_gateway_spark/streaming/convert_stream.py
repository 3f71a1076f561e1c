"""Incremental conversion via Structured Streaming.

The reference converts on a polling loop (`--convert.run-interval=1h`,
reference cmd/convert.go:86,199-228): discover new TSDB blocks → plan →
convert.  The Spark-native equivalent is a file-source stream: new raw
sample files are discovered by the source, transformed with the SAME
declarative plan as batch conversion, and appended to the partitioned
samples table — checkpointing replaces the reference's planner state, and
``Trigger.AvailableNow`` gives the same batch-drain-then-exit behavior as
one reference convert cycle.

``stream_rollup`` shows the watermarked windowed-aggregation path (late
data handled by watermark instead of the reference's "skip the partial
newest day" heuristic, convert/plan.go:58-74).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from thanos_parquet_gateway_spark.convert.convert import prepare_samples
from thanos_parquet_gateway_spark.schema import canonical_sig

RAW_SCHEMA = T.StructType([
    T.StructField("labels", T.MapType(T.StringType(), T.StringType()), False),
    T.StructField("ts", T.LongType(), False),
    T.StructField("value", T.DoubleType(), False),
])


def stream_convert(spark: SparkSession, in_path: str, out_path: str,
                   checkpoint: str, *, stream: str = "0",
                   available_now: bool = True):
    """Continuously convert raw sample parquet dropped into `in_path` into
    the day-partitioned samples table at `out_path`."""
    df = prepare_samples(spark.readStream.schema(RAW_SCHEMA).parquet(in_path),
                         stream)
    writer = (df.writeStream
              .format("parquet")
              .option("path", out_path)
              .option("checkpointLocation", checkpoint)
              .partitionBy("stream", "date")
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_rollup(spark: SparkSession, in_path: str, out_path: str,
                  checkpoint: str, *, window: str = "1 hour",
                  watermark: str = "2 hours",
                  available_now: bool = True):
    """Watermarked tumbling-window rollup (count/sum per series per window) —
    the streaming analogue of a recording rule; late samples beyond the
    watermark are dropped instead of re-opening finalized windows."""
    raw = spark.readStream.schema(RAW_SCHEMA).parquet(in_path)
    df = (raw
          .withColumn("sig", canonical_sig("labels"))
          .withColumn("event_time", F.timestamp_millis(F.col("ts")))
          .withWatermark("event_time", watermark)
          .groupBy(F.window("event_time", window).alias("w"), F.col("sig"))
          .agg(F.count("*").alias("n_samples"), F.sum("value").alias("sum_value"))
          .select(F.unix_millis(F.col("w.start")).alias("window_start"),
                  "sig", "n_samples", "sum_value"))
    writer = (df.writeStream
              .format("parquet")
              .option("path", out_path)
              .option("checkpointLocation", checkpoint)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("ts", T.LongType(), False),
])


def stream_dedup(spark: SparkSession, in_path: str, out_path: str,
                 checkpoint: str, *, watermark: str = "1 hour",
                 available_now: bool = True):
    """Streaming exact dedup for a document-ingestion pipeline: emit the
    first-seen document per content hash, suppressing re-arrivals within
    the watermark horizon (``dropDuplicatesWithinWatermark`` — state for a
    hash is dropped once the watermark passes it, so state size is bounded
    by the dedup horizon, not the corpus; the batch analogue is
    operators/dedup.exact_dedup, which dedups globally).

    Scale shape: state store is keyed on the 32-hex md5 only; the text
    column rides along to the sink but never enters state comparisons."""
    raw = spark.readStream.schema(DOC_SCHEMA).parquet(in_path)
    df = (raw
          .withColumn("content_hash", F.md5("text"))
          .withColumn("event_time", F.timestamp_millis(F.col("ts")))
          .withWatermark("event_time", watermark)
          .dropDuplicatesWithinWatermark(["content_hash"])
          .select("doc_id", "content_hash", "ts", "text"))
    writer = (df.writeStream
              .format("parquet")
              .option("path", out_path)
              .option("checkpointLocation", checkpoint)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def batch_equivalent_rollup(df: DataFrame, window_ms: int = 3_600_000) -> DataFrame:
    """The batch plan a streaming rollup must agree with (test oracle)."""
    return (df.withColumn("sig", canonical_sig("labels"))
            .groupBy(((F.col("ts") / window_ms).cast("long") * window_ms)
                     .alias("window_start"), "sig")
            .agg(F.count("*").alias("n_samples"), F.sum("value").alias("sum_value")))
