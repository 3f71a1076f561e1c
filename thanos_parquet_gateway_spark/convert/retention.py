"""Retention: two-phase partition expiry.

Reference semantics (locate/deletion.go:22-169): day-partitions older than the
retention window are first *marked* (deletion-marker sidecar), and physically
deleted only after a consistency delay — so in-flight readers finish.  Spark
analogue: a manifest column `deleted_at`, then a partition-directory drop.

All marker/delete I/O goes through the Hadoop FileSystem API (fsio) so the
two-phase protocol works wherever the table lives (file:, s3a:, gs:, ...) —
the reference does the same through its bucket client.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thanos_parquet_gateway_spark.convert import fsio
from thanos_parquet_gateway_spark.convert.convert import write_label_stats

CONSISTENCY_DELAY_MS = 12 * 3600 * 1000  # reference: 12h (locate/deletion.go)


def mark_for_deletion(manifest: DataFrame, retention_days: int,
                      now_ms: int, table_path: str | None = None,
                      reason: str = "retention") -> DataFrame:
    """Phase 1: mark (stream, date) rows older than retention.  With
    ``table_path``, additionally drop the reference's deletion-marker
    sidecar (metapb.DeletionMark wire format, locate/deletion.go:140-169)
    into each marked block dir so external tooling sees the same signal the
    manifest column carries."""
    cutoff = F.date_format(
        F.timestamp_millis(F.lit(now_ms) - F.lit(retention_days * 86_400_000)),
        "yyyy-MM-dd")
    marked = manifest.withColumn(
        "deleted_at",
        F.when(F.col("date") < cutoff,
               F.coalesce(F.col("deleted_at") if "deleted_at" in manifest.columns
                          else F.lit(None).cast("long"), F.lit(now_ms))))
    if table_path is not None:
        from thanos_parquet_gateway_spark.convert import sidecar_pb
        spark = manifest.sparkSession
        rows = (marked.filter(F.col("deleted_at").isNotNull())
                .select("stream", "date").collect())
        payload = sidecar_pb.encode_deletion_mark(reason)
        for r in rows:
            d = fsio.join(table_path, f"stream={r['stream']}",
                          f"date={r['date']}")
            if fsio.is_dir(d, spark):
                fsio.write_bytes(
                    fsio.join(d, sidecar_pb.DELETION_MARKER_FILE),
                    payload, spark)
    return marked


def deletion_marked(table_path: str, spark=None) -> list[tuple[str, str]]:
    """Discovery-side marker scan (reference DeletionMarkerFilter
    .ShouldUnload, locate/deletion.go:26-47): (stream, date) pairs whose
    block dir carries a deletion marker."""
    from thanos_parquet_gateway_spark.convert import sidecar_pb
    out = []
    for uri in fsio.glob(
            fsio.join(table_path,
                      f"stream=*/date=*/{sidecar_pb.DELETION_MARKER_FILE}"),
            spark):
        date_dir = fsio.parent(uri, spark)
        stream_dir = fsio.parent(date_dir, spark)
        out.append((stream_dir.rsplit("=", 1)[1],
                    date_dir.rsplit("=", 1)[1]))
    return sorted(out)


def apply_retention(marked_manifest: DataFrame, table_path: str,
                    now_ms: int | None = None,
                    consistency_delay_ms: int = CONSISTENCY_DELAY_MS) -> list[str]:
    """Phase 2: physically drop partitions whose marker is older than the
    consistency delay, then rewrite the label stats so unconstrained
    metadata stops naming the dropped days.  Returns the deleted partition
    dirs.  Driver-side control-plane work on a small manifest — same shape
    as the reference's bucket iteration (locate/deletion.go:105-169)."""
    now_ms = now_ms or int(time.time() * 1000)
    spark = marked_manifest.sparkSession
    rows = (marked_manifest
            .filter(F.col("deleted_at").isNotNull() &
                    (F.col("deleted_at") <= now_ms - consistency_delay_ms))
            .select("stream", "date").collect())
    deleted = []
    for r in rows:
        part = fsio.join(table_path, f"stream={r['stream']}",
                         f"date={r['date']}")
        if fsio.exists(part, spark) and fsio.delete(part, True, spark):
            deleted.append(part)
    if deleted:
        write_label_stats(spark, table_path)
    return deleted
