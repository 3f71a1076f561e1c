"""Conversion: raw samples → day/stream-partitioned, sorted samples parquet.

The reference's convert pipeline (reference convert/convert.go:185-258) is a
hand-built loser-tree merge → shard split → dedup → twin-file sorted parquet
write streamed to a bucket.  In Spark the whole thing is ONE declarative job
(SURVEY.md §3.3):

    raw → derive(date, series_hash) → dropDuplicates(series, ts)
        → repartitionByRange(date, __name__, series_hash)
        → sortWithinPartitions(__name__, series_hash, ts)
        → write.partitionBy(stream, date)

- day partitioning ≡ the reference's one-block-per-UTC-day model
  (db/db.go:29-31, internal/util/date.go:33-39)
- sort by (__name__, series_hash, ts) ≡ sorting columns + bloom filters
  (convert/convert.go:102-111,196): gives Parquet page min/max skipping on
  the name column, which is what the reference's binary-search-on-sorted
  pages achieves (search/constraint.go:218-243)
- dedup at conversion ≡ chunk-overlap dedup otherwise paid per query
  (db/iterator.go:103-121; SURVEY.md §7.3)
- maxRecordsPerFile ≡ shard/row-group sizing (convert/convert.go:193-204)
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from thanos_parquet_gateway_spark.convert import fsio, sidecar_pb
from thanos_parquet_gateway_spark.schema import canonical_sig

SCHEMA_VERSION = 2  # reference schema.V2 (schema/schema.go)

SORT_COLS = ["__name__", "series_hash", "ts"]


def prepare_samples(raw: DataFrame, stream: str = "0") -> DataFrame:
    """Derive the physical columns: series_hash, date partition, stream."""
    df = raw
    if "__ts_raw" in df.columns:
        # raw-scan pushdown helper (sources/tables.py); the converted layout
        # gets pruning from the date partition + ms-typed ts stats instead
        df = df.drop("__ts_raw")
    if "__name__" not in df.columns:
        df = df.withColumn("__name__",
                           F.coalesce(F.element_at("labels", "__name__"), F.lit("")))
    if "series_hash" not in df.columns:
        df = df.withColumn("series_hash", F.xxhash64(canonical_sig("labels")))
    df = df.withColumn("date", F.date_format(
        F.timestamp_millis(F.col("ts")), "yyyy-MM-dd"))
    if "stream" not in df.columns:
        df = df.withColumn("stream", F.lit(stream))
    return df


def _sorted_partitioned_write(df: DataFrame, out_path: str,
                              max_records_per_file: int) -> None:
    """The one conversion write shape (reference convert/convert.go:193-204
    + schema/schema.go:99-106): partition columns lead the sort so the
    parquet writer sees rows already clustered by (stream, date) and does
    NOT inject its own partition sort (which would destroy the (__name__,
    series_hash, ts) page ordering); zstd-compressed pages, ~1M-row row
    groups x 6 per shard (= the 6M default maxRecordsPerFile), a bloom
    filter on ``__name__`` (no query predicate tests ``series_hash``
    equality, so it carries none).  parquet.block.size is bytes in Spark:
    128 MiB aligns row-group boundaries with maxPartitionBytes so a scan
    task reads whole row groups at 100 TB."""
    (df.repartitionByRange("stream", "date", "__name__", "series_hash")
       .sortWithinPartitions("stream", "date", *SORT_COLS)
       .write.mode("overwrite")
       .option("maxRecordsPerFile", max_records_per_file)
       .option("compression", "zstd")
       .option("parquet.block.size", str(128 * 1024 * 1024))
       .option("parquet.bloom.filter.enabled#__name__", "true")
       .partitionBy("stream", "date")
       .parquet(out_path))


def convert_samples(raw: DataFrame, out_path: str, *,
                    stream: str = "0",
                    max_records_per_file: int = 6_000_000,
                    dedup: bool = True) -> DataFrame:
    """Write one stream without external labels: `convert_streams` with a
    single input.  Returns the whole table's per-(stream, date) manifest."""
    return convert_streams({stream: raw}, out_path, ext_labels={},
                           max_records_per_file=max_records_per_file,
                           dedup=dedup)


def write_block_sidecars(spark, out_path: str, manifest_rows) -> None:
    """meta.pb per (stream, date) block dir, byte-compatible with the
    reference's metadata sidecar (convert/convert.go:273-302): version V2,
    the DAY's [mint, maxt) bounds (not the data extremes — reference
    day.MinT/MaxT), and the block's data-file shard count.  One driver-side
    file listing serves every block."""
    import datetime as _dt
    from collections import Counter

    # inputFiles() returns qualified URIs; qualify the manifest-derived
    # block dirs the same way so the shard counts key consistently on
    # file:, s3a:, gs:, ... (fsio docstring — this used to strip a
    # hardcoded "file:" prefix and was local-FS-only)
    shard_count: Counter = Counter()
    for f in spark.read.parquet(out_path).inputFiles():
        shard_count[fsio.parent(f, spark)] += 1
    for r in manifest_rows:
        d = fsio.join(out_path, f"stream={r['stream']}", f"date={r['date']}")
        dq = fsio.qualified(d, spark)
        day0 = int(_dt.datetime.strptime(r["date"], "%Y-%m-%d")
                   .replace(tzinfo=_dt.timezone.utc).timestamp() * 1000)
        meta = sidecar_pb.encode_metadata(
            mint=day0, maxt=day0 + 86_400_000,
            shards=shard_count.get(dq, 0), version=SCHEMA_VERSION)
        if fsio.is_dir(d, spark):
            fsio.write_bytes(fsio.join(d, sidecar_pb.META_FILE), meta, spark)


def refresh_sidecars(spark, out_path: str) -> DataFrame:
    """The finish step of every conversion, batch or streaming: rewrite the
    label stats, then materialize the whole table's manifest ONCE
    (driver-side, one small row per (stream, date)), write the per-block
    meta sidecars from it, and hand the caller an already-computed manifest
    frame (the reference's polling convert cycle re-writes meta.pb each
    round, cmd/convert.go:199-228)."""
    write_label_stats(spark, out_path)
    manifest = _manifest_from_written(spark, out_path)
    rows = manifest.collect()
    write_block_sidecars(spark, out_path, rows)
    return spark.createDataFrame(rows, manifest.schema)


def read_block_meta(out_path: str, stream: str, date: str,
                    spark=None) -> dict:
    p = fsio.join(out_path, f"stream={stream}", f"date={date}",
                  sidecar_pb.META_FILE)
    return sidecar_pb.decode_metadata(fsio.read_bytes(p, spark))


def _manifest_from_written(spark, out_path: str) -> DataFrame:
    """Per-(stream, date) manifest aggregated from the WRITTEN table, not
    from the input plan: re-aggregating the input would make a second full
    pass over the raw source (and re-run the dedup shuffle) — at 100 TB that
    doubles conversion input I/O.  The read-back scans only (ts, series_hash)
    of the compacted output, with stream/date coming from directory names
    (partition pruning metadata, no data read for them)."""
    written = spark.read.parquet(out_path)
    # partition-column type inference may read stream/date back as int/date;
    # the manifest contract is strings, matching the pre-write derivation
    return (written.groupBy(
                F.col("stream").cast("string").alias("stream"),
                F.date_format("date", "yyyy-MM-dd").alias("date"))
            .agg(F.min("ts").alias("mint"), F.max("ts").alias("maxt"),
                 F.count("*").alias("n_samples"),
                 F.approx_count_distinct("series_hash").alias("n_series_approx")))


def write_manifest(manifest: DataFrame, out_path: str) -> None:
    (manifest.coalesce(1).write.mode("overwrite")
     .parquet(f"{out_path}/_manifest"))


def read_manifest(spark, out_path: str) -> DataFrame | None:
    """The stored manifest; None before the first ``cli convert``."""
    path = fsio.join(out_path, "_manifest")
    return spark.read.parquet(path) if fsio.exists(path, spark) else None


# ------------------------------------------------------------- multi-stream
def convert_streams(raws: dict[str, DataFrame], out_path: str, *,
                    ext_labels: dict[str, dict[str, str]],
                    max_records_per_file: int = 6_000_000,
                    dedup: bool = True) -> DataFrame:
    """Convert several streams (distinct external-label sets) into ONE
    partitioned layout; the one conversion body.  Returns the whole table's
    per-(stream, date) manifest (the reference's meta.pb,
    convert/convert.go:273-302).

    The reference keeps one bucket prefix per ExternalLabelsHash with a
    stream descriptor file beside the blocks (locate/discover.go:125-305,
    schema/block.go:37-76).  Spark-first equivalent: union the streams with
    their ``stream`` partition value and run the SAME single conversion job —
    `partitionBy("stream", "date")` gives the per-stream prefixes, each
    stream named in ``ext_labels`` gets its ``stream=<s>/_stream.pb``
    descriptor, and `refresh_sidecars` finishes.  ONE repartitionByRange
    carries both the partitioning and the sort prefix, so the subsequent
    sortWithinPartitions is shuffle-free.
    """
    prepared = [prepare_samples(df, stream=s) for s, df in sorted(raws.items())]
    if dedup:
        # vertical-merge dedup within each stream (reference
        # convert/merge.go:15-121 → one dropDuplicates).  Per input, so
        # `stream` leaves it as an aggregate, not a literal: Catalyst folds
        # a literal out of the sort, and the partitioned write then
        # re-sorts by (stream, date) alone, losing the page order
        prepared = [d.dropDuplicates(["series_hash", "ts"]) for d in prepared]
    df = prepared[0]
    for d in prepared[1:]:
        df = df.unionByName(d, allowMissingColumns=True)
    _sorted_partitioned_write(df, out_path, max_records_per_file)
    write_stream_descriptors(df.sparkSession, out_path, ext_labels)
    return refresh_sidecars(df.sparkSession, out_path)


def write_label_stats(spark, out_path: str) -> None:
    """Label-stats sidecar: distinct (stream, date, label, value) of the
    written table — the Spark analogue of the reference's dictionary-
    shortcut LabelValues (search/search.go:153-201 reads values straight
    from parquet column dictionaries; SURVEY.md §7.3 maintains the same
    shortcut as a convert-time stats table).  /labels and /label/:name/
    values then touch only this sidecar, never the samples, and the date
    column keeps time-range pruning.  The read names its schema, so the
    partition values stay the directory strings and a table that retention
    emptied yields an empty sidecar."""
    written = (spark.read.schema(
        "labels map<string,string>, stream string, date string")
        .parquet(out_path))
    (written.select("stream", "date",
                    F.explode("labels").alias("label", "value"))
     .distinct()
     .write.mode("overwrite").parquet(f"{out_path}/_label_stats"))


def read_label_stats(spark, out_path: str) -> DataFrame:
    return spark.read.parquet(f"{out_path}/_label_stats")


def write_stream_descriptors(spark, out_path: str,
                             ext_labels: dict[str, dict[str, str]]) -> None:
    """The stream descriptor (reference schema/block.go:37-76): the
    reference's own wire format (streampb.StreamDescriptor,
    convert/convert.go:154) as ``stream=<s>/_stream.pb``, one per stream of
    this call.  Other streams' descriptors stay, like their data."""
    for s, ls in sorted(ext_labels.items()):
        d = fsio.join(out_path, f"stream={s}")
        fsio.mkdirs(d, spark)
        fsio.write_bytes(fsio.join(d, sidecar_pb.STREAM_FILE),
                         sidecar_pb.encode_stream_descriptor(ls), spark)


def read_stream_descriptors(spark, out_path: str) -> dict[str, dict[str, str]]:
    """Discover streams from the descriptor beside each stream's blocks
    (reference Discoverer.Discover, locate/discover.go:125-305): one glob
    and a few hundred bytes per stream; {} when the table has none."""
    return {fsio.parent(uri, spark).rsplit("/stream=", 1)[1]:
            sidecar_pb.decode_stream_descriptor(fsio.read_bytes(uri, spark))
            for uri in fsio.glob(fsio.join(
                out_path, f"stream=*/{sidecar_pb.STREAM_FILE}"), spark)}


def open_table(spark, path: str) -> tuple[
        DataFrame, dict[str, dict[str, str]], DataFrame | None]:
    """The one reader of a converted table, for ``serve`` and ``query``:
    (samples, stream descriptors, label stats).  ``label_stats`` is None
    when the table has no ``_label_stats`` sidecar (a flat samples parquet
    or a streaming conversion before its finish step)."""
    stats = fsio.join(path, "_label_stats")
    return (spark.read.parquet(path), read_stream_descriptors(spark, path),
            read_label_stats(spark, path) if fsio.exists(stats, spark)
            else None)
