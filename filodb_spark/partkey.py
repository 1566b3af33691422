"""Materialized part-key (series-dimension) table.

The reference answers the metadata endpoints (/api/v1/labels,
/api/v1/label/{l}/values, /api/v1/series, label & TS cardinality) from
the per-shard part-key index in O(series), never touching sample data:
PartKeyLuceneIndex.scala:329-465 (labelNames/labelValuesEfficient,
startTime/endTime postings) served through
MetadataExecPlan.scala:334-640. A raw-sample scan for `label_values`
(Grafana autocomplete — the hottest metadata path) would read every
row-group's labels column across the retention window at 100 TB.

The Spark analog is a compacted series-dimension table: ONE ROW PER
CANONICAL SERIES carrying the labels map, first/last sample timestamps
and the sample count — partitioned by the shard-key labels like the
data table, so label filters still prune directories. Metadata queries
(filodb_spark.metadata), TsCardinality, and the plan-time limit
estimator (PromQLEngine.estimate_time_series_scanned) read THIS table
when it is attached to the TsStore; the raw sample table is then only
touched by data queries.

Time-range semantics match the reference index, not the sample scan: a
series is "in range" when its [first_ts, last_ts] span OVERLAPS the
queried range (startTime/endTime posting filter,
PartKeyLuceneIndex.scala:418-447) — the index can report a series whose
span covers a range even if no individual sample falls inside it. The
sample-scan fallback (no partkey table attached) keeps exact
sample-presence semantics.

Maintenance mirrors the reference's index lifecycle (ingest-time upsert
+ periodic commit): `append_partkey_updates` folds a new batch of
samples in as per-series delta rows (cheap, append-only);
`read_partkey_table` merges deltas on read (an O(series) aggregate);
`compact_partkey_table` rewrites the merged view so reads stay one row
per series. A streaming twin (`streaming_partkey`) runs the same upsert
per micro-batch via foreachBatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filodb_spark.kernels.binary import canonical_labels
from filodb_spark.sources.table import SHARD_KEY_LABELS

PARTKEY_COLS = ("labels", "_sk", "first_ts", "last_ts", "samples")


def partkey_from_store(store) -> DataFrame:
    """Part-key rows over EVERY table a TsStore mounts (gauge +
    histogram + any downsample tables) — the reference keeps one index
    per shard regardless of schema, and the downsample cluster keeps
    its OWN part-key index over the downsample dataset
    (DownsampledTimeSeriesShard.scala:96) so long-range metadata stays
    O(series). Folding the DS tables in here gives the single attached
    index the union of both clusters' spans: a series that stopped
    emitting before raw retention keeps its full [first_ts, last_ts]
    posting. Use this instead of partkey_from_samples(store.df)
    whenever the store carries more than the gauge table.

    The DS tables extend only the SPANS: their rows are derived from
    (a subset of) the raw rows, so counting them into `samples` would
    double-count every live series. Spans merge per key; `samples`
    stays the raw-side count, except for a retired series with no raw
    rows left, whose DS row count stands in (a lower bound on the
    samples it once had)."""
    df = store.df.select("labels", "ts")
    if store.hist_df is not None:
        df = df.unionByName(store.hist_df.select("labels", "ts"))
    pk = partkey_from_samples(df)
    ds_frames = [t.select("labels", "ts")
                 for t in (store.ds_df, store.ds_counter_df,
                           store.ds_hist_df) if t is not None]
    if not ds_frames:
        return pk
    ds = ds_frames[0]
    for f in ds_frames[1:]:
        ds = ds.unionByName(f)
    return merge_raw_ds_partkeys(pk, partkey_from_samples(ds))


def merge_raw_ds_partkeys(pk: DataFrame, ds_pk: DataFrame) -> DataFrame:
    """Full-outer span merge of a raw-side part-key frame with a
    DS-side one: spans take min/max across both, `samples` stays the
    raw-side count (DS rows are derived from raw rows — counting them
    would double-count every live series), falling back to the DS count
    only for retired series with no raw rows left."""
    ds_pk = ds_pk.select(
        F.col("_sk"), F.col("labels").alias("_d_labels"),
        F.col("first_ts").alias("_d_first"),
        F.col("last_ts").alias("_d_last"),
        F.col("samples").alias("_d_samples"))
    return (pk.join(ds_pk, "_sk", "full_outer")
            .select(
                F.coalesce("labels", "_d_labels").alias("labels"),
                F.col("_sk"),
                F.coalesce(F.least("first_ts", "_d_first"),
                           "first_ts", "_d_first").alias("first_ts"),
                F.coalesce(F.greatest("last_ts", "_d_last"),
                           "last_ts", "_d_last").alias("last_ts"),
                F.coalesce("samples", "_d_samples").alias("samples"))
            .select(*PARTKEY_COLS))


def partkey_from_samples(df: DataFrame) -> DataFrame:
    """Aggregate a samples frame (labels, ts, ...) to one row per
    canonical series: (labels, _sk, first_ts, last_ts, samples).

    One hash aggregation keyed by the canonical series key — map-side
    partial aggregation collapses each input partition to its distinct
    series before the shuffle, so the exchange carries O(series) rows,
    not O(samples)."""
    return (df
            .withColumn("_sk", canonical_labels(F.col("labels")))
            .groupBy("_sk")
            .agg(F.first("labels").alias("labels"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts"),
                 F.count(F.lit(1)).alias("samples"))
            .select(*PARTKEY_COLS))


def _with_shard_cols(pk: DataFrame,
                     shard_labels: tuple[str, ...]) -> DataFrame:
    out = pk
    for lab in shard_labels:
        out = out.withColumn(lab, F.coalesce(F.col("labels")[lab],
                                             F.lit("__none__")))
    return out


MANIFEST_FILE = "_filodb_partkey_manifest.json"


def write_partkey_table(samples_df: DataFrame, path: str,
                        shard_labels: tuple[str, ...] = SHARD_KEY_LABELS,
                        mode: str = "overwrite",
                        covers_ds: bool | None = None,
                        ds_samples_df: DataFrame | None = None) -> None:
    """Build the part-key table from a samples frame and write it
    partitioned by the shard-key labels (same physical sharding as
    write_series_table, so a `_ws_`/`_ns_` filter prunes directories
    on both tables). Rows are sorted by (_metric, _sk) within files
    for row-group min/max skipping on metric-scoped metadata lookups.

    covers_ds: provenance flag recorded in the table's manifest
    (`_filodb_partkey_manifest.json`, underscore-prefixed so Spark
    readers skip it): True when the input samples included the
    downsample tables' rows, so the index's spans cover the DS
    retention. Metadata over a DS-mounted store only trusts the index
    for pre-retention ranges when this is True — a raw-only index
    would silently miss retired series there (the same silent-empty
    class as the r9 gauge-only-index/hist fix).

    ds_samples_df: downsample-table rows. Pass these HERE instead of
    unioning them into samples_df — DS rows are derived from raw rows,
    so a plain union double-counts every live series' `samples`
    (which feeds the window plan's scrape-interval estimate). Spans
    merge per key; `samples` stays raw-side, like partkey_from_store.
    Implies covers_ds=True unless overridden."""
    merged = partkey_from_samples(samples_df)
    if ds_samples_df is not None:
        merged = merge_raw_ds_partkeys(
            merged, partkey_from_samples(ds_samples_df))
        if covers_ds is None:
            covers_ds = True
    pk = _with_shard_cols(merged, shard_labels)
    pk = pk.withColumn("_metric", F.col("labels")["__name__"])
    (pk.repartition(*[F.col(c) for c in shard_labels])
       .sortWithinPartitions("_metric", "_sk")
       .write.mode(mode).partitionBy(*shard_labels).parquet(path))
    if covers_ds is not None and mode == "overwrite":
        write_partkey_manifest(samples_df.sparkSession, path,
                               {"covers_ds": bool(covers_ds)})


def write_partkey_manifest(spark: SparkSession, path: str,
                           manifest: dict) -> None:
    """Write the manifest through the Hadoop FS API (works on any
    supported filesystem, not just local)."""
    import json as _json

    from filodb_spark.sources.table import hadoop_fs
    fs, Path = hadoop_fs(spark, path)
    out = fs.create(Path(f"{path.rstrip('/')}/{MANIFEST_FILE}"), True)
    try:
        out.write(bytearray(_json.dumps(manifest).encode()))
    finally:
        out.close()


def read_partkey_manifest(spark: SparkSession, path: str) -> dict:
    """Read the manifest; {} when absent (pre-manifest tables)."""
    import json as _json

    from filodb_spark.sources.table import hadoop_fs
    fs, Path = hadoop_fs(spark, path)
    p = Path(f"{path.rstrip('/')}/{MANIFEST_FILE}")
    if not fs.exists(p):
        return {}
    stream = fs.open(p)
    try:
        # bulk read through the JVM (one py4j round-trip), never a
        # per-byte Python loop — this runs on every store open with a
        # part-key mount
        jvm = spark._jvm
        data = bytes(
            jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream))
        return _json.loads(data.decode())
    finally:
        stream.close()


def append_partkey_updates(samples_df: DataFrame, path: str,
                           shard_labels: tuple[str, ...] = SHARD_KEY_LABELS
                           ) -> None:
    """Incremental maintenance: fold a new batch of samples in as
    per-series delta rows (the reference's ingest-time part-key upsert,
    TimeSeriesShard partKey add/update). Append-only — duplicates across
    batches are merged on read / at compaction."""
    write_partkey_table(samples_df, path, shard_labels, mode="append")


def open_partkey_table(spark: SparkSession, path: str) -> DataFrame:
    """Open the part-key table in its RAW on-disk shape: delta rows
    with the physical pruning columns (`_metric` data column,
    `_ws_`/`_ns_` partition columns) still attached. This is what
    TsStore mounts: `select_partkeys` pushes metric/shard-key equality
    matchers onto these columns BEFORE the merge aggregate, so a
    metric-scoped metadata lookup prunes directories and row groups
    instead of aggregating the whole index first (the plan-audit
    finding of r8: filters on a post-aggregate labels map cannot push
    below the merge)."""
    return spark.read.parquet(path)


def merge_partkey_rows(raw: DataFrame) -> DataFrame:
    """Merge delta rows to one row per canonical series (min first_ts /
    max last_ts / summed sample count). Label matchers may be applied
    BEFORE this merge — every delta row of a series carries identical
    labels — while span filters must come after."""
    return (raw.groupBy("_sk")
            .agg(F.first("labels").alias("labels"),
                 F.min("first_ts").alias("first_ts"),
                 F.max("last_ts").alias("last_ts"),
                 F.sum("samples").alias("samples"))
            .select(*PARTKEY_COLS))


def read_partkey_table(spark: SparkSession, path: str) -> DataFrame:
    """Open the part-key table MERGED to one row per canonical series.
    Immediately after build/compaction the merge is a no-op pass over
    O(series) rows. Query-path consumers should mount
    open_partkey_table instead (pushdown-friendly raw shape)."""
    return merge_partkey_rows(open_partkey_table(spark, path))


def checked_rename(fs, path_cls, src: str, dst: str) -> None:
    """Hadoop FileSystem.rename reports failure by RETURN VALUE, not
    exception (dest exists, source missing, ...) — a swap built on
    unchecked renames can silently no-op and then delete the wrong
    directory. Raise so callers' restore handlers actually fire."""
    if not fs.rename(path_cls(src), path_cls(dst)):
        raise IOError(f"rename failed: {src} -> {dst}")


def recover_table_dir(fs, path_cls, path: str, old: str) -> None:
    """Crash-leftover preflight for the two-rename swap: a leftover
    `old` from a prior hard crash is restored to `path` when `path` is
    missing (the crash hit between the two renames — `old` holds the
    ONLY copy) or deleted when `path` exists (the crash hit after the
    second rename — `old` is stale). Run BEFORE reading `path`."""
    if fs.exists(path_cls(old)):
        if fs.exists(path_cls(path)):
            fs.delete(path_cls(old), True)
        else:
            checked_rename(fs, path_cls, old, path)


def swap_table_dir(fs, path_cls, tmp: str, path: str, old: str) -> None:
    """Install `tmp` at `path` via the two-rename swap (checked
    renames + leftover preflight). Callers wrap in try/except and
    restore `old` -> `path` on failure."""
    recover_table_dir(fs, path_cls, path, old)
    checked_rename(fs, path_cls, path, old)
    checked_rename(fs, path_cls, tmp, path)
    fs.delete(path_cls(old), True)


def compact_partkey_table(spark: SparkSession, path: str,
                          shard_labels: tuple[str, ...] = SHARD_KEY_LABELS
                          ) -> None:
    """Rewrite the table with all delta rows merged — the reference's
    periodic index commit/refresh. Writes to a sibling temp dir then
    swaps via the Hadoop FileSystem API (filesystem-agnostic, like
    expire_partitions). NOTE: the two-rename swap is not atomic — a
    reader racing the swap can momentarily see no table (run compaction
    in the same maintenance window as the reference's index refresh);
    on failure the old table is restored before the temp is cleaned, so
    a crash never strands the path empty."""
    from filodb_spark.sources.table import hadoop_fs
    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__compact_old"
    fs, Path = hadoop_fs(spark, path)
    # BEFORE reading: recover a leftover __compact_old from a prior
    # hard crash (it may hold the only copy of the table)
    recover_table_dir(fs, Path, path, old)
    manifest = read_partkey_manifest(spark, path)   # survives the swap
    merged = _with_shard_cols(read_partkey_table(spark, path), shard_labels)
    merged = merged.withColumn("_metric", F.col("labels")["__name__"])
    try:
        (merged.repartition(*[F.col(c) for c in shard_labels])
               .sortWithinPartitions("_metric", "_sk")
               .write.mode("overwrite").partitionBy(*shard_labels)
               .parquet(tmp))
        # into TMP, so the swap installs table+manifest as one rename
        # (a post-swap manifest write that failed would leave a
        # manifestless table installed with no way to restore)
        if manifest:
            write_partkey_manifest(spark, tmp, manifest)
        swap_table_dir(fs, Path, tmp, path, old)
    except BaseException:
        # restore: if the first rename happened but the second did not,
        # put the original table back BEFORE deleting the merged temp —
        # never leave nothing at `path`
        if not fs.exists(Path(path)) and fs.exists(Path(old)):
            checked_rename(fs, Path, old, path)
        fs.delete(Path(tmp), True)
        raise


def streaming_partkey(stream_df: DataFrame, path: str,
                      checkpoint: str,
                      shard_labels: tuple[str, ...] = SHARD_KEY_LABELS):
    """Streaming maintenance twin: per micro-batch, upsert the batch's
    series spans as delta rows (foreachBatch — the sink is a batch
    append, exactly `append_partkey_updates`). Run
    `compact_partkey_table` on whatever cadence bounds the delta-row
    count; readers are correct either way."""

    def _upsert(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_partkey_updates(batch_df, path, shard_labels)

    return (stream_df.writeStream
            .foreachBatch(_upsert)
            .option("checkpointLocation", checkpoint)
            .outputMode("append"))
