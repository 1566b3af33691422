"""Metadata & cardinality queries (SURVEY §2.9).

Reference endpoints: /api/v1/labels, label values, series, label
cardinality, TS cardinality (LogicalPlan.scala:282-375; exec
MetadataExecPlan.scala:334-640). The reference answers these from the
per-shard part-key index in O(series) — never from samples
(PartKeyLuceneIndex.scala:329-465). Here every endpoint reads per-series
rows from `_series_rows`:

- with a part-key table attached to the store
  (filodb_spark.partkey / TsStore.partkey_df), that is an O(series)
  scan of the compacted series-dimension table with label matchers
  pushed down — the sample table is never touched, matching the
  reference's index path and its span-overlap time-range semantics;
- without one, the fallback aggregates the sample scan to per-series
  rows (exact sample-presence semantics) — fine at small scale,
  O(samples) at 100 TB, which is exactly why the part-key table exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from filodb_spark.kernels.binary import canonical_labels, series_key
from filodb_spark.promql.ast import VectorSelector
from filodb_spark.promql.compiler import TsStore, _key_labels
from filodb_spark.promql.parser import parse


def _selector(match: str | None) -> VectorSelector:
    if not match:
        return VectorSelector(None, ())
    sel = parse(match)
    if not isinstance(sel, VectorSelector):
        raise ValueError("series match must be a plain selector")
    return sel


def _scan_tables(store: TsStore, sel: VectorSelector | None) -> DataFrame:
    """(labels, ts) rows of every schema table one store view mounts,
    matcher-filtered. A metric-less match applies its matchers across
    all schemas (data queries instead resolve to a single schema or
    raise SchemaMismatch — metadata never does)."""
    if sel is not None and not (sel.metric is None
                                and store.hist_df is not None
                                and not any(m.name == "_type_"
                                            for m in sel.matchers)):
        return store.select(sel).select("labels", "ts")
    from filodb_spark.promql.compiler import _apply_label_matchers
    df = store.df.select("labels", "ts")
    if store.hist_df is not None:
        df = df.unionByName(store.hist_df.select("labels", "ts"))
    if sel is not None:
        df = _apply_label_matchers(df, sel.matchers)
    return df


def _ds_scan(store: TsStore, sel: VectorSelector | None) -> DataFrame | None:
    """(labels, ts) rows from every mounted DOWNSAMPLE table. The
    reference's downsample cluster answers metadata from its own
    part-key index (DownsampledTimeSeriesShard.scala:96,132-166); the
    chunkless fallback scans its sample tables instead. The counter
    and histogram DS tables keep the raw schemas, so TsStore.select
    runs verbatim on the ds_view; the ds-GAUGE rewrite table (rollup
    schema) is scoped by TsStore.ds_gauge_select, the selection the
    query path's DS-gauge part uses."""
    frames = []
    view = store.ds_view()
    if view is not None:
        frames.append(_scan_tables(view, sel))
    if store.ds_df is not None:
        df = store.ds_df if sel is None else store.ds_gauge_select(sel)
        frames.append(df.select("labels", "ts"))
    if not frames:
        return None
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _range_needs_ds(store: TsStore, start_ms: int | None) -> bool:
    """Does answering a range starting at start_ms require the
    downsample tables? True when any is mounted and the range reaches
    before the raw-retention boundary (or the boundary/start is
    unknown)."""
    has_ds = (store.ds_df is not None or store.ds_counter_df is not None
              or store.ds_hist_df is not None)
    if not has_ds:
        return False
    boundary = store.raw_retention_start_ms
    return boundary is None or start_ms is None or start_ms < boundary


def _scan(store: TsStore, match: str | None, start_ms: int | None,
          end_ms: int | None) -> DataFrame:
    """Sample-scan fallback (exact sample-presence semantics) over
    every table the store mounts. When downsample tables are mounted
    and the queried range reaches before the raw-retention boundary,
    their rows are unioned in — the LongTimeRangePlanner routes
    metadata queries to the downsample cluster for old ranges the same
    way (a series that stopped emitting before raw retention exists
    only there)."""
    sel = _selector(match) if match else None
    df = _scan_tables(store, sel)
    if _range_needs_ds(store, start_ms):
        ds = _ds_scan(store, sel)
        if ds is not None:
            df = df.unionByName(ds)
    if start_ms is not None:
        df = df.where(F.col("ts") >= start_ms)
    if end_ms is not None:
        df = df.where(F.col("ts") <= end_ms)
    return df


def _series_rows(store: TsStore, match: str | None, start_ms: int | None,
                 end_ms: int | None) -> DataFrame:
    """One row per series in range: (labels, first_ts, last_ts).

    Part-key path: matcher-filtered index rows with the reference's
    span-overlap range filter (a series is in range when
    [first_ts, last_ts] overlaps [start, end] —
    PartKeyLuceneIndex.scala:418-447 startTime/endTime postings).
    Fallback: aggregate the pruned sample scan per series key
    (binary.series_key, the expression a cached TsStore is partitioned
    by, so the aggregation needs no Exchange there) and rebuild the
    labels from the key (compiler._key_labels)."""
    sel = _selector(match)
    pk = store.select_partkeys(sel)
    if pk is not None and _range_needs_ds(store, start_ms) \
            and store.partkey_covers_ds is not True:
        # the attached index was not built over the downsample tables
        # (or its provenance is unknown): for a pre-retention range it
        # would return silently-empty results for retired series —
        # fall back to the scan, which unions the DS tables
        pk = None
    if pk is not None:
        if start_ms is not None:
            pk = pk.where(F.col("last_ts") >= start_ms)
        if end_ms is not None:
            pk = pk.where(F.col("first_ts") <= end_ms)
        return pk.select("labels", "first_ts", "last_ts")
    df = _scan(store, match, start_ms, end_ms)
    return (df.groupBy(series_key(F.col("labels")).alias("_sk"))
            .agg(F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
            .select(_key_labels(), "first_ts", "last_ts"))


def label_names(store: TsStore, match: str | None = None,
                start_ms: int | None = None, end_ms: int | None = None) -> DataFrame:
    """/api/v1/labels (LabelNamesExec; index labelNamesEfficient).
    Part keys physically carry the virtual `_type_` schema label, so
    the labels list includes it whenever any series matched
    (MetadataExecSpec.scala:329-353 expectedLabels)."""
    rows = _series_rows(store, match, start_ms, end_ms)
    keys = F.concat(F.map_keys("labels"), F.array(F.lit("_type_")))
    # a listing is a few thousand rows at most: sort it on one partition
    # (orderBy's range partitioning pays a sampling job and a second
    # Exchange); the order is the same, strings by UTF-8 bytes
    return (rows.select(F.explode(keys).alias("label")).distinct()
            .coalesce(1).sortWithinPartitions("label"))


def label_values(store: TsStore, label: str, match: str | None = None,
                 start_ms: int | None = None, end_ms: int | None = None) -> DataFrame:
    """/api/v1/label/{l}/values (LabelValuesExec; index
    labelValuesEfficient — the Grafana-autocomplete hot path, O(series)
    on the part-key table instead of O(samples)). `_type_` is queryable
    like any stored label (it lives in the reference's part keys)."""
    rows = _series_rows(store, match, start_ms, end_ms)
    value = (store.type_expr(F.col("labels")["__name__"])
             if label == "_type_" else F.col("labels")[label])
    return (rows.select(value.alias("value"))
            .where(F.col("value").isNotNull())
            .distinct().coalesce(1).sortWithinPartitions("value"))


def label_values_multi(store: TsStore, labels: tuple[str, ...],
                       match: str | None = None,
                       start_ms: int | None = None,
                       end_ms: int | None = None) -> DataFrame:
    """Multi-label LabelValuesExec (MetadataExecPlan.scala:367-425,
    TimeSeriesShard.LabelValueResultIterator:693-725): one row per
    DISTINCT combination of the requested labels over the matched
    series — labels a series lacks are omitted from its map (partial
    maps allowed); series carrying none of them are skipped."""
    rows = _series_rows(store, match, start_ms, end_ms)
    m = F.map_filter(
        F.map_from_arrays(
            F.array(*[F.lit(lab) for lab in labels]),
            F.array(*[F.col("labels")[lab] for lab in labels])),
        lambda k, v: v.isNotNull())
    out = rows.select(m.alias("labels")).where(F.size("labels") > 0)
    return (out.withColumn("_ck", canonical_labels(F.col("labels")))
            .dropDuplicates(["_ck"]).select("labels"))


def label_value_freqs(store: TsStore, label: str,
                      match: str | None = None) -> DataFrame:
    """CliMain `indexvalues` parity (CliMain.scala:182-187 — the
    part-key index's (term, freq) listing): each label value with its
    series count, frequency-descending like the index dump."""
    rows = _series_rows(store, match, None, None)
    return (rows.select(F.col("labels")[label].alias("value"))
            .where(F.col("value").isNotNull())
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("freq"))
            .orderBy(F.col("freq").desc(), "value"))


def series(store: TsStore, match: str, start_ms: int | None = None,
           end_ms: int | None = None, with_times: bool = False) -> DataFrame:
    """/api/v1/series (PartKeysExec): distinct label sets with data in
    range, each carrying the virtual `_type_` schema label like the
    reference's part-key maps (MetadataExecSpec.scala:167-190).
    with_times adds `_firstSampleTime_`/`_lastSampleTime_` entries from
    the per-series span (partKeysWithFilters
    fetchFirstLastSampleTimes=true, TimeSeriesShard.scala:1993-2005)."""
    rows = _series_rows(store, match, start_ms, end_ms)
    labels = F.col("labels")
    with_type = F.map_concat(
        labels, F.create_map(F.lit("_type_"),
                             store.type_expr(labels["__name__"])))
    if with_times:
        with_type = F.map_concat(
            with_type,
            F.create_map(F.lit("_firstSampleTime_"),
                         F.col("first_ts").cast("string"),
                         F.lit("_lastSampleTime_"),
                         F.col("last_ts").cast("string")))
    return rows.select(with_type.alias("labels"))


def label_cardinality(store: TsStore, match: str | None = None) -> DataFrame:
    """LabelCardinalityExec — HLL sketches in the reference; Spark's
    approx_count_distinct is the same sketch class, here over
    O(series) part-key rows rather than O(samples). `_type_` is counted
    like any stored label (MetadataExecSpec label-cardinality golden
    includes `_type_ -> 1`)."""
    rows = _series_rows(store, match, None, None)
    with_type = F.map_concat(
        F.col("labels"),
        F.create_map(F.lit("_type_"),
                     store.type_expr(F.col("labels")["__name__"])))
    kv = rows.select(F.explode(with_type).alias("label", "value"))
    return (kv.groupBy("label")
            .agg(F.approx_count_distinct("value").alias("cardinality"))
            .orderBy("label"))


def chunk_meta(spark, table_path: str) -> DataFrame:
    """_filodb_chunkmeta_all analog (SelectChunkInfosExec / FiloFunctionId
    ChunkMetaAll): physical storage metadata — one row per parquet
    row-group with row counts and ts min/max (the engine's "chunks")."""
    import pyarrow.parquet as pq
    import glob as _glob
    import os
    rows = []
    paths = ([table_path] if os.path.isfile(table_path)
             else _glob.glob(os.path.join(table_path, "**", "*.parquet"),
                             recursive=True))
    for p in paths:
        f = pq.ParquetFile(p)
        for rg in range(f.metadata.num_row_groups):
            meta = f.metadata.row_group(rg)
            ts_min = ts_max = None
            for ci in range(meta.num_columns):
                col = meta.column(ci)
                if col.path_in_schema == "ts" and col.statistics is not None:
                    ts_min = col.statistics.min
                    ts_max = col.statistics.max
            rows.append((p, rg, meta.num_rows, meta.total_byte_size,
                         ts_min, ts_max))
    return spark.createDataFrame(
        rows, "file string, row_group int, num_rows long, bytes long, "
              "ts_min long, ts_max long")


def ts_cardinality(store: TsStore, group_labels: tuple[str, ...] = ("__name__",),
                   active_after_ms: int | None = None,
                   match: str | None = None) -> DataFrame:
    """TsCardExec: series counts grouped by shard-key prefixes
    (total + active), optionally restricted by a series selector.
    On part-key rows this is one count aggregation — active = series
    whose last sample is at/after the cutoff (a series has a sample
    with ts >= cutoff iff max(ts) >= cutoff, so the span-based test is
    exact here, matching the index's endTime-based active check)."""
    rows = _series_rows(store, match, None, None)
    keys = [F.col("labels")[g].alias(g) for g in group_labels]
    aggs = [F.count(F.lit(1)).alias("total_series")]
    if active_after_ms is not None:
        aggs.append(F.sum((F.col("last_ts") >= active_after_ms)
                          .cast("long")).alias("active_series"))
    return rows.groupBy(*keys).agg(*aggs)


def topk_cardinality(store: TsStore,
                     group_labels: tuple[str, ...] = ("__name__",),
                     k: int = 10,
                     active_after_ms: int | None = None,
                     match: str | None = None,
                     overflow: bool = False) -> DataFrame:
    """CliMain `topkcardlocal` parity (CliMain.scala:188-207 /
    getTopkCardinality): the k highest-cardinality shard-key groups,
    sorted by total (or active, when an active split is requested)
    series count descending.

    overflow=True folds the groups beyond k into one row whose group
    labels are the reference's `_overflow_` sentinel and whose counts
    SUM the dropped groups (TsCardReduceExec topk capacity +
    CardinalityStore.OVERFLOW_PREFIX, MetadataExecSpec.scala:491-549) —
    the tail is never silently dropped."""
    card = ts_cardinality(store, group_labels, active_after_ms, match)
    order_col = ("active_series" if active_after_ms is not None
                 else "total_series")
    if not overflow:
        return card.orderBy(F.col(order_col).desc(), *group_labels).limit(k)
    # rank over the aggregated (already small: one row per group) frame
    from pyspark.sql import Window
    w = Window.orderBy(F.col(order_col).desc(), *group_labels)
    ranked = card.withColumn("_rank", F.row_number().over(w))
    top = ranked.where(F.col("_rank") <= k).drop("_rank")
    count_cols = [c for c in card.columns if c not in group_labels]
    tail = (ranked.where(F.col("_rank") > k)
            .agg(*[F.sum(c).alias(c) for c in count_cols],
                 F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > 0).drop("_n")
            .select(*[F.lit("_overflow_").alias(g) for g in group_labels],
                    *count_cols))
    return top.unionByName(tail)


def ts_card_exec(store: TsStore,
                 shard_key_prefix: tuple[str, ...] = (),
                 num_group_by_fields: int = 1,
                 active_after_ms: int | None = None) -> DataFrame:
    """TsCardExec analog (MetadataExecPlan.scala:579-640;
    MetadataExecSpec.scala:414-491): filter series by a shard-key
    PREFIX (values for _ws_, _ns_, __name__ in that order) and group
    counts by the first `num_group_by_fields` of the same trio. Exec
    level — no logical-plan requires (the reference's exec spec drives
    shapes the logical plan would reject)."""
    fields = ("_ws_", "_ns_", "__name__")
    matchers = ",".join(f'{lab}="{val}"'
                        for lab, val in zip(fields, shard_key_prefix))
    match = "{%s}" % matchers if matchers else None
    return ts_cardinality(store, fields[:num_group_by_fields],
                          active_after_ms, match)


def ts_cardinality_prefix(store: TsStore,
                          shard_key_prefix: tuple[str, ...] = (),
                          num_group_by_fields: int = 1,
                          active_after_ms: int | None = None) -> DataFrame:
    """TsCardinalities v2 surface: the user-facing plan, enforcing all
    three logical-plan requires (LogicalPlan.scala:350-355) before
    delegating to the exec."""
    if not 1 <= num_group_by_fields <= 3:
        raise ValueError("numGroupByFields must lie on [1, 3]")
    if len(shard_key_prefix) > num_group_by_fields:
        raise ValueError("numGroupByFields indicate a depth at least as "
                         "deep as shardKeyPrefix")
    if num_group_by_fields == 3 and len(shard_key_prefix) < 2:
        raise ValueError("cannot group at the metric level when prefix "
                         "does not contain ws and ns")
    return ts_card_exec(store, shard_key_prefix, num_group_by_fields,
                        active_after_ms)
