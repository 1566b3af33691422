"""PromQL AST -> Spark DataFrame compiler.

The engine-level "planner": mirrors the dispatch of the reference's
SingleClusterPlanner.walkLogicalPlanTree
(coordinator/.../queryplanner/SingleClusterPlanner.scala:489-516) but
emits declarative DataFrame plans; Catalyst performs predicate pushdown,
column pruning, partial aggregation and join strategy selection — the
roles of FiloDB's shard pruning / Lucene pushdown / fastReduce paths
(SURVEY §4.1).

Data model: a time-series table with columns
  labels map<string,string>  (includes __name__ = metric)
  ts     long (ms epoch)
  value  double
Result layout: (labels map, t long ms, value double) — a range vector
per distinct labels value (RangeVector.scala:126-144).
"""

from __future__ import annotations

import threading
import weakref
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from filodb_spark.kernels import aggregations as agg_k
from filodb_spark.kernels import binary as bin_k
from filodb_spark.kernels.grid import STALE_SAMPLE_AFTER_MS, StepGrid
from filodb_spark.kernels.instant_fns import INSTANT_FUNCTIONS, instant_fn_expr
from filodb_spark.kernels.range_fns import (TILE_RATIO, TILEABLE,
                                            limit_series, range_function)
from filodb_spark.memo import Memo
from filodb_spark.promql import ast as A
from filodb_spark.promql.parser import parse

METRIC = "__name__"


@dataclass(frozen=True)
class AggRule:
    """Pre-aggregation rule (query/util/HierarchicalQueryExperience.scala:
    IncludeAggRule / ExcludeAggRule): the preagg metric
    ``<metric>:::<suffix>`` holds sums over all labels except the
    retained set.

    Routability (AggLpOptimization.ruleRetainsNeededLabels:253-279):

    | RuleType |   group by                      | group without          |
    |----------|---------------------------------|------------------------|
    | Include  | byTags subset of includeTags    | never                  |
    | Exclude  | byTags disjoint from excludeTags| withoutTags subset of  |
    |          |                                 | excludeTags            |

    Filter tags: include rules need them inside includeTags (shard keys
    exempt — always retained); exclude rules need them disjoint from
    excludeTags.

    Rules may ship as VERSIONS sharing a suffix (active flag +
    effective-from instant): a suffix is routable only if every version
    retains the needed labels, every version is active, and the oldest
    version predates the query start
    (AggLpOptimization.optimizeWithPreaggregatedDataset:54-72)."""

    suffix: str
    include: frozenset | None = None
    exclude: frozenset = frozenset()
    active: bool = True
    effective_from_ms: int = 0

    def retains(self, labels: set) -> bool:
        if self.include is not None:
            return labels <= self.include
        return not (labels & self.exclude)

    def routable(self, filter_tags: set, by, without) -> bool:
        from filodb_spark.sources.table import SHARD_KEY_LABELS
        if self.include is not None:
            if without is not None:
                return False  # dropped-label set unknowable for include
            return (filter_tags - set(SHARD_KEY_LABELS)) <= self.include \
                and (by is None or set(by) <= self.include)
        if filter_tags & self.exclude:
            return False
        if by is not None:
            return not (set(by) & self.exclude)
        if without is not None:
            return set(without) <= self.exclude
        return True

    def better_than(self, other: "AggRule") -> bool:
        """More excluded labels, or fewer included labels
        (firstRuleIsBetterThanSecond:284-303)."""
        if self.exclude and other.exclude:
            return len(self.exclude) > len(other.exclude)
        if self.include and other.include:
            return len(self.include) < len(other.include)
        return False


def preagg_metric_name(metric: str, suffix: str) -> str:
    return f"{metric}:::{suffix}"


def _resolve_at_sentinels(node, start_ms: int, end_ms: int):
    """Replace `@ start()` / `@ end()` sentinels with the query range
    bounds (Prometheus semantics: always the OUTER query's range, even
    inside subqueries — hence one pre-pass over the whole AST)."""
    import dataclasses
    if isinstance(node, tuple):
        return tuple(_resolve_at_sentinels(x, start_ms, end_ms) for x in node)
    if not dataclasses.is_dataclass(node):
        return node
    changes = {}
    for f in dataclasses.fields(node):
        v = getattr(node, f.name)
        if f.name == "at_ms" and isinstance(v, str):
            changes[f.name] = start_ms if v == "start" else end_ms
        elif dataclasses.is_dataclass(v) or isinstance(v, tuple):
            nv = _resolve_at_sentinels(v, start_ms, end_ms)
            if nv != v:
                changes[f.name] = nv
    return dataclasses.replace(node, **changes) if changes else node

RANGE_FN_MAP = {
    "rate": "rate", "increase": "increase", "delta": "delta",
    "idelta": "idelta", "irate": "irate", "resets": "resets",
    "changes": "changes", "deriv": "deriv",
    "sum_over_time": "sum_over_time", "avg_over_time": "avg_over_time",
    "count_over_time": "count_over_time", "min_over_time": "min_over_time",
    "max_over_time": "max_over_time", "stddev_over_time": "stddev_over_time",
    "stdvar_over_time": "stdvar_over_time", "last_over_time": "last_over_time",
    "present_over_time": "present_over_time", "mad_over_time": "mad_over_time",
    "absent_over_time": "absent_over_time",
    # `last` is the reference's alias of last_over_time
    # (RangeFunctionId "last", PlanEnums.scala:57)
    "last": "last_over_time",
    "z_score": "z_score",
}
PARAM_RANGE_FNS = {"quantile_over_time": "quantile_over_time",
                   "predict_linear": "predict_linear",
                   "holt_winters": "holt_winters"}


def _apply_label_matchers(df: DataFrame, matchers,
                          extra: Column | None = None) -> DataFrame:
    """Apply PromQL label matchers to any frame with a `labels` map
    column — shared by the sample scan (TsStore.select) and the
    part-key table scan (TsStore.select_partkeys), mirroring the
    reference's single ColumnFilter path feeding both data and
    metadata queries (PartKeyIndex.scala:652-674 anchors regexes).
    `extra` is an additional conjunctive predicate (e.g. the metric
    equality) folded into the SAME where — one eager plan analysis for
    the whole selector instead of one per filter (r13 opt)."""
    labels = F.col("labels")
    conds = [] if extra is None else [extra]
    for m in matchers:
        lv = labels[m.name]
        if m.op == "=":
            conds.append((lv == m.value) if m.value != ""
                         else (lv.isNull() | (lv == "")))
        elif m.op == "!=":
            conds.append((lv.isNull() | (lv != m.value)) if m.value != ""
                         else (lv.isNotNull() & (lv != "")))
        elif m.op == "=~":
            conds.append(
                F.coalesce(lv, F.lit("")).rlike(f"^(?:{m.value})$"))
        elif m.op == "!~":
            conds.append(
                ~F.coalesce(lv, F.lit("")).rlike(f"^(?:{m.value})$"))
    if not conds:
        return df
    # ONE where with the conjunction, not one Dataset per matcher —
    # each Dataset-returning call re-analyzes the plan eagerly
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return df.where(cond)


def _key_labels(key: str = "_sk") -> Column:
    """The one label rule: a frame keyed by an injective sorted-entry
    key (``_sk`` / ``_gk``, bin_k.series_key) gets its labels back as
    ``map_from_entries(key)`` — the same map (entry order aside), so no
    per-series label frame is joined back on the key and no first(map)
    is carried through an aggregation (a map-typed aggregation buffer is
    not hash-aggregable and forces SortAggregate). FiloDB keys each
    range vector by its labels the same way (RangeVector.scala:126-144)."""
    return F.map_from_entries(F.col(key)).alias("labels")


def _limit_series(df: DataFrame, k: int) -> DataFrame:
    """ApplyLimitFunction (LogicalPlan.scala:948-963): keep k series of
    a labelled result, chosen by canonical-label order."""
    return (df.withColumn("_lk", bin_k.canonical_labels(F.col("labels")))
              .transform(lambda d: limit_series(d, k, ["_lk"]))
              .drop("_lk"))


# Frames _series_layout produced. A dataclasses.replace copy (ds_view)
# or TsStore(store.df) hands one back to __post_init__, which must not
# shuffle or materialize it a second time.
_LAID_OUT = weakref.WeakSet()


def _series_layout(frame: DataFrame) -> DataFrame:
    """Lay an in-memory sample frame out by series, once: hash-partition
    it on the series key (bin_k.series_key(labels)) into as many
    partitions as it had, cache the result at the input's storage level,
    materialize it, then release the input's cache. The FiloDB shard
    analog: a shard is a hash bucket of series and a series never
    straddles shards (TimeSeriesShard.scala:268, ShardMapper.scala:
    122-130).

    _scan aliases the same expression as ``_sk``, so Spark's
    alias-aware output partitioning reports the cached layout as
    HashPartitioning(_sk) and every ``_sk``-keyed kernel groups
    straight from the cache; only cross-series aggregation shuffles.
    No key column is stored: it would double the cache. Materializing
    before the input is released matters twice over: Spark recompiles
    a dependent cache that is not fully loaded when its source is
    uncached, and a recomputed shuffle reorders rows inside partitions,
    which moves the last bits of cross-series sums between answers.

    Uncached (or disk-only) frames, parquet scans included, are
    returned as they are."""
    if frame in _LAID_OUT:
        return frame
    level = frame.storageLevel
    if not level.useMemory:
        return frame
    laid = frame.repartition(max(1, frame.rdd.getNumPartitions()),
                             bin_k.series_key(F.col("labels")))
    laid.persist(level)
    laid.count()
    frame.unpersist()
    _LAID_OUT.add(laid)
    return laid


@dataclass
class TsStore:
    """Metric table provider — the multi-schema registry
    (MultiSchemaPartitionsExec.scala:35-226 analog).

    df: gauge/counter samples (labels map incl. __name__, ts, value).
    hist_df: histogram samples (labels, ts, sum, count,
      hist struct<les, values>) for metrics listed in hist_metrics.
    Selectors on "<m>_sum" / "<m>_count" / "<m>_bucket" where <m> is a
    histogram metric are rewritten onto the histogram table
    (MultiSchemaPartitionsExec.scala:116-142).

    At scale each schema is a parquet/Delta table partitioned by
    (_ws_, _ns_, date) — selector filters push down to partition
    pruning + row-group skipping.

    In-memory layout: a sample frame (df, hist_df, ds_df, ds_counter_df,
    ds_hist_df) that arrives cached in memory is re-laid out by series
    once, at construction (_series_layout). The store takes over the
    input's cache: the field holds the laid-out copy, cached at the
    input's storage level, and the input is unpersisted. Schema and
    columns are unchanged, and there is still one cached copy. Uncached
    and parquet-backed frames are used as given. Because the input's
    cache is released, derive further frames (e.g.
    `partkey_from_samples(...)`) from `store.df`, not from the frame
    passed in: one derived from the input and planned after
    construction reads the source again.
    """

    df: DataFrame
    hist_df: DataFrame | None = None
    hist_metrics: tuple[str, ...] = ()

    @classmethod
    def from_table(cls, spark: SparkSession, path: str,
                   partkey_path: str | None = "auto", **kw) -> "TsStore":
        """Open a partitioned series table written by
        sources.table.write_series_table.

        partkey_path attaches the materialized part-key table
        (filodb_spark.partkey.write_partkey_table). The default "auto"
        probes the `<path>_partkey` sibling convention (where
        cli.py `partkey-build` writes it), so production mounts default
        to the O(series) index path — metadata endpoints, the plan-time
        limit estimator, and density-aware window selection all light
        up with no flag. Pass an explicit path to attach a
        non-conventional location, or None to opt out."""
        df = spark.read.parquet(path).select("labels", "ts", "value")
        if partkey_path == "auto":
            from filodb_spark.sources.table import hadoop_fs
            probe = path.rstrip("/") + "_partkey"
            fs, Path = hadoop_fs(spark, probe)
            partkey_path = probe if fs.exists(Path(probe)) else None
            if partkey_path is not None:
                # surfaced because the sibling convention makes no
                # freshness promise: an index built before the series
                # table was rewritten serves stale metadata/spans.
                # Rebuild (cli partkey-build / append_partkey_updates)
                # after table rewrites, or pass partkey_path=None
                import logging
                logging.getLogger("filodb_spark").info(
                    "auto-attached sibling part-key index %s for %s "
                    "(pass partkey_path=None to opt out; rebuild the "
                    "index after series-table rewrites)", probe, path)
        if partkey_path is not None:
            # mount the RAW shape: select_partkeys pushes matchers below
            # the merge (directory pruning + row-group skipping)
            from filodb_spark.partkey import (open_partkey_table,
                                              read_partkey_manifest)
            kw = dict(kw, partkey_df=open_partkey_table(spark, partkey_path))
            if "partkey_covers_ds" not in kw:
                kw["partkey_covers_ds"] = read_partkey_manifest(
                    spark, partkey_path).get("covers_ds")
        return cls(df, table_path=path, **kw)
    # metrics whose samples are per-interval deltas rather than cumulative
    # counters (delta-counter schema): rate/increase toggle kernels
    # (CumlDeltaTogglerChunkedFunction, AggrOverTimeFunctions.scala:653-692)
    delta_metrics: tuple[str, ...] = ()
    # pre-aggregation rules per metric (AggLpOptimization): data for
    # `<metric>:::<suffix>` must be present in df
    agg_rules: dict = None
    # histogram metrics with base-2 exponential bucket schemes
    # (otel-exp-*-histogram): quantile uses log interpolation
    exp_hist_metrics: tuple[str, ...] = ()
    # on-disk location (set by from_table): enables the
    # _filodb_chunkmeta_all debug function
    table_path: str | None = None
    # preagg freshness watermark (AggLpOptimization aggDelay analog):
    # queries whose range ends after this instant read raw
    preagg_ready_until_ms: int | None = None
    # ds-gauge rollup table (labels, ts, min, max, sum, count, avg) +
    # the instant before which raw data is no longer retained: queries
    # spanning the boundary split raw/DS and stitch
    # (LongTimeRangePlanner.scala)
    ds_df: DataFrame | None = None
    raw_retention_start_ms: int | None = None
    # downsampled COUNTER samples (streaming.downsample.
    # downsample_counter / downsample_delta_counter): the raw schema —
    # a dip-preserving row subset (prom-counter) or period delta sums
    # (delta-counter), so the raw counter kernels run on it unchanged.
    # The reference keeps counters in their own downsample dataset the
    # same way (filodb-defaults.conf:247-262)
    ds_counter_df: DataFrame | None = None
    # downsampled HISTOGRAM samples (downsample_hist /
    # downsample_delta_hist): raw hist schema, dip-preserving subset
    ds_hist_df: DataFrame | None = None
    # metrics whose samples are CUMULATIVE counters (prom-counter
    # schema). Optional declared registry — the reference declares
    # every metric's schema in config (filodb-defaults.conf:221-457);
    # when a metric is not declared here, per-metric DS routing falls
    # back to a memoized membership probe of the mounted downsample
    # tables (ds_schema_of)
    counter_metrics: tuple[str, ...] = ()
    # metric-name sets STAMPED into the mounted DS tables at write time
    # (sources.table.write_ds_schema_manifest — retention_ladder writes
    # one per tier; cli _open_store auto-reads it on --ds-gauge /
    # --ds-counter mounts): ds_schema_of answers membership from these
    # with no scan at all, including absence. None = unstamped mount
    # (e.g. a live streaming-downsample sink, where new metric names
    # can appear after any stamp) — probe fallback.
    ds_gauge_metrics: frozenset | None = None
    ds_counter_metrics: frozenset | None = None
    # resolution of the downsample tables — rate/increase lookbacks
    # shorter than 2x this are rejected when they route to DS data
    # (PeriodicSamplesMapper.scala:90-126)
    ds_resolution_ms: int | None = None
    # materialized part-key (series-dimension) table — one row per
    # canonical series (labels, _sk, first_ts, last_ts, samples); when
    # attached, metadata endpoints, TsCardinality, and the plan-time
    # limit estimator answer from it in O(series) instead of scanning
    # samples (PartKeyLuceneIndex.scala:329-465 /
    # MetadataExecPlan.scala:334-640 analog; filodb_spark.partkey)
    partkey_df: DataFrame | None = None
    # provenance of the attached index: True when it was built over the
    # downsample tables too (partkey_from_store / partkey-build --ds /
    # retention_ladder partkey_out), recorded in the table's manifest.
    # Metadata only trusts the index for PRE-RETENTION ranges when this
    # is True — a raw-only index there would return silently-empty
    # results for retired series (metadata._series_rows falls back to
    # the scan otherwise; None = unknown, treated as not covering)
    partkey_covers_ds: bool | None = None

    def __post_init__(self):
        for name in ("df", "hist_df", "ds_df", "ds_counter_df", "ds_hist_df"):
            frame = getattr(self, name)
            if frame is not None:
                setattr(self, name, _series_layout(frame))

    def schema_of(self, metric: str | None) -> str:
        if metric and metric in self.hist_metrics:
            return "hist"
        if metric:
            base = self.hist_base_of(metric)
            if base is not None:
                for suffix in ("_sum", "_count", "_bucket"):
                    if self._strip_agg(metric)[0].endswith(suffix):
                        return "hist" + suffix
        return "gauge"

    @staticmethod
    def _strip_agg(metric: str) -> tuple[str, str]:
        """Split `name[:::agg]` -> (name, ':::agg' or '')."""
        name, sep, agg = metric.partition(":::")
        return name, sep + agg

    def hist_base_of(self, metric: str | None) -> str | None:
        """The histogram metric a `_sum`/`_count`/`_bucket` selector
        resolves to, composing with a preagg `:::agg` suffix the way
        MultiSchemaPartitionsExec strips the column suffix before the
        agg part (MultiSchemaPartitionsExecSpec.scala:604-616:
        request-latency_sum:::agg -> request-latency:::agg). None when
        the metric is not a histogram rewrite."""
        if not metric:
            return None
        name, agg = self._strip_agg(metric)
        for suffix in ("_sum", "_count", "_bucket"):
            if name.endswith(suffix):
                base = name[: -len(suffix)] + agg
                if base in self.hist_metrics:
                    return base
        return None

    def type_name(self, metric: str | None) -> str:
        """Schema name exposed through the virtual `_type_` label
        (Schemas registry; MultiSchemaPartitionsExecSpec.scala:629-655)."""
        if metric in self.exp_hist_metrics:
            return "otel-exp-delta-histogram"
        if self.schema_of(metric) != "gauge":
            return "prom-histogram"
        if metric in self.delta_metrics:
            return "delta-counter"
        return "gauge"

    def select(self, sel: A.VectorSelector, ts_lo: int | None = None,
               ts_hi: int | None = None) -> DataFrame:
        """Resolve a selector to its schema table. ts_lo/ts_hi (when
        the caller knows them — _scan passes the window-extended query
        range) scope metric-less schema DISCOVERY only; the returned
        frame is never time-filtered here (_scan applies the filter,
        below its stats observation point)."""
        schema = self.schema_of(sel.metric)
        # `_type_` is a VIRTUAL label naming the schema, not a stored
        # label: an Equals matcher gates the scan on the metric's schema
        # (known-mismatch -> empty result, MultiSchemaPartitionsExec
        # _type_ filter handling)
        type_matchers = [m for m in sel.matchers if m.name == "_type_"]
        type_value = None
        if type_matchers:
            for m in type_matchers:
                if m.op != "=":
                    raise ValueError(
                        "_type_ supports only the = matcher")
            values = {m.value for m in type_matchers}
            # conflicting _type_ values can match no series
            type_value = values.pop() if len(values) == 1 else "__none__"
            if sel.metric is not None and \
                    any(m.value != self.type_name(sel.metric)
                        for m in type_matchers):
                base = self.df if schema == "gauge" else self.hist_df
                return base.where(F.lit(False))
            sel = A.VectorSelector(
                sel.metric,
                tuple(m for m in sel.matchers if m.name != "_type_"),
                offset_ms=sel.offset_ms, at_ms=sel.at_ms, limit=sel.limit)
        if sel.metric is None and (self.hist_df is not None
                                   or type_value is not None):
            return self._select_multischema(sel.matchers, type_value,
                                            ts_lo, ts_hi)
        if schema == "gauge":
            df = self.df
        else:
            base = sel.metric if schema == "hist" else \
                self.hist_base_of(sel.metric)
            df = self.hist_df.where(F.col("labels")[METRIC] == base)
            if schema == "hist_sum":
                df = df.select("labels", "ts", F.col("sum").alias("value"))
            elif schema == "hist_count":
                df = df.select("labels", "ts", F.col("count").alias("value"))
            elif schema == "hist_bucket":
                # explode to one series per bucket with an `le` label
                from filodb_spark.kernels.histogram import (explode_hist,
                                                            le_label)
                ex = explode_hist(df.select("labels", "ts", "hist"))
                ex = ex.withColumn("labels", F.map_concat(
                    "labels", F.create_map(F.lit("le"),
                                           le_label(F.col("bucket_le")))))
                df = ex.select("labels", "ts", "value")
            else:
                extra = [c for c in ("min", "max") if c in self.hist_df.columns]
                df = df.select("labels", "ts", "sum", "count", "hist", *extra)
        metric_cond = (F.col("labels")[METRIC] == sel.metric) \
            if sel.metric and schema == "gauge" else None
        return _apply_label_matchers(df, sel.matchers, extra=metric_cond)

    def type_expr(self, metric_col: Column) -> Column:
        """Schema name for the virtual `_type_` label as a column
        expression over a metric-name column (row-wise type_name)."""
        expr = F.lit("gauge")
        if self.delta_metrics:
            expr = F.when(metric_col.isin(*self.delta_metrics),
                          F.lit("delta-counter")).otherwise(expr)
        if self.hist_metrics:
            expr = F.when(metric_col.isin(*self.hist_metrics),
                          F.lit("prom-histogram")).otherwise(expr)
        if self.exp_hist_metrics:
            expr = F.when(metric_col.isin(*self.exp_hist_metrics),
                          F.lit("otel-exp-delta-histogram")).otherwise(expr)
        return expr

    def ds_gauge_select(self, sel: A.VectorSelector) -> DataFrame:
        """The ds-GAUGE rewrite table (rollup schema) scoped by a
        selector: metric name, label matchers, and the virtual `_type_`
        label resolved row-wise through type_expr. The one selection
        the DS-gauge query part and the metadata DS scan share."""
        df = self.ds_df
        name = F.col("labels")[METRIC]
        if sel.metric is not None:
            df = df.where(name == sel.metric)
        df = _apply_label_matchers(
            df, [m for m in sel.matchers if m.name != "_type_"])
        for m in sel.matchers:
            if m.name == "_type_":
                if m.op != "=":
                    raise ValueError("_type_ supports only the = matcher")
                df = df.where(self.type_expr(name) == m.value)
        return df

    def _hist_full(self) -> DataFrame:
        extra = [c for c in ("min", "max") if c in self.hist_df.columns]
        return self.hist_df.select("labels", "ts", "sum", "count",
                                   "hist", *extra)

    # Probe memos: lazy and per instance, so a dataclasses.replace copy
    # starts empty and a store that never probes never creates one.
    _multischema_memo = cached_property(lambda self: Memo(256))
    _ds_schema_memo = cached_property(lambda self: Memo(256))
    _index_cover_memo = cached_property(lambda self: Memo(256))

    def _select_multischema(self, matchers, type_value: str | None,
                            ts_lo: int | None = None,
                            ts_hi: int | None = None) -> DataFrame:
        """Schema resolution for a metric-less data selector on a
        multi-schema store (MultiSchemaPartitionsExec lookupPartitions):
        the selector binds to the SINGLE schema whose series match the
        filters; matching more than one raises SchemaMismatch
        (MultiSchemaPartitionsExecSpec.scala:341-348,
        TimeSeriesShard.scala:237-238). A `_type_` Equals matcher names
        the schema directly and skips discovery (spec :631-652).

        The discovery probes are scoped to [ts_lo, ts_hi] when given
        (the reference's partition lookup is range-scoped — a series
        existing only outside the queried window must not bind the
        schema or raise SchemaMismatch) and the RESOLUTION is memoized
        per (matchers, range): a dashboard re-issuing the same selector
        pays the two limit-1 sample probes once, not per query (ADVICE
        r9). Resolving membership on the part-key index instead was
        considered and rejected: an attached index makes no coverage
        promise for non-gauge schemas (see _index_covers)."""
        matchers = tuple(m for m in matchers if m.name != "_type_")
        gauge = _apply_label_matchers(self.df, matchers)
        if type_value is not None:
            if type_value in ("prom-histogram", "otel-exp-delta-histogram"):
                if self.hist_df is None:
                    return gauge.where(F.lit(False))
                hist = _apply_label_matchers(self._hist_full(), matchers)
                exp = list(self.exp_hist_metrics)
                if not exp:
                    return hist if type_value == "prom-histogram" \
                        else hist.where(F.lit(False))
                name = F.col("labels")[METRIC]
                return hist.where(name.isin(exp)
                                  if type_value != "prom-histogram"
                                  else ~name.isin(exp))
            if type_value in ("gauge", "delta-counter"):
                delta = list(self.delta_metrics)
                if not delta:
                    return gauge if type_value == "gauge" \
                        else gauge.where(F.lit(False))
                name = F.col("labels")[METRIC]
                return gauge.where(name.isin(delta)
                                   if type_value == "delta-counter"
                                   else ~name.isin(delta))
            return gauge.where(F.lit(False))
        hist = _apply_label_matchers(self._hist_full(), matchers)

        def scoped(df):
            if ts_lo is None:
                return df
            return df.where((F.col("ts") >= ts_lo) & (F.col("ts") <= ts_hi))
        gauge_hit, hist_hit = self._multischema_memo.get(
            (tuple((m.name, m.op, m.value) for m in matchers), ts_lo, ts_hi),
            lambda: (not scoped(gauge).isEmpty(),
                     not scoped(hist).isEmpty()))
        if gauge_hit and hist_hit:
            raise SchemaMismatch(
                "Multiple schemas found, please filter. Expected schema "
                "gauge, found schema prom-histogram")
        return hist if hist_hit else gauge

    def ds_view(self) -> "TsStore | None":
        """A shallow TsStore whose sample tables are the downsampled
        counter/histogram ones, so TsStore.select (metric binding,
        _sum/_count/_bucket rewrites, matcher pushdown) runs verbatim
        against the DS dataset — the reference's downsample cluster
        serves the same query surface from its own dataset
        (DownsampledTimeSeriesShard). Missing DS tables present as
        empty raw-schema frames; None when neither is mounted.
        (The ds-GAUGE rewrite table, ds_df, has the rollup schema, not
        the raw one — callers that need it filter it directly.)"""
        if self.ds_counter_df is None and self.ds_hist_df is None:
            return None
        # memoized on the parent store: the view carries its own
        # _multischema_memo/_index_cover_memo caches, which a fresh
        # dataclasses.replace per call would discard (the probes those
        # memos exist to amortize would then re-run on every DS-routed
        # query/metadata call)
        if "_ds_view_memo" not in self.__dict__:
            import dataclasses
            self.__dict__["_ds_view_memo"] = dataclasses.replace(
                self,
                df=self.ds_counter_df if self.ds_counter_df is not None
                else self.df.where(F.lit(False)),
                hist_df=self.ds_hist_df if self.ds_hist_df is not None
                else (self.hist_df.where(F.lit(False))
                      if self.hist_df is not None else None),
                ds_df=None, ds_counter_df=None, ds_hist_df=None,
                ds_gauge_metrics=None, ds_counter_metrics=None,
                partkey_df=None)
        return self.__dict__["_ds_view_memo"]

    def ds_schema_of(self, metric: str | None) -> str | None:
        """Which downsample dataset serves this metric's pre-boundary
        data: "gauge" (ds_df), "counter" (ds_counter_df), or None when
        unresolvable (metric-less selector, or a metric present in
        neither DS table). The reference routes per SCHEMA, never per
        function: each schema's downsample config names its own target
        dataset (filodb-defaults.conf:212-342) and the downsample
        cluster serves each schema from its own dataset
        (DownsampledTimeSeriesShard.scala:96). Resolution order: the
        declared registry first (counter_metrics / delta_metrics —
        schemas are declared, not inferred, in the reference), then a
        memoized bounded existence probe against each mounted DS table
        (gauge wins a pathological both-tables hit, matching the
        fn-based tie-break this routing replaces)."""
        if metric is None:
            return None
        if metric in self.counter_metrics or metric in self.delta_metrics:
            return "counter"
        if self.hist_base_of(metric) is not None:
            # <m>_sum/_count/_bucket scalar rewrites: served from the
            # hist DS table through ds_view's rewrite (the "counter"
            # side runs the raw kernels on the _ds_select frame, which
            # resolves the rewrite exactly like the raw scan)
            return "counter" if self.ds_hist_df is not None else None
        # write-time stamps answer membership metadata-only — the
        # manifest was read once at mount time; present AND absent
        # metrics resolve without touching any sample row (gauge wins
        # a pathological both-stamped hit, same tie-break as the probe)
        stamped_g, stamped_c = self.ds_gauge_metrics, self.ds_counter_metrics
        if stamped_g is not None and metric in stamped_g:
            return "gauge"
        if stamped_c is not None and metric in stamped_c:
            return "counter"
        if (stamped_g is not None or self.ds_df is None) and \
                (stamped_c is not None or self.ds_counter_df is None):
            return None      # absent from every mounted table's stamp

        def probe():
            # existence probes filter the labels MAP column, which has
            # no parquet row-group stats — an ABSENT metric costs a
            # full scan of each DS table's labels column (present ones
            # exit on the first match). When a DS-covering part-key
            # index is attached, answer absence from it instead: one
            # bounded probe on the physically-sorted _metric column
            if self.partkey_df is not None and self.partkey_covers_ds \
                    and not self._index_covers(metric):
                return None
            # a stamped table never needs its probe (the stamp already
            # said the metric is absent from it); only unstamped
            # mounted tables are scanned
            if self.ds_df is not None and stamped_g is None and \
                    not self.ds_df.where(
                        F.col("labels")[METRIC] == metric).isEmpty():
                return "gauge"
            if self.ds_counter_df is not None and stamped_c is None \
                    and not self.ds_counter_df.where(
                        F.col("labels")[METRIC] == metric).isEmpty():
                return "counter"
            return None
        return self._ds_schema_memo.get(metric, probe)

    def _index_covers(self, metric: str) -> bool:
        """Does the attached part-key index hold rows for `metric`?
        One bounded existence probe per metric, memoized per store (a
        series table rewrite warrants a fresh mount, which resets the
        memo)."""
        def probe():
            df = self.partkey_df.where(F.col("labels")[METRIC] == metric)
            if "_metric" in self.partkey_df.columns:
                # pushable twin: row-group min/max skipping on the
                # sorted physical column
                df = df.where(F.col("_metric") == metric)
            return not df.isEmpty()
        return self._index_cover_memo.get(metric, probe)

    def select_partkeys(self, sel: A.VectorSelector) -> DataFrame | None:
        """Matcher-filtered part-key rows (one per series), or None when
        no part-key table is attached or the selector is a `_bucket`
        histogram rewrite (per-`le` bucket series are virtual — exploded
        at query time, never materialized in the part-key table — so
        callers fall back to the sample scan for them). Histogram
        metrics themselves, and their `_sum`/`_count` rewrites, resolve
        on the index: the reference keeps ONE part-key index per shard
        regardless of schema (PartKeyLuceneIndex.scala), and a
        `<m>_sum`/`<m>_count` selector names exactly the base metric's
        series set. The O(series) analog of the reference's part-key
        index search (PartKeyLuceneIndex.scala:570-640).

        When the mounted frame is the RAW on-disk table
        (partkey.open_partkey_table — has the `_metric` and shard-key
        physical columns), matchers are applied to the delta rows FIRST
        (labels are identical per series, so this is merge-safe) with
        metric/shard-key equality additionally pushed onto the physical
        columns — directory pruning + row-group skipping — and the
        merge aggregate runs over the pruned remainder only."""
        schema = self.schema_of(sel.metric)
        if self.partkey_df is None or schema == "hist_bucket":
            return None
        # _sum/_count rewrites: the stored part key carries the BASE
        # histogram metric name (same series, same spans, same counts)
        metric = sel.metric
        if schema in ("hist_sum", "hist_count"):
            metric = self.hist_base_of(sel.metric)
        if schema.startswith("hist") and metric and \
                not self._index_covers(metric):
            # an attached index may have been built from the gauge
            # series table only (cli partkey-build reads one table; the
            # auto-attached sibling makes no coverage promise) — a
            # hist-scoped lookup on such an index would return
            # silently-EMPTY metadata. Verify coverage once per base
            # metric (memoized limit-probe) and fall back to the sample
            # scan when the index has no rows for it (ADVICE r9).
            return None
        df = self.partkey_df
        raw_shape = "_metric" in df.columns
        type_matchers = [m for m in sel.matchers if m.name == "_type_"]
        if type_matchers:
            if any(m.op != "=" for m in type_matchers):
                raise ValueError("_type_ supports only the = matcher")
            if sel.metric is None:
                # metric-less: filter index rows by each row's own
                # schema (the index covers every schema's part keys)
                te = self.type_expr(F.col("labels")[METRIC])
                for m in type_matchers:
                    df = df.where(te == m.value)
            elif any(m.value != self.type_name(sel.metric)
                     for m in type_matchers):
                return df.where(F.lit(False)).select(
                    "labels", "_sk", "first_ts", "last_ts", "samples")
        matchers = tuple(m for m in sel.matchers if m.name != "_type_")
        if metric:
            df = df.where(F.col("labels")[METRIC] == metric)
            if raw_shape:
                # pushable twin of the map filter: the writer sorts
                # files by _metric, so this prunes row groups at scan
                df = df.where(F.col("_metric") == metric)
        if raw_shape:
            from filodb_spark.sources.table import SHARD_KEY_LABELS
            for m in matchers:
                # partition-directory pruning twin for shard-key
                # equality (redundant with the map filter, never
                # weaker: __none__/"" sentinel values stay map-only)
                if m.op == "=" and m.name in SHARD_KEY_LABELS and \
                        m.value not in ("", "__none__"):
                    df = df.where(F.col(m.name) == m.value)
        df = _apply_label_matchers(df, matchers)
        if raw_shape:
            from filodb_spark.partkey import merge_partkey_rows
            df = merge_partkey_rows(df)
        return df


class SchemaMismatch(ValueError):
    """A metric-less selector matched series of more than one schema
    (TimeSeriesShard.scala:237-238: "Multiple schemas found, please
    filter") — the user must narrow with a metric or `_type_` filter."""


class QueryLimitException(ValueError):
    """Pre-execution limit rejection (QueryLimitException analog,
    core/query/QueryLimitException.scala) — the HTTP layer maps it to
    413 Payload Too Large, like the reference's error-to-status
    mapping for plan-estimated limit breaches."""


def _leaf_selectors(node, default_window_ms: int, _window=None):
    """Yield (VectorSelector, effective_window_ms) for every leaf under
    `node`, carrying the innermost enclosing matrix/subquery range —
    the lookback each leaf's scan reaches behind the query start."""
    import dataclasses
    w = _window if _window is not None else default_window_ms
    if isinstance(node, A.VectorSelector):
        yield node, w
        return
    if isinstance(node, A.MatrixSelector):
        yield from _leaf_selectors(node.base, default_window_ms,
                                   node.range_ms)
        return
    if isinstance(node, A.Subquery):
        yield from _leaf_selectors(node.expr, default_window_ms,
                                   node.range_ms + w)
        return
    if dataclasses.is_dataclass(node):
        for f in dataclasses.fields(node):
            v = getattr(node, f.name)
            for x in (v if isinstance(v, (list, tuple)) else (v,)):
                if dataclasses.is_dataclass(x) and \
                        not isinstance(x, A.LabelMatcher):
                    yield from _leaf_selectors(x, default_window_ms, _window)


class Scalar:
    """Scalar result: constant float, or per-step DataFrame(t, value)."""

    def __init__(self, const: float | None = None, df: DataFrame | None = None):
        self.const = const
        self.df = df

    @property
    def is_const(self) -> bool:
        return self.const is not None


class PromQLEngine:
    """Evaluate PromQL over a TsStore on a step grid."""

    def __init__(self, spark: SparkSession, store: TsStore,
                 lookback_ms: int = STALE_SAMPLE_AFTER_MS,
                 retention_floor_ms: int | None = None,
                 groupby_cardinality_limit: int | None = None,
                 join_query_cardinality: int | None = None):
        self.spark = spark
        self.store = store
        self.lookback_ms = lookback_ms
        # boundToStartTimeToEarliestRetained
        # (SingleClusterPlanner.scala:873-897)
        self.retention_floor_ms = retention_floor_ms
        # enforcedLimits.groupByCardinality
        # (AggrOverRangeVectors.scala:236-253); None = unenforced
        self.groupby_cardinality_limit = groupby_cardinality_limit
        # enforcedLimits.joinQueryCardinality
        # (BinaryJoinExec.scala:94-103): a one-to-one join whose input
        # side carries more series than this raises QueryLimitException
        self.join_query_cardinality = join_query_cardinality
        # per-query preagg-routing toggle (no_optimize/optimize_with_agg
        # hints set it around a subtree eval) — thread-local for the same
        # reason as _stats_tls: concurrent HTTP requests share the engine,
        # and one request's no_optimize(...) must not disable routing for
        # a query compiling on another thread (ADVICE r6 class)
        self._preagg_tls = threading.local()
        # memoized plan-time scrape-interval estimates per selector
        # (_estimate_scrape_ms)
        self._scrape_cache = Memo(256)
        # selector-fragment memo (r14): the leaf scan + _sk key column
        # for a (selector, pruned range) is a pure function of the store,
        # and every Dataset op building it is an eager full-plan analysis
        # pass on the driver. Holds LOGICAL PLANS (DataFrames), never
        # results; a stats collector observes the memoized fragment.
        self._scan_memo = Memo(64)
        # per-query QueryStats hook (stats.QueryStatsCollector): when
        # set, every leaf scan is wrapped in a DataFrame.observe node
        # (QueryStats analog, QueryContext.scala:385-470). Thread-local:
        # the HTTP server is ThreadingHTTPServer, so concurrent requests
        # compile on distinct threads against the SAME engine — instance
        # state would misattribute one request's leaf observations to
        # another request's collector.
        self._stats_tls = threading.local()

    @property
    def _stats(self):
        return getattr(self._stats_tls, "collector", None)

    @property
    def _preagg_enabled(self) -> bool:
        return getattr(self._preagg_tls, "enabled", True)

    def _scan(self, sel: A.VectorSelector, ts_lo: int,
              ts_hi: int) -> DataFrame:
        """The one leaf path: the selector's scan pruned to
        [ts_lo, ts_hi] with the ``_sk`` series-key column attached —
        the MultiSchemaPartitionsExec boundary where the reference's
        chunk iterators count timeSeriesScanned/samplesScanned. ``_sk``
        must stay the alias of the expression _series_layout partitions
        a cached store by: that is what makes the layout satisfy
        ``_sk``-keyed kernels without an Exchange.

        Memoized per (selector, pruned range) (r14 compile-path memo):
        each Dataset-returning op is an eager analyzer pass over the
        whole subtree, and repeated selectors are the common case in a
        serving session. The memo holds unexecuted logical plans, never
        results. A stats collector wraps the memoized fragment in its
        own observe node per query; the time-range filter stays BELOW
        that node, since CollectMetrics is a pushdown barrier (observing
        under the filter would lose parquet ts min/max pruning and count
        the selector's full history — the reference counts
        post-chunk-pruning samples, ExecPlan.scala:214-226)."""
        def build():
            return (self.store.select(sel, ts_lo, ts_hi)
                    .where((F.col("ts") >= ts_lo) & (F.col("ts") <= ts_hi))
                    .withColumn("_sk", bin_k.series_key(F.col("labels"))))
        df = self._scan_memo.get((sel, ts_lo, ts_hi), build)
        if self._stats is not None:
            df = self._stats.observe_scan(df, (sel.metric or "",))
        return df

    # ---- public API (PrometheusApiRoute.scala:49,68 equivalents) -------

    def estimate_time_series_scanned(self, promql: str, start_ms: int,
                                     end_ms: int, step_ms: int) -> int:
        """Plan-time scan-cardinality estimate: distinct series over each
        pruned leaf scan, summed across leaves.

        The reference enforces PerQueryLimits BEFORE execution by
        estimating from its part-key index (QueryContext.scala:385-470,
        checked in ExecPlan.scala:214-226); the Spark analog is one cheap
        approx_count_distinct aggregate per leaf over the
        filter-pushed-down scan — labels column only (column pruning),
        never the windowing/join stages of the full plan."""
        ast = _resolve_at_sentinels(parse(promql), start_ms, end_ms)
        total = 0
        for sel, window in _leaf_selectors(ast, self.lookback_ms):
            at = sel.at_ms if sel.at_ms is not None else end_ms
            lo = min(start_ms, at) - window - sel.offset_ms
            hi = max(end_ms, at)
            pk = self.store.select_partkeys(sel)
            if pk is not None:
                # O(series) exact count from the part-key table —
                # span-overlap range semantics like the reference index
                # (PartKeyLuceneIndex startTime/endTime postings)
                total += pk.where((F.col("last_ts") >= lo)
                                  & (F.col("first_ts") <= hi)).count()
                continue
            df = self.store.select(sel).where(
                (F.col("ts") >= lo) & (F.col("ts") <= hi))
            row = df.agg(F.approx_count_distinct(
                bin_k.canonical_labels(F.col("labels"))).alias("n")).first()
            total += int(row["n"] or 0)
        return total

    def enforce_plan_limits(self, promql: str, start_ms: int, end_ms: int,
                            step_ms: int, limits) -> None:
        """Pre-execution gate (ExecPlan.scala:214-226 semantics): reject
        a query whose estimated scan exceeds
        limits.enforce_time_series_scanned WITHOUT running its full job.
        Raises QueryLimitException (HTTP layer renders it as 413)."""
        cap = getattr(limits, "enforce_time_series_scanned", None)
        if cap is None:
            return
        est = self.estimate_time_series_scanned(promql, start_ms, end_ms,
                                                step_ms)
        if est > cap:
            raise QueryLimitException(
                f"Query is estimated to scan {est} time series, which "
                f"exceeds the enforced limit {cap}. Try applying more "
                "filters or reducing the time range.")

    def check_result_cardinality(self, result: DataFrame,
                                 max_series: int) -> DataFrame:
        """PerQueryLimits-style guard (QueryContext.scala:1-479;
        enforcement ExecPlan.scala:214-226): raise when the result has
        more series than allowed. Costs one aggregate action."""
        n = (result.select(bin_k.canonical_labels(F.col("labels")).alias("_sk"))
             .agg(F.count_distinct("_sk").alias("n")).first()["n"])
        if n > max_series:
            raise ValueError(
                f"Query result cardinality {n} exceeds limit {max_series}. "
                "Try applying more filters.")
        return result

    def query_range(self, promql: str, start_ms: int, end_ms: int,
                    step_ms: int, limit: int | None = None,
                    stats_collector=None) -> DataFrame:
        """stats_collector: a stats.QueryStatsCollector — leaf scans
        built during this call observe into it (QueryStats analog);
        the caller resolves it after its action."""
        self._stats_tls.collector = stats_collector
        try:
            return self._query_range_impl(promql, start_ms, end_ms,
                                          step_ms, limit)
        finally:
            self._stats_tls.collector = None

    def _query_range_impl(self, promql: str, start_ms: int, end_ms: int,
                          step_ms: int, limit: int | None = None) -> DataFrame:
        if self.retention_floor_ms is not None and \
                start_ms < self.retention_floor_ms:
            # clamp to the earliest retained instant on the step grid
            k = -(-(self.retention_floor_ms - start_ms) // step_ms)
            start_ms = min(start_ms + k * step_ms, end_ms)
        grid = StepGrid(start_ms, end_ms, step_ms)
        ast = _resolve_at_sentinels(parse(promql), start_ms, end_ms)
        core = ast
        while isinstance(core, A.Paren):
            core = core.expr
        if isinstance(core, A.MatrixSelector):
            # raw-samples matrix query `m[5m]` — instant queries only
            # (Prometheus rejects matrix-typed range queries)
            if start_ms != end_ms:
                raise ValueError("invalid expression type matrix for "
                                 "range query")
            if core.step_multiple:
                raise ValueError("step-multiple range requires a function")
            sel = core.base
            at = sel.at_ms if sel.at_ms is not None else end_ms
            t_end = at - sel.offset_ms
            from filodb_spark.kernels.grid import drop_nan
            df = self._scan(sel, t_end - core.range_ms, t_end)
            if "hist" in df.columns:
                # histogram-schema raw matrix: samples are the hist
                # structs (reference returns HistSampl rows)
                return df.select("labels", F.col("ts").alias("t"), "hist")
            return drop_nan(df).select("labels", F.col("ts").alias("t"),
                                       "value")
        res = self._eval(ast, grid)
        if isinstance(res, Scalar):
            return self._scalar_to_vector(res, grid)
        if limit is not None:
            res = _limit_series(res, limit)
        return res

    def query_instant(self, promql: str, time_ms: int,
                      stats_collector=None) -> DataFrame:
        return self.query_range(promql, time_ms, time_ms, 1,
                                stats_collector=stats_collector)

    # ---- helpers -------------------------------------------------------

    def _grid_df(self, grid: StepGrid) -> DataFrame:
        return (self.spark.range(grid.n_steps)
                .select((F.lit(grid.start) + F.col("id") * F.lit(grid.step))
                        .cast("long").alias("t")))

    def _scalar_to_vector(self, s: Scalar, grid: StepGrid) -> DataFrame:
        base = s.df if s.df is not None else \
            self._grid_df(grid).withColumn("value", F.lit(float(s.const)))
        return base.select(
            F.create_map().cast("map<string,string>").alias("labels"),
            "t", F.col("value").cast("double"))

    def _scalar_df(self, s: Scalar, grid: StepGrid) -> DataFrame:
        if s.df is not None:
            return s.df
        return self._grid_df(grid).withColumn("value", F.lit(float(s.const)))

    # ---- selector evaluation -------------------------------------------

    def _eval_selector(self, sel: A.VectorSelector, grid: StepGrid,
                       window: int | None, fn: str = "last_over_time",
                       params: tuple = ()) -> DataFrame:
        """Evaluate range function (default: instant lookback) over a
        selector, honoring offset and @ (SingleClusterPlanner:841-861)."""
        eff_window = window if window is not None else self.lookback_ms + 1
        if sel.at_ms is not None:
            g = StepGrid(sel.at_ms - sel.offset_ms, sel.at_ms - sel.offset_ms, 1)
            one = self._run_range_fn(sel, g, eff_window, fn, params)
            # RepeatTransformer: replicate the single instant across steps
            return (one.drop("t").crossJoin(self._grid_df(grid))
                    .select("labels", "t", "value"))
        if sel.offset_ms:
            g = StepGrid(grid.start - sel.offset_ms, grid.end - sel.offset_ms,
                         grid.step)
            out = self._run_range_fn(sel, g, eff_window, fn, params)
            out = out.withColumn("t", (F.col("t") + F.lit(sel.offset_ms))
                                 .cast("long"))
        else:
            out = self._run_range_fn(sel, grid, eff_window, fn, params)
        if sel.limit is not None:
            out = _limit_series(out, sel.limit)
        return out

    HIST_RANGE_FNS = {"rate", "increase", "delta", "sum_over_time",
                      "last_over_time"}

    # range functions evaluable directly on the downsampled
    # counter/hist tables with the RAW kernels (the DS rows are a
    # dip-preserving row subset / period delta sums with the raw
    # schema — downsample_counter / downsample_delta_counter /
    # downsample_hist): the counter family exactly, plus the window
    # aggregates the reference's DS cluster likewise runs over its
    # retained rows (RangeFunctions are schema-agnostic there; over a
    # row SUBSET the aggregates are the documented retained-row
    # approximations, not raw-equal — same property as the reference).
    # Gauge metrics instead use the ds-gauge rewrite table
    # (_DS_REWRITE, exact re-aggregation). Fns in BOTH sets route by
    # the METRIC'S SCHEMA when both DS tables are mounted
    # (TsStore.ds_schema_of; DownsampledTimeSeriesShard.scala:96
    # serves each schema from its own dataset), and a metric-less
    # selector fans out to both datasets
    COUNTER_DS_FNS = frozenset({
        "rate", "increase", "irate", "idelta", "resets", "changes",
        "delta", "rate_delta", "increase_delta", "last_over_time",
        "present_over_time", "timestamp",
        "sum_over_time", "count_over_time", "avg_over_time",
        "min_over_time", "max_over_time", "stddev_over_time",
        "stdvar_over_time", "quantile_over_time", "deriv",
        "predict_linear", "holt_winters", "z_score",
        "mad_over_time", "last_over_time_is_mad_outlier"})

    # fns with no exact ds-gauge rollup rewrite that the reference's DS
    # cluster evaluates over the dataset's declared VALUE column (avg
    # for ds-gauge) — the raw kernels run on (ts=tTime, value=avg)
    # pseudo-samples. Approximate by construction (one avg sample per
    # period), exactly the reference's property on downsampled gauges.
    # DELIBERATE DEVIATION: the counter family (rate/increase/delta,
    # and their toggled variants) is excluded — counter fns on a
    # gauge-ONLY DS mount are a mount misconfiguration (the counter
    # schema downsamples to its own dataset, filodb-defaults.conf:
    # 247-262), so a boundary-crossing rate() there stays
    # raw-truncated rather than computing resets against per-period
    # averages. The reference's DS cluster would evaluate it over the
    # ds-gauge avg column regardless. Pinned (like the preagg join
    # rule) in test_long_time_range_planner.py::
    # test_rate_on_gauge_only_mount_diverges_from_reference;
    # MIGRATION.md "Operations knobs" documents the mount requirement.
    GAUGE_DS_AVG_FNS = frozenset({
        "stddev_over_time", "stdvar_over_time", "quantile_over_time",
        "deriv", "predict_linear", "holt_winters", "z_score",
        "changes", "resets", "idelta", "irate", "mad_over_time",
        "last_over_time_is_mad_outlier"})

    def _ds_split(self, grid: StepGrid, window: int):
        """Raw/DS split point (LongTimeRangePlanner.scala:110-171):
        None when every instant's lookback window is raw-resident;
        "all_ds" when no instant's is (long lookback, :123-151);
        otherwise the first instant whose full window lies inside raw
        retention (numStepsInDownsample / firstInstantInRaw, :156-158).
        """
        boundary = self.store.raw_retention_start_ms
        if boundary is None or grid.start - window >= boundary:
            return None
        num_ds_steps = (boundary - grid.start + window) // grid.step
        first_raw_t = grid.start + (num_ds_steps + 1) * grid.step
        if grid.end - window < boundary or first_raw_t > grid.end:
            return "all_ds"
        return first_raw_t

    def _check_ds_lookback(self, fn: str, window: int) -> None:
        """Reject rate/increase lookbacks that cannot hold two samples
        of downsampled data — message verbatim from
        PeriodicSamplesMapper.scala:98-101,123-126 (the toggler-fn
        guard the reference applies on its downsample datasets;
        error golden DownsamplerMainSpec.scala:2278-2302)."""
        res = self.store.ds_resolution_ms
        if res and window < 2 * res and fn in (
                "rate", "increase", "rate_delta", "increase_delta"):
            raise ValueError(
                f"Minimum resolution of data for this time range is "
                f"{res}ms. However, a lookback of {window}ms was chosen. "
                f"This will not yield intended results for rate/increase "
                f"functions since each lookback window can contain lesser "
                f"than 2 samples. Increase lookback to more than "
                f"{2 * res}ms")

    def _ds_select(self, sel: A.VectorSelector) -> DataFrame:
        """Scope the downsampled counter/hist tables with the SAME
        selector semantics as the raw scan: a shallow TsStore view
        whose sample tables are the downsample ones reuses
        TsStore.select (metric binding, _sum/_count/_bucket rewrites,
        matcher pushdown) verbatim. Missing DS tables present as empty
        raw-schema frames so absent schemas contribute no DS rows."""
        out = self.store.ds_view().select(sel)
        return out.withColumn("_sk",
                              bin_k.series_key(F.col("labels")))

    def _ds_gauge_part(self, sel: A.VectorSelector, fn: str,
                       grid: StepGrid, window: int,
                       params: tuple = ()) -> DataFrame:
        """Pre-boundary steps evaluated on the ds-GAUGE rewrite table:
        exact rollup re-aggregation where one exists (_DS_REWRITE via
        range_function_ds), else the raw kernel over (ts=tTime,
        value=avg) pseudo-samples — the reference's DS cluster runs
        non-rewritable fns over the dataset's declared value column the
        same way. Returns (_sk, t, value)."""
        from filodb_spark.streaming.downsample import (_DS_REWRITE,
                                                       range_function_ds)
        # full selector semantics on the DS side too (a matcher that
        # only the raw side honored would return extra series on steps
        # before the retention boundary)
        ds = self.store.ds_gauge_select(sel).withColumn(
            "_sk", bin_k.series_key(F.col("labels")))
        if fn in _DS_REWRITE:
            return range_function_ds(ds, fn, ["_sk"], grid, window)
        return range_function(
            ds.select("_sk", "ts", F.col("avg").alias("value")),
            fn, ["_sk"], grid, window, params=params)

    def _ds_counter_part(self, sel: A.VectorSelector, fn: str,
                         grid: StepGrid, window: int,
                         params: tuple) -> DataFrame:
        """Pre-boundary steps evaluated on the downsampled COUNTER
        table with the raw kernels (the DS rows keep the raw schema).
        Also serves <m>_sum/_count/_bucket scalar rewrites from the
        hist DS table (via ds_view's select). Returns (_sk, t, value)."""
        dsf = self._ds_select(sel)
        if "hist" in dsf.columns:
            # a metric-less selector whose DS-side multischema probe
            # resolved HIST while the raw side resolved a scalar schema
            # (possible only for hist series retired pre-boundary):
            # hist-typed rows cannot union with value-typed output —
            # the hist branch owns hist-schema DS routing
            dsf = (dsf.select("labels", "ts",
                              F.col("sum").alias("value"), "_sk")
                   .where(F.lit(False)))
        return range_function(dsf, fn, ["_sk"], grid, window,
                              params=params)

    def _tiling_arg(self, fn: str, sel: A.VectorSelector, grid: StepGrid,
                    window: int) -> bool | None:
        """range_function's tiling param: False (grid explode) in the
        sparse regime, None (range_function's own ratio rule) otherwise.

        The tiled plan's win is collapsing many in-window samples per
        (series, k_min, k_max) group; when the part-key table is attached
        and its per-series (samples, span) stats put the scrape interval
        at or above the step, groups hold ~1 sample each and tiling only
        pays its ~2x pair-stream group overhead, so stay on explode."""
        if fn in TILEABLE and window // grid.step >= TILE_RATIO:
            scrape = self._estimate_scrape_ms(sel)
            if scrape is not None and scrape >= grid.step:
                return False
        return None

    def _estimate_scrape_ms(self, sel: A.VectorSelector) -> float | None:
        """Plan-time scrape-interval estimate from the part-key table:
        sum(span) / sum(samples - 1) over the selector's series — one
        O(series) aggregate against the index, never the sample table
        (the reference plans against index cardinalities the same way,
        QueryContext.scala:385-470). None when no index is attached or
        the selector has no multi-sample series.

        Memoized per (metric, matchers): a dashboard re-issuing the
        same selectors must not pay the index aggregate on every query
        (scrape intervals are deployment constants; the cache lives as
        long as the engine — rebuild the engine after reattaching a
        materially different index)."""
        if self.store.partkey_df is None:
            return None

        def estimate():
            pk = self.store.select_partkeys(sel)
            if pk is None:
                return None
            row = pk.where(F.col("samples") > 1).agg(
                F.sum(F.col("last_ts") - F.col("first_ts")).alias("span"),
                F.sum(F.col("samples") - 1).alias("gaps")).first()
            if row is not None and row["gaps"]:
                return row["span"] / row["gaps"]
            return None
        return self._scrape_cache.get(
            (sel.metric, tuple((m.name, m.op, m.value) for m in sel.matchers)),
            estimate)

    def _run_range_fn(self, sel: A.VectorSelector, grid: StepGrid,
                      window: int, fn: str, params: tuple) -> DataFrame:
        if fn == "absent_over_time":
            # BEFORE the scan (it would be dead work): presence through
            # the FULL routed evaluation (raw/DS split + schema
            # fan-out) — a series whose samples survive only in the
            # downsample tables is still PRESENT on pre-boundary steps;
            # the raw-only evaluation used to report it absent
            try:
                present = self._run_range_fn(sel, grid, window,
                                             "present_over_time", ())
            except ValueError as e:
                # the histogram-schema rejection fires inside the
                # recursive call — re-raise naming the fn the user
                # actually wrote, not the internal presence probe
                if "not defined over histograms" in str(e):
                    raise ValueError(
                        "absent_over_time is not defined over "
                        "histograms") from None
                raise
            return self._absent_from(present, sel.matchers, grid)
        lo, hi = grid.start - window, grid.end
        df = self._scan(sel, lo, hi)
        if "hist" in df.columns:
            # histogram schema: per-bucket kernels (extrapolatedRateH)
            if fn not in self.HIST_RANGE_FNS:
                raise ValueError(f"{fn} is not defined over histograms")
            from filodb_spark.kernels.histogram import hist_range_function
            # raw/DS split for histogram schemas: the downsampled hist
            # table is a dip-preserving row subset with the raw schema
            # (downsample_hist), so the same per-bucket kernels run on
            # both sides (DownsampledTimeSeriesShard serves
            # prom-histogram queries from its own downsample dataset
            # the same way)
            split = self._ds_split(grid, window) \
                if self.store.ds_hist_df is not None else None
            if split is None:
                out = hist_range_function(df, fn, ["_sk"], grid, window)
            else:
                self._check_ds_lookback(fn, window)
                out = hist_range_function(self._ds_select(sel), fn, ["_sk"],
                                          grid, window)
                if split != "all_ds":
                    raw = hist_range_function(df, fn, ["_sk"], grid, window)
                    # min/max companions survive the stitch only when
                    # BOTH tables carry them (a min/max-less DS mount
                    # cannot answer the pre-boundary companion values)
                    cols = ["_sk", "t", "hist",
                            *(c for c in ("hmin", "hmax")
                              if c in out.columns and c in raw.columns)]
                    out = raw.where(F.col("t") >= split).select(*cols) \
                        .unionByName(out.where(F.col("t") < split)
                                     .select(*cols))
            keep = [c for c in ("hmin", "hmax") if c in out.columns]
            return out.select(_key_labels(), "t", "hist", *keep)
        # delta-counter schema toggling: rate = sum(window)/window_sec
        if sel.metric in self.store.delta_metrics:
            fn = {"rate": "rate_delta", "increase": "increase_delta"}.get(fn, fn)
        # raw/downsample split (LongTimeRangePlanner.scala:110-171): an
        # instant may evaluate on the raw table ONLY if its whole
        # lookback window lies inside raw retention — instants whose
        # window crosses the boundary go to the DS table (the old
        # `t >= boundary` split silently under-read truncated raw
        # windows for instants in [boundary, boundary+window)).
        from filodb_spark.streaming.downsample import _DS_REWRITE
        # the caller already shifted the grid by the selector offset
        # (_eval_range_fn: StepGrid(start - offset, ...)), so this grid
        # IS the reference's startWithOffsetMs/endWithOffsetMs space —
        # "offset compensates for the retention boundary" falls out.
        #
        # Which DS dataset(s) serve the pre-boundary steps: the gauge
        # rewrite table (ds_df, *_over_time fns via _DS_REWRITE), the
        # counter table (ds_counter_df — a dip-preserving row subset /
        # period-sum rows with the RAW schema, so the ordinary counter
        # kernels evaluate on it directly, no rewrite), or both. For
        # fns in both sets (last_over_time / the default instant
        # lookback) with both tables mounted, routing is by the
        # METRIC'S SCHEMA (ds_schema_of), matching the reference's
        # per-schema datasets (DownsampledTimeSeriesShard.scala:96) —
        # fn-based preference here silently dropped pre-boundary
        # instants for counter metrics absent from the gauge rollup.
        # A metric-less selector fans out to BOTH datasets (a series
        # lives in exactly one; the gauge side wins a pathological
        # double hit), like MultiSchemaPartitionsExec's schema fan-out.
        gauge_ok = self.store.ds_df is not None and \
            (fn in _DS_REWRITE or fn in self.GAUGE_DS_AVG_FNS)
        # the "counter" side evaluates the RAW kernels on _ds_select,
        # which serves the counter DS table AND the hist-rewrite
        # (<m>_sum/_count/_bucket) scalar selectors from the hist DS
        # table — so it is available whenever ds_view() exists, not
        # only with a counter table mounted (the r11 audit found
        # boundary-crossing increase(h_sum) staying raw-truncated on
        # hist-only DS mounts)
        counter_ok = (self.store.ds_view() is not None
                      and fn in self.COUNTER_DS_FNS)
        # split BEFORE schema resolution: recent-range queries (split
        # is None — by far the common case) must not pay even the
        # memoized schema-probe jobs
        split = self._ds_split(grid, window) \
            if (gauge_ok or counter_ok) else None
        if split is None:
            sides = ()
        elif gauge_ok and counter_ok:
            ds_schema = self.store.ds_schema_of(sel.metric)
            if ds_schema == "counter":
                sides = ("counter",)
            elif ds_schema == "gauge" or sel.metric is not None:
                # named metric in neither DS table: both sides are
                # empty pre-boundary; keep the gauge plan (no counter
                # lookback guard fires for data that does not exist)
                sides = ("gauge",)
            else:
                sides = ("gauge", "counter")
        elif gauge_ok:
            sides = ("gauge",)
        else:
            sides = ("counter",)
        out = None
        if sides:
            parts = []
            for side in sides:
                if side == "gauge":
                    parts.append(self._ds_gauge_part(
                        sel, fn, grid, window, params))
                else:
                    self._check_ds_lookback(fn, window)
                    parts.append(self._ds_counter_part(
                        sel, fn, grid, window, params))
            out = parts[0]
            if len(parts) == 2:
                # schema fan-out dedup: drop counter-side series
                # that the gauge dataset also carries
                gauge_keys = parts[0].select("_sk").distinct()
                out = out.unionByName(
                    parts[1].join(gauge_keys, "_sk", "left_anti"))
        # split == "all_ds": long lookback, the whole grid on the DS
        # cluster (LongTimeRangePlanner.scala:123-151) — no raw side
        if split != "all_ds":
            if fn in ("mad_over_time", "last_over_time_is_mad_outlier"):
                # the mad kernels take no tiling/stale-marker args
                # (full-window medians)
                raw = range_function(df, fn, ["_sk"], grid, window,
                                     params=params)
            else:
                # _run_range_fn is the RAW-data path: last/last_over_time
                # (and the default instant lookback routed here) honor
                # NaN staleness markers (LastSampleChunkedFunctionD,
                # RangeFunction.scala:541-546); the subquery path
                # (_eval_subquery) keeps last-non-NaN semantics
                raw = range_function(
                    df, fn, ["_sk"], grid, window, params=params,
                    tiling=self._tiling_arg(fn, sel, grid, window),
                    honor_stale_marker=True)
            out = raw if out is None else \
                raw.where(F.col("t") >= split).unionByName(
                    out.where(F.col("t") < split))
        return out.select(_key_labels(), "t", "value")

    def _absent_from(self, present: DataFrame, matchers,
                     grid: StepGrid) -> DataFrame:
        """AbsentFunctionMapper (RangeVectorTransformer.scala:422-480):
        emit 1 at steps with no input series; labels from = matchers.
        The metric name is not part of absent() labels."""
        entries = [(m.name, m.value) for m in matchers if m.op == "="]
        lab = F.create_map(*[F.lit(x) for kv in entries for x in kv]) \
            if entries else F.create_map().cast("map<string,string>")
        present_ts = present.select("t").distinct()
        out = self._grid_df(grid).join(present_ts, "t", "left_anti")
        return out.select(lab.alias("labels"), "t", F.lit(1.0).alias("value"))

    # ---- main dispatch --------------------------------------------------

    def _eval(self, e: A.Expr, grid: StepGrid):
        if isinstance(e, A.Paren):
            return self._eval(e.expr, grid)
        if isinstance(e, A.NumberLiteral):
            return Scalar(const=e.value)
        if isinstance(e, A.StringLiteral):
            return e.value
        if isinstance(e, A.Unary):
            inner = self._eval(e.expr, grid)
            if e.op == "+":
                return inner
            if isinstance(inner, Scalar):
                if inner.is_const:
                    return Scalar(const=-inner.const)
                return Scalar(df=inner.df.withColumn("value", -F.col("value")))
            return inner.withColumn("value", -F.col("value"))
        if isinstance(e, A.VectorSelector):
            return self._eval_selector(e, grid, None)
        if isinstance(e, A.MatrixSelector):
            raise ValueError("range selector must be wrapped in a function")
        if isinstance(e, A.FunctionCall):
            return self._eval_function(e, grid)
        if isinstance(e, A.Aggregation):
            return self._eval_aggregation(e, grid)
        if isinstance(e, A.BinaryOp):
            return self._eval_binary(e, grid)
        if isinstance(e, A.Subquery):
            # top-level subquery expr[w:s] (TopLevelSubquery,
            # LogicalPlan.scala:502-543): evaluate the inner expression on
            # the subquery's own grid over [end-w, end]
            sub_step = e.step_ms or 60_000
            end = grid.end - e.offset_ms
            start = end - e.range_ms
            g = StepGrid(-(-start // sub_step) * sub_step,
                         (end // sub_step) * sub_step, sub_step)
            out = self._vector(e.expr, g)
            if e.offset_ms:
                out = out.withColumn(
                    "t", (F.col("t") + F.lit(e.offset_ms)).cast("long"))
            return out
        raise TypeError(f"cannot evaluate {e!r}")

    # ---- functions ------------------------------------------------------

    TIME_COMPONENT_FNS = {"days_in_month", "day_of_month", "day_of_week",
                          "hour", "minute", "month", "year"}

    def _eval_function(self, e: A.FunctionCall, grid: StepGrid):
        name = e.name
        if name in self.TIME_COMPONENT_FNS and not e.args:
            # no-arg form is a SCALAR: component of the evaluation timestep
            # (ScalarFunctionId + TimeScalarGeneratorExec — HourScalar et
            # al. are scalar plans, so vector(hour()) and hour() + m must
            # see a scalar operand; ScalarFunctionSpec.scala:176-211)
            return Scalar(df=self._grid_df(grid).withColumn(
                "value", instant_fn_expr(name, F.col("t") / 1000.0)))
        if name == "_filodb_chunkmeta_all":
            # debug: physical chunk metadata (FiloFunctionId.ChunkMetaAll,
            # SelectChunkInfosExec) — parquet row-group stats are the
            # engine's "chunks"; file-backed stores only
            if self.store.table_path is None:
                raise ValueError(
                    "_filodb_chunkmeta_all requires a file-backed store "
                    "(TsStore.from_table)")
            from filodb_spark.metadata import chunk_meta
            return chunk_meta(self.spark, self.store.table_path)
        if name in ("no_optimize", "optimize_with_agg"):
            # FiloDB plan-rewrite hints (PlanEnums.scala:183-184,
            # LogicalPlan.scala:74-119): toggle preagg routing for the
            # wrapped subtree
            prev = self._preagg_enabled
            self._preagg_tls.enabled = name == "optimize_with_agg"
            try:
                return self._eval(e.args[0], grid)
            finally:
                self._preagg_tls.enabled = prev
        if name in RANGE_FN_MAP:
            return self._range_call(RANGE_FN_MAP[name], e.args[0], grid, ())
        if name == "last_over_time_is_mad_outlier":
            # (tolerance, bounds, v[w]) — PlanEnums.scala:81-82 param order
            tol = self._const(e.args[0])
            b = self._const(e.args[1])
            return self._range_call(name, e.args[2], grid, (tol, b))
        if name in PARAM_RANGE_FNS:
            if name == "holt_winters":
                sf = self._const(e.args[1])
                tf = self._const(e.args[2])
                return self._range_call("holt_winters", e.args[0], grid, (sf, tf))
            p = self._const(e.args[1] if name == "predict_linear" else e.args[0])
            arg = e.args[0] if name == "predict_linear" else e.args[1]
            return self._range_call(name, arg, grid, (p,))
        if name == "timestamp":
            v = self._vector(e.args[0], grid)
            # ts (sec) of the sample at each step: for selector args this is
            # the lookback'd last sample's ts
            if isinstance(e.args[0], A.VectorSelector):
                return self._eval_selector(e.args[0], grid, None, fn="timestamp")
            return v.withColumn("value", F.col("t") / 1000.0)
        if name == "absent":
            arg = e.args[0]
            v = self._vector(arg, grid)
            return self._absent_from(
                v.where(~F.isnan("value")),
                arg.matchers if isinstance(arg, A.VectorSelector) else (),
                grid)
        if name == "scalar":
            inner = self._eval(e.args[0], grid)
            if isinstance(inner, Scalar):
                # scalar() of an already-scalar plan is the identity —
                # the reference round-trips scalar(time()) et al.
                # (LogicalPlanParserSpec)
                return inner
            v = inner
            # single-series check: NaN when != 1 series at a step
            per_t = v.groupBy("t").agg(
                F.count(F.lit(1)).alias("_n"), F.first("value").alias("_v"))
            sdf = self._grid_df(grid).join(per_t, "t", "left").select(
                "t", F.when(F.col("_n") == 1, F.col("_v"))
                     .otherwise(F.lit(float("nan"))).alias("value"))
            return Scalar(df=sdf)
        if name == "vector":
            s = self._eval(e.args[0], grid)
            if not isinstance(s, Scalar):
                raise ValueError("vector() expects a scalar")
            return self._scalar_to_vector(s, grid)
        if name == "time":
            return Scalar(df=self._grid_df(grid)
                          .withColumn("value", F.col("t") / 1000.0))
        if name == "pi":
            # Prometheus 2.31+ (promql/functions.go funcPi); constant
            # scalar on the grid like time()
            import math as _math
            return Scalar(df=self._grid_df(grid)
                          .withColumn("value", F.lit(_math.pi)))
        if name in ("label_replace", "label_join"):
            return self._eval_label_fn(e, grid)
        if name in ("sort", "sort_desc"):
            # order by each series' last value (RangeVectorTransformer
            # .scala:302-337); presentation-level ordering of the result
            v = self._vector(e.args[0], grid)
            sk = bin_k.canonical_labels(F.col("labels"))
            last = (v.withColumn("_sk", sk)
                     .groupBy("_sk")
                     .agg(F.max_by("value", "t").alias("_lastv")))
            ordered = (v.withColumn("_sk", sk).join(last, "_sk"))
            key = F.col("_lastv").asc() if name == "sort" \
                else F.col("_lastv").desc()
            return (ordered.orderBy(key, F.col("_sk"), F.col("t"))
                    .select("labels", "t", "value"))
        if name == "limit":
            # limit(k, v): keep k series (LimitFunctionId,
            # ApplyLimitFunction LogicalPlan.scala:948-963)
            k = int(self._const(e.args[0]))
            return _limit_series(self._vector(e.args[1], grid), k)
        if name == "histogram_bucket":
            # extract one bucket as a series (InstantFunction.scala:117)
            le = self._const(e.args[0])
            v = self._vector(e.args[1], grid)
            if "hist" not in v.columns:
                raise ValueError("histogram_bucket needs a histogram vector")
            h = F.col("hist")
            idx = F.array_position(h["les"], float(le))
            val = F.when(idx > 0, F.element_at(h["values"], idx.cast("int"))) \
                .otherwise(F.lit(float("nan")))
            return v.select("labels", "t", val.alias("value"))
        if name in ("histogram_quantile", "histogram_max_quantile",
                    "histogram_max_quantile_even"):
            q = self._const(e.args[0])
            v = self._vector(e.args[1], grid)
            if "hist" in v.columns:
                from filodb_spark.kernels.histogram import hist_quantile
                use_max = name != "histogram_quantile"
                if use_max and "hmax" not in v.columns:
                    raise ValueError(f"{name} requires a max-column schema")
                val = hist_quantile(
                    q, F.col("hist"),
                    min_hint=F.col("hmin") if "hmin" in v.columns else None,
                    max_hint=F.col("hmax") if use_max else None,
                    even_distribution=name.endswith("_even"),
                    exponential=self._arg_is_exp_hist(e.args[1]))
                return v.select("labels", "t", val.alias("value"))
            if name != "histogram_quantile":
                raise ValueError(f"{name} requires a histogram-schema metric")
            return self._histogram_quantile_buckets(q, v)
        if name == "hist_to_prom_vectors":
            # histogram column -> one series per bucket with an `le`
            # label (HistToPromSeriesMapper,
            # RangeVectorTransformer.scala:497-573)
            v = self._vector(e.args[0], grid)
            if "hist" not in v.columns:
                raise ValueError("hist_to_prom_vectors needs a histogram vector")
            from filodb_spark.kernels.histogram import \
                hist_to_prom_bucket_vectors
            return hist_to_prom_bucket_vectors(v, metric_label=METRIC)
        if name == "histogram_fraction":
            lo = self._const(e.args[0])
            hi = self._const(e.args[1])
            v = self._vector(e.args[2], grid)
            if "hist" not in v.columns:
                raise ValueError("histogram_fraction needs a histogram vector")
            from filodb_spark.kernels.histogram import hist_fraction
            return v.select("labels", "t",
                            hist_fraction(lo, hi, F.col("hist")).alias("value"))
        if name in INSTANT_FUNCTIONS:
            if name in ("clamp", "clamp_max", "clamp_min", "round", "or_vector"):
                v = self._vector(e.args[0], grid)
                # params may be dynamic scalars (scalar(expr)) — the
                # reference feeds them per-step via ExecPlanFuncArgs;
                # here a non-const Scalar plan joins in on t.
                # Arity requires (InstantFunction.scala ClampMaxImpl/
                # ClampMinImpl/ClampImpl/Round; InstantFunctionSpec
                # :180-214): missing or extra params are plan errors,
                # never a silent default or an index crash
                n_params = len(e.args) - 1
                arity = {"clamp": (2, 2), "clamp_max": (1, 1),
                         "clamp_min": (1, 1), "round": (0, 1),
                         "or_vector": (1, 1)}[name]
                if not arity[0] <= n_params <= arity[1]:
                    want = (f"exactly {arity[0]}" if arity[0] == arity[1]
                            else f"{arity[0]} to {arity[1]}")
                    raise ValueError(
                        f"wrong number of parameters for function {name}: "
                        f"expected {want}, got {n_params}")
                params = []
                for i, a in enumerate(e.args[1:]):
                    p = self._eval(a, grid)
                    if not isinstance(p, Scalar):
                        raise ValueError(
                            f"{name} parameter must be a scalar")
                    if p.is_const:
                        params.append(float(p.const))
                    elif name == "or_vector":
                        # the empty-source fallback needs a plan-time
                        # default; keep this one constant-only
                        raise ValueError(
                            "or_vector default must be a constant scalar")
                    else:
                        pc = f"_p{i}"
                        v = v.join(p.df.withColumnRenamed("value", pc), "t")
                        params.append(F.col(pc))
                params = tuple(params)
                out = v.withColumn("value",
                                   instant_fn_expr(name, F.col("value"), params))
                out = out.drop(*[f"_p{i}" for i in range(len(params))])
                if name == "or_vector":
                    # Empty source -> one static series over the grid
                    # (InstantFunctionSpec.scala:236-260: OrVectorDouble on
                    # zero range vectors emits vector(default)). A 1-row
                    # marker + left_anti keeps the plan lazy: the fallback
                    # rows survive only when the source produced nothing.
                    marker = v.select(F.lit(1).alias("_m")).limit(1)
                    fallback = (self._grid_df(grid)
                                .join(marker, F.lit(True), "left_anti")
                                .select(F.create_map()
                                        .cast("map<string,string>")
                                        .alias("labels"),
                                        "t",
                                        F.lit(float(params[0]))
                                        .alias("value")))
                    out = out.unionByName(fallback)
                return out
            if len(e.args) > 1:
                # extra scalar params parse (Functions.scala otherParams)
                # but the executor rejects the count, like the reference
                raise ValueError(
                    f"wrong number of parameters for function {name}: "
                    f"expected 1, got {len(e.args)}")
            v = self._vector(e.args[0], grid)
            return v.withColumn("value", instant_fn_expr(name, F.col("value")))
        raise ValueError(f"unsupported function: {name}")

    def _arg_is_exp_hist(self, e: A.Expr) -> bool:
        """Static provenance check: does this subtree select a base-2
        exponential histogram metric (scheme chosen at plan time, like
        the reference's per-chunk bucket-scheme dispatch)?"""
        if isinstance(e, A.VectorSelector):
            return e.metric in self.store.exp_hist_metrics
        if isinstance(e, A.MatrixSelector):
            return self._arg_is_exp_hist(e.base)
        if isinstance(e, A.Paren):
            return self._arg_is_exp_hist(e.expr)
        if isinstance(e, (A.FunctionCall, A.Aggregation)):
            args = e.args if isinstance(e, A.FunctionCall) else (e.expr,)
            return any(self._arg_is_exp_hist(a) for a in args)
        return False

    def _range_call(self, fn: str, arg: A.Expr, grid: StepGrid, params: tuple):
        if isinstance(arg, A.MatrixSelector):
            window = arg.range_ms * grid.step if arg.step_multiple \
                else arg.range_ms
            return self._eval_selector(arg.base, grid, window, fn=fn,
                                       params=params)
        if isinstance(arg, A.Subquery):
            return self._eval_subquery(fn, arg, grid, params)
        raise ValueError(f"{fn} requires a range vector argument")

    def _eval_subquery(self, fn: str, sq: A.Subquery, grid: StepGrid,
                       params: tuple) -> DataFrame:
        """fn(expr[w:s]): evaluate inner at substep grid, then apply the
        range function over the derived samples
        (LogicalPlan.scala:435-500, DefaultPlanner subquery path)."""
        sub_step = sq.step_ms or 60_000
        inner_grid = StepGrid(
            -(-(grid.start - sq.range_ms - sq.offset_ms) // sub_step) * sub_step,
            grid.end - sq.offset_ms, sub_step).aligned()
        inner = self._vector(sq.expr, inner_grid)
        samples = inner.select(bin_k.series_key(F.col("labels")).alias("_sk"),
                               F.col("t").alias("ts"), "value")
        eval_grid = grid if not sq.offset_ms else \
            StepGrid(grid.start - sq.offset_ms, grid.end - sq.offset_ms, grid.step)
        out = range_function(samples, fn, ["_sk"], eval_grid, sq.range_ms,
                             params=params)
        if sq.offset_ms:
            out = out.withColumn("t", (F.col("t") + F.lit(sq.offset_ms)).cast("long"))
        return out.select(_key_labels(), "t", "value")

    # dst/src label identifier rule (MiscellaneousFunction.scala:15)
    _LABEL_IDENT = r"[a-zA-Z_][a-zA-Z0-9_:\-\.]*"

    def _regex_group_count(self, regex: str) -> int:
        """Plan-time regex validation + capture-group count
        (LabelReplaceFunction requires, MiscellaneousFunction.scala:28-35).
        Python re covers the overwhelming syntax intersection; Java-only
        constructs fall back to counting unescaped capture groups."""
        import re as _re
        for candidate in (regex, _re.sub(r"([*+?}])\+", r"\1", regex)):
            # second candidate strips Java possessive quantifiers
            # (python-invalid) so the group count still resolves
            try:
                return _re.compile(candidate).groups
            except _re.error:
                continue
        raise ValueError("Invalid Regular Expression for label_replace")

    def _eval_label_fn(self, e: A.FunctionCall, grid: StepGrid) -> DataFrame:
        import re as _re
        v = self._vector(e.args[0], grid)
        labels = F.col("labels")
        if e.name == "label_replace":
            dst, repl, src, regex = (self._str(a) for a in e.args[1:5])
            if not _re.fullmatch(self._LABEL_IDENT, dst):
                raise ValueError("Invalid destination label name")
            n_groups = self._regex_group_count(regex)
            src_val = F.coalesce(labels[src], F.lit(""))
            anchored = f"^(?:{regex})$"
            # Reference replacement algorithm (MiscellaneousFunction.scala
            # :57-63): sequential LITERAL replace of "$i" for i=1..n with
            # group(i), then strip any remaining $ref — nonexistent group
            # references become empty instead of erroring (Java's
            # regexp_replace would throw "Illegal group reference")
            new_val = F.lit(repl)
            for i in range(1, n_groups + 1):
                new_val = F.replace(new_val, F.lit(f"${i}"),
                                    F.regexp_extract(src_val, anchored, i))
            new_val = F.regexp_replace(new_val, r"\$[A-Za-z0-9]+", "")
            matches = src_val.rlike(anchored)
            updated = F.when(
                matches & (new_val != ""),
                F.map_concat(F.map_filter(labels, lambda k, _: k != dst),
                             F.create_map(F.lit(dst), new_val))
            ).when(
                matches & (new_val == ""),
                F.map_filter(labels, lambda k, _: k != dst)
            ).otherwise(labels)
            return v.withColumn("labels", updated)
        # label_join(v, dst, sep, src...)
        dst = self._str(e.args[1])
        sep = self._str(e.args[2])
        srcs = [self._str(a) for a in e.args[3:]]
        if not _re.fullmatch(self._LABEL_IDENT, dst):
            raise ValueError("Invalid destination label name in label_join()")
        for s in srcs:
            if not _re.fullmatch(self._LABEL_IDENT, s):
                raise ValueError("Invalid source label name in label_join()")
        joined = F.concat_ws(sep, *[F.coalesce(labels[s], F.lit("")) for s in srcs])
        updated = F.when(
            joined != "",
            F.map_concat(F.map_filter(labels, lambda k, _: k != dst),
                         F.create_map(F.lit(dst), joined))
        ).otherwise(F.map_filter(labels, lambda k, _: k != dst))
        return v.withColumn("labels", updated)

    def _histogram_quantile_buckets(self, q: float, v: DataFrame) -> DataFrame:
        """Prometheus-style `_bucket` series with an `le` label
        (HistogramQuantileMapper.scala:23-150): group buckets per series,
        cumulative-LE linear interpolation (Histogram.scala:62-112)."""
        labels = F.col("labels")
        no_le = F.map_filter(labels, lambda k, _: k != "le")
        le_raw = labels["le"]
        le_num = F.when(le_raw.isin("+Inf", "Inf", "inf"),
                        F.lit(float("inf"))).otherwise(le_raw.cast("double"))
        b = (v.select(bin_k.series_key(no_le).alias("_sk"), "t", "value",
                      le_num.alias("le"))
              .where(F.col("le").isNotNull()))
        per = (b.groupBy("_sk", "t")
                .agg(F.array_sort(F.collect_list(F.struct("le", "value")))
                     .alias("_buckets")))
        from filodb_spark.kernels.histogram import (hist_quantile,
                                                    hist_struct,
                                                    monotonic_values)
        # makeMonotonic repair (HistogramQuantileMapper.scala:139-147):
        # non-atomic scrapes / bucket-set changes can dip or NaN the
        # cumulative counts — replaced with the running max before
        # interpolation, exactly as the reference mapper does
        h = hist_struct(
            F.transform("_buckets", lambda p: p["le"]),
            monotonic_values(F.transform("_buckets", lambda p: p["value"])))
        return per.select(_key_labels(), "t",
                          hist_quantile(q, h).alias("value"))

    # ---- aggregation ----------------------------------------------------

    PREAGG_FNS = {"sum_over_time", "rate", "increase", "count_over_time"}
    # min(min_over_time) / max(max_over_time) route to the preagg
    # min/max columns (AggLpOptimization.scala:179-193)
    PREAGG_MINMAX = {("min", "min_over_time"): ":min",
                     ("max", "max_over_time"): ":max"}

    def _maybe_preagg_rewrite(self, e: A.Aggregation,
                              grid: StepGrid | None = None) -> A.Aggregation:
        """AggLpOptimization.optimizeWithPreaggregatedDataset: rewrite
        sum(fn(m[w])) [by (...)] — and min(min_over_time)/
        max(max_over_time) — to the pre-aggregated metric when a rule
        retains every label the query touches. count_over_time becomes
        sum_over_time of the preagg count metric."""
        rules = self.store.agg_rules or {}
        if e.op not in ("sum", "min", "max") or not self._preagg_enabled:
            return e
        # freshness guard (AggLpOptimization aggDelay: pre-aggregated data
        # lags ingest): don't route queries that reach past the watermark
        ready = self.store.preagg_ready_until_ms
        if ready is not None and grid is not None and grid.end > ready:
            return e
        f = e.expr
        if isinstance(f, A.Paren):
            f = f.expr
        if not (isinstance(f, A.FunctionCall)
                and len(f.args) == 1 and isinstance(f.args[0], A.MatrixSelector)):
            return e
        sel = f.args[0].base
        if sel.metric is None or any(m.op != "=" for m in sel.matchers):
            return e
        # re-optimization: a query already on a preagg metric
        # (base:::suffix[:col]) may move to a better (higher-level) rule
        # (metricNameWithoutSuffix, AggLpOptimization.scala:238)
        base, cur_col = sel.metric, None
        if ":::" in sel.metric:
            base, rest = sel.metric.split(":::", 1)
            cur_col = ""
            for ext in (":count", ":min", ":max"):
                if rest.endswith(ext):
                    cur_col = ext
        if cur_col is None:  # raw metric: fn decides target column
            if e.op == "sum":
                if f.name not in self.PREAGG_FNS:
                    return e
                col_suffix = ":count" if f.name == "count_over_time" else ""
                fn_name = ("sum_over_time" if f.name == "count_over_time"
                           else f.name)
            else:
                col_suffix = self.PREAGG_MINMAX.get((e.op, f.name))
                if col_suffix is None:
                    return e
                fn_name = f.name
        else:  # already aggregated: keep fn and column, only move levels
            # op/fn/column must agree (the spec's "weird cases": a query
            # already on the WRONG aggregation column — min(rate(::sum)),
            # sum(rate(::min)) — must not be optimized,
            # AggLpOptimizationSpec.scala:197-210). count_over_time over a
            # preagg selector counts THAT level's samples — series count
            # differs per level, so moving levels changes the value; the
            # reference only optimizes CountOverTime on a raw metric
            # (rewritten to SumOverTime on ::count, which is
            # level-invariant) and refuses it on ::count selectors
            # (AggLpOptimization.scala getAggOpForRangeFunction).
            sum_ok = (e.op == "sum"
                      and f.name in self.PREAGG_FNS - {"count_over_time"}
                      and cur_col in ("", ":count"))
            minmax_ok = self.PREAGG_MINMAX.get((e.op, f.name)) == cur_col
            if not (sum_ok or minmax_ok):
                return e
            col_suffix, fn_name = cur_col, f.name
        if base not in rules:
            return e
        filter_tags = {m.name for m in sel.matchers}
        # group rule versions by suffix; a suffix is routable only when
        # EVERY version retains, every version is active, and the oldest
        # predates the query start; among routable suffixes pick the
        # best (most excluded / fewest included labels)
        by_suffix: dict[str, list] = {}
        for rule in rules[base]:
            by_suffix.setdefault(rule.suffix, []).append(rule)
        chosen = None
        for versions in by_suffix.values():
            if not all(r.routable(filter_tags, e.by, e.without)
                       for r in versions):
                continue
            if not all(r.active for r in versions):
                continue
            if grid is not None and \
                    min(r.effective_from_ms for r in versions) > grid.start:
                continue
            cand = versions[-1]
            if chosen is None or cand.better_than(chosen):
                chosen = cand
        if chosen is None:
            return e
        import dataclasses
        metric = preagg_metric_name(base, chosen.suffix + col_suffix)
        if metric == sel.metric:
            return e
        new_sel = dataclasses.replace(sel, metric=metric)
        new_fn = A.FunctionCall(
            fn_name, (dataclasses.replace(f.args[0], base=new_sel),))
        return dataclasses.replace(e, expr=new_fn)

    def _exp_merge_target(self, e: A.Expr) -> list[float] | None:
        """If the aggregated expression reads base-2 exponential histogram
        metrics whose stored series mix bucket schemes, return the merged
        scheme's bounds (min scale, union range, capped positive-bucket
        count — Base2ExpHistogramBuckets.add); else None (strict same-
        scheme semantics). One small plan-time distinct over the store's
        pruned hist scan — scheme counts per metric are tiny."""
        if not self._arg_is_exp_hist(e) or self.store.hist_df is None:
            return None
        from filodb_spark.kernels.histogram import (base2_exp_les,
                                                    base2_exp_merged_scheme,
                                                    les_to_base2_exp_scheme)

        def selector_metrics(x: A.Expr) -> set:
            if isinstance(x, A.VectorSelector):
                return {x.metric} if x.metric else set()
            if isinstance(x, A.MatrixSelector):
                return selector_metrics(x.base)
            if isinstance(x, A.Paren):
                return selector_metrics(x.expr)
            if isinstance(x, (A.FunctionCall, A.Aggregation)):
                args = x.args if isinstance(x, A.FunctionCall) else (x.expr,)
                return set().union(*(selector_metrics(a) for a in args))
            return set()

        metrics = [m for m in selector_metrics(e)
                   if m in self.store.exp_hist_metrics]
        if not metrics:
            return None
        schemes_rows = (self.store.hist_df
                        .where(F.col("labels")["__name__"].isin(metrics))
                        .select(F.col("hist")["les"].alias("les"))
                        .distinct().collect())
        parsed = [les_to_base2_exp_scheme(r["les"]) for r in schemes_rows]
        if len(parsed) < 2 or any(p is None for p in parsed):
            return None
        return base2_exp_les(*base2_exp_merged_scheme(parsed))

    def _enforce_groupby_limit(self, grouped: DataFrame, out: DataFrame,
                               value_field: str = "value") -> DataFrame:
        """Group-by cardinality limit (AggrOverRangeVectors.scala:236-253)
        in the same lazy assert_true pattern as the join duplicate-key
        check: union a frame that is empty while the distinct-group count
        stays within the limit, so a violation raises DURING execution —
        no separate driver action."""
        lim = self.groupby_cardinality_limit
        if lim is None:
            return out
        viol = (grouped.agg(F.count_distinct("_gk").alias("_n"))
                .where(F.col("_n") > lim))
        err = F.assert_true(
            F.lit(False),
            F.concat(F.lit(f"Query exceeded group-by cardinality limit "
                           f"{lim} (got "), F.col("_n").cast("string"),
                     F.lit(" groups). Try applying more filters or reduce "
                           "query range.")))
        return out.unionByName(viol.select(
            F.lit(None).cast("map<string,string>").alias("labels"),
            F.lit(0).cast("long").alias("t"),
            err.cast(out.schema[value_field].dataType).alias(value_field)))

    def _eval_aggregation(self, e: A.Aggregation, grid: StepGrid):
        e = self._maybe_preagg_rewrite(e, grid)
        v = self._eval(e.expr, grid)
        if isinstance(v, Scalar):
            # aggregations over scalar plans are legal in the reference
            # (sum(scalar(a) + scalar(b)) round-trips in
            # LogicalPlanParserSpec): treat as one anonymous series
            v = self._scalar_to_vector(v, grid)
        labels = F.col("labels")
        if e.by is not None:
            new_labels = F.map_filter(labels, lambda k, _: k.isin([*e.by]))
        elif e.without is not None:
            drop = [*e.without, METRIC]
            new_labels = F.map_filter(labels, lambda k, _: ~k.isin(drop))
        else:
            new_labels = F.create_map().cast("map<string,string>")
        if "hist" in v.columns:
            # bucket-wise histogram sum (HistSumRowAggregator.scala:1-34)
            if e.op != "sum":
                raise ValueError(f"{e.op} is not defined over histograms")
            from filodb_spark.kernels.histogram import hist_sum
            # exp-scheme reconciliation (addNoCorrection's Base2Exp merge
            # branch, Histogram.scala:377-410): discover the distinct
            # bucket schemes of the exp metric at PLAN time (a small
            # distinct over the store — the same class of lookup as the
            # reference's schema discovery) and, if heterogeneous, sum
            # onto the reference's merged scheme
            target = self._exp_merge_target(e.expr)
            v = v.withColumn("_gk", bin_k.series_key(new_labels))
            out = hist_sum(v, ["_gk", "t"], target_les=target)
            return self._enforce_groupby_limit(
                v, out.select(_key_labels("_gk"), "t", "hist"), "hist")
        if e.op in ("topk", "bottomk"):
            # members keep their ORIGINAL labels (TopBottomKRowAggregator
            # presents series); by/without only buckets the ranking
            k = int(self._const(e.param))
            v = v.withColumns({"_gk": bin_k.series_key(new_labels),
                               "_sk": bin_k.canonical_labels(labels)})
            out = agg_k.topk(v, k, ["_gk"], ["_sk"], bottom=e.op == "bottomk")
            return self._enforce_groupby_limit(
                v, out.select("labels", "t", "value"))
        # one withColumns = one eager analysis pass, not two (r13 opt);
        # _gk is computed from the new-labels EXPRESSION so both columns
        # can land in the same projection
        v = v.withColumns({"labels": new_labels,
                           "_gk": bin_k.series_key(new_labels)})
        if e.op == "count_values":
            dst = self._str(e.param)
            vs = F.col("value")
            vstr = F.when(vs == F.floor(vs), vs.cast("long").cast("string")) \
                    .otherwise(vs.cast("string"))
            v2 = v.withColumn("labels", F.map_concat(
                F.map_filter(F.col("labels"), lambda k_, _: k_ != dst),
                F.create_map(F.lit(dst), vstr)))
            v2 = v2.withColumn("_gk", bin_k.series_key(F.col("labels")))
            out = (v2.where(~F.isnan("value"))
                     .groupBy("_gk", "t")
                     .agg(F.count(F.lit(1)).cast("double").alias("value")))
            return self._enforce_groupby_limit(
                v2, out.select(_key_labels("_gk"), "t", "value"))
        params = (self._const(e.param),) if e.param is not None else ()
        out = agg_k.aggregate(v, e.op, ["_gk"], params=params)
        return self._enforce_groupby_limit(
            v, out.select(_key_labels("_gk"), "t", "value"))

    # ---- binary ---------------------------------------------------------

    def _enforce_join_limit(self, out: DataFrame, *sides: DataFrame
                            ) -> DataFrame:
        """joinQueryCardinality (BinaryJoinExec.scala:94-103): a
        one-to-one join whose input side carries more series than the
        limit fails during execution — same lazy assert_true pattern as
        _enforce_groupby_limit. The violation rows ride the join OUTPUT
        (a poisoned input row would be pruned by the equi-join before
        its assert ever evaluated).

        Composability gap (same class as the group-by limit's,
        documented there): the unioned violation row has null labels
        and t=0, so a DOWNSTREAM label-keyed filter or further equi-join
        can prune it before its value column is evaluated — the limit
        is enforced where the join result is consumed as a vector
        (aggregation, presentation, scalar math), not through every
        composed re-keying. Each enforcement also costs one
        count_distinct aggregate per input side; it is opt-in via
        PromQLEngine(join_query_cardinality=...), matching the
        reference's default-off PerQueryLimits."""
        lim = self.join_query_cardinality
        if lim is None or set(out.columns) != {"labels", "t", "value"}:
            return out
        for side in sides:
            if set(side.columns) != {"labels", "t", "value"}:
                continue
            viol = (side.agg(F.count_distinct(
                        bin_k.canonical_labels(F.col("labels")))
                        .alias("_n"))
                    .where(F.col("_n") > lim))
            err = F.assert_true(
                F.lit(False),
                F.concat(F.lit("The join in this query has input "
                               "cardinality of "),
                         F.col("_n").cast("string"),
                         F.lit(f" which is more than limit of {lim}. Try "
                               "applying more filters or reduce time "
                               "range.")))
            out = out.unionByName(viol.select(
                F.lit(None).cast("map<string,string>").alias("labels"),
                F.lit(0).cast("long").alias("t"),
                err.cast(out.schema["value"].dataType).alias("value")))
        return out

    def _eval_binary(self, e: A.BinaryOp, grid: StepGrid):
        l = self._eval(e.lhs, grid)
        r = self._eval(e.rhs, grid)
        lv, rv = isinstance(l, DataFrame), isinstance(r, DataFrame)
        if e.op in bin_k.MATH_OPS or e.op in bin_k.COMPARISON_OPS:
            if lv and rv:
                card = "many-to-one" if e.group_left else \
                    "one-to-many" if e.group_right else "one-to-one"
                out = bin_k.vector_binary_op(
                    l, r, e.op, on=list(e.on) if e.on is not None else None,
                    ignoring=e.ignoring, cardinality=card, include=e.include,
                    bool_modifier=e.bool_modifier)
                if card == "one-to-one":
                    out = self._enforce_join_limit(out, l, r)
                return out
            if lv or rv:
                vec, s, s_on_lhs = (l, r, False) if lv else (r, l, True)
                # math (and bool-comparison) with a scalar drops the metric
                # name (BinaryJoinExec.resultKeys MathOperator rule)
                if e.op in bin_k.MATH_OPS or e.bool_modifier:
                    vec = vec.withColumn(
                        "labels", F.map_filter(F.col("labels"),
                                               lambda k, _: k != METRIC))
                if "hist" in vec.columns:
                    # bucket-wise scalar math on histogram vectors
                    # (ScalarOperationMapper on the histogram schema,
                    # BinaryOperatorSpec.scala:403-461: hist * 2 scales
                    # every bucket; bucket bounds unchanged)
                    if e.op not in bin_k.MATH_OPS or not s.is_const:
                        raise ValueError(
                            "only constant-scalar math operators are "
                            "defined over histogram vectors")
                    sc = F.lit(float(s.const))
                    op = e.op
                    scaled = F.transform(
                        F.col("hist")["values"],
                        (lambda x: bin_k.op_expr(op, sc, x)) if s_on_lhs
                        else (lambda x: bin_k.op_expr(op, x, sc)))
                    keep = [c for c in ("hmin", "hmax") if c in vec.columns]
                    return vec.select(
                        "labels", "t",
                        F.struct(F.col("hist")["les"].alias("les"),
                                 scaled.alias("values")).alias("hist"),
                        *keep)
                if s.is_const:
                    return bin_k.scalar_op(vec, e.op, s.const,
                                           scalar_on_lhs=s_on_lhs,
                                           bool_modifier=e.bool_modifier)
                sdf = s.df.withColumnRenamed("value", "_s")
                j = vec.join(sdf, "t")
                lc, rc = (F.col("_s"), F.col("value")) if s_on_lhs else \
                    (F.col("value"), F.col("_s"))
                if e.op in bin_k.MATH_OPS:
                    return j.select("labels", "t",
                                    bin_k.op_expr(e.op, lc, rc).alias("value"))
                if e.bool_modifier:
                    return j.select(
                        "labels", "t",
                        bin_k.comparison_bool_value(e.op, lc, rc).alias("value"))
                # filter comparisons emit the LHS operand value — the
                # scalar when it is on the left (BinaryOperatorSpec:184-205)
                return j.where(bin_k.ieee_comparison_cond(e.op, lc, rc)) \
                        .select("labels", "t", lc.alias("value"))
            # scalar-scalar (ScalarBinaryOperationExec)
            if l.is_const and r.is_const:
                import math
                lc, rc = l.const, r.const
                if e.op in bin_k.MATH_OPS:
                    py = {"+": lambda: lc + rc, "-": lambda: lc - rc,
                          "*": lambda: lc * rc,
                          "/": lambda: lc / rc if rc != 0 else
                          (math.inf if lc > 0 else -math.inf if lc < 0
                           else math.nan),
                          "%": lambda: math.fmod(lc, rc) if rc != 0 else math.nan,
                          "^": lambda: lc ** rc,
                          "atan2": lambda: math.atan2(lc, rc)}[e.op]()
                    return Scalar(const=py)
                # comparisons (BinaryOperatorFunction.scala:29-72): bool
                # form is NaN-propagating 1/0; plain form keeps the LHS
                # value where the condition holds, NaN otherwise
                res = {"==": lc == rc, "!=": lc != rc, ">": lc > rc,
                       "<": lc < rc, ">=": lc >= rc, "<=": lc <= rc}[e.op]
                if e.bool_modifier:
                    if math.isnan(lc) or math.isnan(rc):
                        return Scalar(const=math.nan)
                    return Scalar(const=1.0 if res else 0.0)
                return Scalar(const=lc if res else math.nan)
            ldf = self._scalar_df(l, grid).withColumnRenamed("value", "_l")
            rdf = self._scalar_df(r, grid).withColumnRenamed("value", "_r")
            j = ldf.join(rdf, "t")
            if e.op in bin_k.MATH_OPS:
                out = j.select("t", bin_k.op_expr(
                    e.op, F.col("_l"), F.col("_r")).alias("value"))
            elif e.bool_modifier:
                out = j.select("t", bin_k.comparison_bool_value(
                    e.op, F.col("_l"), F.col("_r")).alias("value"))
            else:
                out = j.select("t", F.when(bin_k.ieee_comparison_cond(
                    e.op, F.col("_l"), F.col("_r")), F.col("_l"))
                    .otherwise(F.lit(float("nan"))).alias("value"))
            return Scalar(df=out)
        if e.op in ("and", "or", "unless"):
            if not (lv and rv):
                raise ValueError("set operators need vector operands")
            return bin_k.set_op(l, r, e.op,
                                on=list(e.on) if e.on is not None else None,
                                ignoring=e.ignoring)
        raise ValueError(f"unsupported operator: {e.op}")

    # ---- small helpers --------------------------------------------------

    def _vector(self, e: A.Expr, grid: StepGrid) -> DataFrame:
        res = self._eval(e, grid)
        if isinstance(res, Scalar):
            raise ValueError("expected instant vector, got scalar")
        return res

    def _const(self, e: A.Expr) -> float:
        res = self._eval(e, StepGrid(0, 0, 1))
        if isinstance(res, Scalar) and res.is_const:
            return res.const
        raise ValueError("expected constant scalar parameter")

    def _str(self, e: A.Expr) -> str:
        if isinstance(e, A.StringLiteral):
            return e.value
        if isinstance(e, A.Paren):
            return self._str(e.expr)
        raise ValueError("expected string literal")
