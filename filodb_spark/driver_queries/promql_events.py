"""PromQL-equivalent operator queries over the `events` fixture table.

The events stream is treated as a time-series table: series key =
``event_type`` (the metric), samples (ts, value). Evaluation follows the
engine's step-grid semantics: instants every STEP over the aligned data
range, window = WINDOW lookback, inclusive ``[t-window, t]``.

Every query has a DuckDB oracle that mirrors the semantics **expression
by expression** (same math, same parenthesization) so value-hash
comparison holds to float precision; outputs of floating aggregations
are rounded identically on both sides to absorb summation-order
nondeterminism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filodb_spark.kernels.aggregations import aggregate, count_values, topk
from filodb_spark.kernels.grid import grid_from_bounds, with_prev_sample
from filodb_spark.kernels.instant_fns import instant_fn_expr
from filodb_spark.kernels.range_fns import range_function
from filodb_spark.memo import Memo
from filodb_spark.tsdf import events_ts

STEP = 6 * 3600 * 1000          # 6h evaluation step
WINDOW = 24 * 3600 * 1000       # 24h lookback window
DAY = 24 * 3600 * 1000

# ---------------------------------------------------------------------------
# Spark side
# ---------------------------------------------------------------------------


def _unpersist(frame) -> None:
    try:                           # release executor cache memory
        frame.unpersist()
    except Exception:
        pass                       # a dead session's frame


_BOUNDS_CACHE = Memo(32)
_EV_CACHE = Memo(32, on_evict=_unpersist)


def _bounds(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """min/max events ts per fixture dir, memoized per process: every
    query needs the grid bounds and the 2-row aggregate is pure."""
    return _BOUNDS_CACHE.get(sf_dir, lambda: tuple(
        events_ts(spark, sf_dir, dedupe=False)
        .agg(F.min("ts"), F.max("ts")).first()))


def _events_cached(spark: SparkSession, sf_dir: str,
                   series_cols=("event_type",)):
    """Deduped events series, Spark-cached per (session, dir, series):
    the driver runs ~40 events-based queries in one process — one
    dedupe shuffle instead of forty.

    The default (event_type) cache additionally carries the
    ``prev_ts``/``prev_value`` lag columns (grid.with_prev_sample), so
    every consecutive-pair kernel (rate/increase/changes/resets/...)
    skips its per-query window Exchange+Sort — the lag is a pure
    function of the deduped series, paid once at cache build (the
    ingest-materialized-lag pattern; valid ONLY on a NaN/null-free
    stream, where every kernel's NaN pre-filter is a no-op and the lag
    computed here equals the one computed after it — checked at build,
    attach skipped on dirty data). Consumers that reshape the frame
    (union markers, re-aggregation) must not pass ``prev_attached``
    downstream."""
    def build():
        ev = events_ts(spark, sf_dir, series_cols=series_cols)
        if series_cols == ("event_type",):
            # guard the prev_attached precondition at the producer: the
            # precomputed lag equals the kernel-computed one ONLY on a
            # NaN/null-free frame (range_function applies its NaN policy
            # BEFORE attaching the lag). One cheap check at cache build;
            # on dirty data skip attaching — range_function falls back
            # to its own with_prev_sample when the columns are absent.
            # The check scans the RAW (pre-dedupe) frame: map-only, no
            # dedupe shuffle (the deduped-frame check re-ran the whole
            # dedupe aggregation once just to answer it — r14). Raw-clean
            # implies deduped-clean (max() keeps NaN — NaN orders
            # greatest — and yields null only from all-null groups);
            # raw-dirty-but-deduped-clean only skips the attach, and the
            # kernels fall back to their own lag window — never wrong.
            v = F.col("value")
            raw = events_ts(spark, sf_dir, series_cols=series_cols,
                            dedupe=False)
            if raw.where(F.isnan(v) | v.isNull()).isEmpty():
                ev = with_prev_sample(ev, series_cols)
        return ev.cache()
    return _EV_CACHE.get((id(spark), sf_dir, series_cols), build)


def _series(spark: SparkSession, sf_dir: str, series_cols=("event_type",)):
    ev = _events_cached(spark, sf_dir, series_cols)
    lo, hi = _bounds(spark, sf_dir)
    return ev, grid_from_bounds(lo, hi, STEP)


def _no_nan(df: DataFrame, col: str = "value") -> DataFrame:
    return df.where(~F.isnan(F.col(col)))


def _rounded(df: DataFrame, n: int | None, cols) -> DataFrame:
    value = F.round(F.col("value"), n).alias("value") if n is not None \
        else F.col("value")
    return df.select(*cols, value)


def _range_query(fn: str, round_to: int | None, params: tuple = (),
                 window: int = WINDOW):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev, grid = _series(spark, sf_dir)
        # prev_attached: the cache carries the lag columns (see
        # _events_cached) — no per-query window shuffle for pair kernels
        out = range_function(ev, fn, ["event_type"], grid, window,
                             params=params, prev_attached=True)
        return _rounded(_no_nan(out), round_to, ["event_type", "t"])
    return q


def q_avg_over_time_det(spark, sf_dir):
    """avg_over_time with deterministic (sorted-fold) summation.

    2-decimal inputs divided by friendly counts can land EXACTLY on a
    rounding half-boundary, where engine-vs-oracle 1-ulp summation-order
    noise flips the rounded digit. A sorted sequential fold is
    bit-identical across engines. (The hash-agg avg kernel is covered by
    ts_agg_avg_by, whose values can't sit on boundaries.)
    """
    from filodb_spark.kernels.grid import drop_nan, explode_to_steps
    ev, grid = _series(spark, sf_dir)
    ex = explode_to_steps(drop_nan(ev), grid, WINDOW)
    out = ex.groupBy("event_type", "t").agg(
        F.aggregate(F.array_sort(F.collect_list("value")), F.lit(0.0),
                    lambda a, x: a + x).alias("_s"),
        F.count("value").alias("_n"))
    return out.select("event_type", "t",
                      F.round(F.col("_s") / F.col("_n"), 6).alias("value"))


FINE_STEP = 2 * 60 * 1000        # 2min step
FINE_WINDOW = 4 * 3600 * 1000    # 4h window -> window/step = 120 (tiled)
FINE_SPAN = 2 * DAY              # grid limited to the trailing 2 days


def q_rate_fine(spark, sf_dir):
    """rate() at the dashboard shape that forces the tiled two-level
    kernel: 4h window on a 2min step grid (ratio 120 >= TILE_RATIO=16 —
    kernels/range_fns.py `_tiled_range_function`). The grid covers the
    trailing 2 days of the data range to bound the gate compare; samples
    are unrestricted (the 4h lookback reaches behind the grid start on
    both sides identically)."""
    from filodb_spark.kernels.range_fns import TILE_RATIO
    assert FINE_WINDOW // FINE_STEP >= TILE_RATIO
    ev = _events_cached(spark, sf_dir)
    _, hi = _bounds(spark, sf_dir)
    from filodb_spark.kernels.grid import StepGrid
    grid = StepGrid(hi - FINE_SPAN, hi, FINE_STEP).aligned()
    out = range_function(ev, "rate", ["event_type"], grid, FINE_WINDOW,
                         prev_attached=True)
    # floor-based half-up rounding: identical IEEE ops in both engines.
    # Spark's round() goes through shortest-decimal BigDecimal and rounds
    # 0.0156390624999999984 -> ...63 while DuckDB gives ...62; the raw
    # doubles are bit-identical, so an arithmetic-only rounder agrees.
    # Round to 6 (not 9): the tiled kernel's partial-sum order varies with
    # execution context (partition layout after prior queries in the same
    # session), so the raw double can differ by 1 ulp between a full-registry
    # sweep and an isolated run; at 1e-9 that lands on a .5 knife edge
    # (r8 judge flake). 1e-6 puts the noise far from the boundary.
    val = (F.floor(F.col("value") * 1e6 + F.lit(0.5)) / 1e6).alias("value")
    return _no_nan(out).select("event_type", "t", val)


def q_agg_sum_rate(spark, sf_dir):
    ev, grid = _series(spark, sf_dir)
    r = range_function(ev, "rate", ["event_type"], grid, WINDOW,
                       prev_attached=True)
    out = aggregate(_no_nan(r), "sum", [])
    # round 6 (not 9): the cross-series sum's addition order differs across
    # engines; 1e-15 noise must sit far from the rounding boundary
    return _rounded(_no_nan(out), 6, ["t"])


def q_agg_avg_by(spark, sf_dir):
    # avg by (event_type) over per-(event_type, user-bucket) series
    ev, grid = _series(spark, sf_dir, series_cols=("event_type", "user_id"))
    ev = ev.withColumn("ub", F.col("user_id") % 10)
    ev = ev.groupBy("event_type", "ub", "ts").agg(F.max("value").alias("value"))
    s = range_function(ev, "sum_over_time", ["event_type", "ub"], grid, WINDOW)
    out = aggregate(_no_nan(s), "avg", ["event_type"])
    return _rounded(_no_nan(out), 6, ["event_type", "t"])


def q_agg_topk(spark, sf_dir):
    ev, grid = _series(spark, sf_dir)
    s = range_function(ev, "sum_over_time", ["event_type"], grid, WINDOW)
    out = topk(_no_nan(s), 2, [], ["event_type"])
    return _rounded(out, 6, ["event_type", "t"])


def q_agg_bottomk(spark, sf_dir):
    ev, grid = _series(spark, sf_dir)
    s = range_function(ev, "sum_over_time", ["event_type"], grid, WINDOW)
    out = topk(_no_nan(s), 2, [], ["event_type"], bottom=True)
    return _rounded(out, 6, ["event_type", "t"])


def q_agg_quantile(spark, sf_dir):
    ev, grid = _series(spark, sf_dir)
    last = range_function(ev, "last_over_time", ["event_type"], grid, WINDOW)
    out = aggregate(_no_nan(last), "quantile", [], params=(0.5,))
    return _rounded(_no_nan(out), 6, ["t"])


def q_agg_count_values(spark, sf_dir):
    ev, grid = _series(spark, sf_dir)
    last = range_function(ev, "last_over_time", ["event_type"], grid, WINDOW)
    last = last.withColumn("value", F.floor(F.col("value")).cast("double"))
    out = count_values(last, [], "bucket")
    return out.select(F.col("bucket").cast("long").alias("bucket"), "t", "value")


def q_instant_math(spark, sf_dir):
    ev, grid = _series(spark, sf_dir)
    last = _no_nan(range_function(ev, "last_over_time", ["event_type"], grid, WINDOW))
    v = F.col("value")
    expr = instant_fn_expr("clamp", instant_fn_expr("sqrt", F.abs(v - 50.0)), (1.0, 5.0))
    return last.select("event_type", "t", F.round(expr, 6).alias("value"))


# --- per-user daily series for join/set-op queries -------------------------


def _daily_counts(spark, sf_dir, event_type):
    ev = _events_cached(spark, sf_dir, ("event_type", "user_id"))
    ev = ev.where(F.col("event_type") == event_type)
    lo, hi = _bounds(spark, sf_dir)
    grid = grid_from_bounds(lo, hi, DAY)
    return range_function(ev.drop("event_type"), "count_over_time",
                          ["user_id"], grid, DAY)


def _daily_pair(spark, sf_dir):
    """Daily purchase/error counts per user in ONE pipeline.

    Both sides of the binary-op queries below come from the same table,
    so instead of two grid-explode pipelines joined on (user_id, t) —
    two shuffles plus a join — explode once over both event types and
    conditionally count: one shuffle, no join. At 100 TB this removes
    the join exchange entirely; the set/join semantics become filters
    over (pv, ev). pv/ev = NULL where that series has no samples in the
    window (count_over_time emits no row there).
    """
    from filodb_spark.kernels.grid import drop_nan, explode_to_steps
    ev = _events_cached(spark, sf_dir, ("event_type", "user_id"))
    lo, hi = _bounds(spark, sf_dir)
    grid = grid_from_bounds(lo, hi, DAY)
    both = drop_nan(ev.where(F.col("event_type").isin("purchase", "error")))
    ex = explode_to_steps(both, grid, DAY)
    pv = F.count(F.when(F.col("event_type") == "purchase", 1))
    evc = F.count(F.when(F.col("event_type") == "error", 1))
    return (ex.groupBy("user_id", "t")
              .agg(F.when(pv > 0, pv.cast("double")).alias("pv"),
                   F.when(evc > 0, evc.cast("double")).alias("ev")))


def q_set_and(spark, sf_dir):
    pair = _daily_pair(spark, sf_dir)
    return (pair.where(F.col("pv").isNotNull() & F.col("ev").isNotNull())
                .select("user_id", "t", F.col("pv").alias("value")))


def q_set_unless(spark, sf_dir):
    pair = _daily_pair(spark, sf_dir)
    return (pair.where(F.col("pv").isNotNull() & F.col("ev").isNull())
                .select("user_id", "t", F.col("pv").alias("value")))


def q_set_or(spark, sf_dir):
    pair = _daily_pair(spark, sf_dir)
    return pair.select("user_id", "t",
                       F.coalesce("pv", "ev").alias("value"))


def q_join_ratio(spark, sf_dir):
    # purchase count / error count per (user, day) — one-to-one on (user, t)
    pair = _daily_pair(spark, sf_dir)
    return (pair.where(F.col("pv").isNotNull() & F.col("ev").isNotNull())
                .select("user_id", "t",
                        F.round(F.col("pv") / F.col("ev"), 6).alias("value")))


def q_join_group_left(spark, sf_dir):
    # per-user purchases vs day-total errors: many-to-one on the timestep
    p = _daily_counts(spark, sf_dir, "purchase")
    e = _daily_counts(spark, sf_dir, "error")
    tot = e.groupBy("t").agg(F.sum("value").alias("rv"))
    j = p.join(tot, ["t"], "inner")
    return j.select("user_id", "t",
                    F.round(F.col("value") / F.col("rv"), 9).alias("value"))


def q_join_group_right(spark, sf_dir):
    # one-to-many (group_right): day-total purchases (one side) matched
    # to per-user errors (many side); value = many / one per user
    p = _daily_counts(spark, sf_dir, "purchase")
    e = _daily_counts(spark, sf_dir, "error")
    tot = p.groupBy("t").agg(F.sum("value").alias("lv"))
    j = e.join(tot, ["t"], "inner")
    return j.select("user_id", "t",
                    F.round(F.col("value") / F.col("lv"), 9).alias("value"))


def q_ts_timestamp(spark, sf_dir):
    ev, grid = _series(spark, sf_dir)
    out = range_function(ev, "timestamp", ["event_type"], grid, WINDOW)
    return _rounded(_no_nan(out), None, ["event_type", "t"])


def q_ts_present(spark, sf_dir):
    ev, grid = _series(spark, sf_dir)
    out = range_function(ev, "present_over_time", ["event_type"], grid, WINDOW)
    return out.select("event_type", "t", "value")


def q_ts_absent(spark, sf_dir):
    # absent(purchase[...]) per step: steps where NO purchase samples in
    # window (AbsentFunctionMapper semantics: grid anti-join -> 1.0)
    ev, grid = _series(spark, sf_dir)
    p = ev.where(F.col("event_type") == "purchase")
    present = range_function(p, "present_over_time", ["event_type"], grid,
                             3600_000).select("t").distinct()
    steps = spark.range(grid.n_steps).select(
        (F.lit(grid.start) + F.col("id") * F.lit(grid.step)).cast("long")
        .alias("t"))
    return (steps.join(present, "t", "left_anti")
            .select("t", F.lit(1.0).alias("value")))


def q_ts_day_of_week(spark, sf_dir):
    # day-of-week of the latest sample's timestamp per window (date fns
    # operate on the value as epoch-seconds, InstantFunction.scala:300-454)
    ev, grid = _series(spark, sf_dir)
    t_sec = range_function(ev, "timestamp", ["event_type"], grid, WINDOW)
    out = t_sec.withColumn("value", instant_fn_expr("day_of_week",
                                                    F.col("value")))
    return _no_nan(out).select("event_type", "t", "value")


def q_ts_holt_winters(spark, sf_dir):
    # sequential recurrence — no SQL oracle (rows-only)
    ev, grid = _series(spark, sf_dir)
    out = range_function(ev, "holt_winters", ["event_type"], grid, WINDOW,
                         params=(0.5, 0.1))
    return _rounded(_no_nan(out), 6, ["event_type", "t"])


def q_ts_mad_outlier(spark, sf_dir):
    # FiloDB extension: emit the last value when further than
    # tolerance*MAD from the window median (bounds=1: both sides);
    # non-outliers are NaN and filtered, so row membership itself is
    # the assertion
    ev, grid = _series(spark, sf_dir)
    out = range_function(ev, "last_over_time_is_mad_outlier",
                         ["event_type"], grid, WINDOW, params=(1.5, 1))
    return _rounded(_no_nan(out), None, ["event_type", "t"])


def q_influx_roundtrip(spark, sf_dir):
    """Influx line-protocol gateway path in the driver gate: format the
    deduped events as protocol lines (measurement,tag field=v ts_ns),
    parse them back with the pure-column parser, and compare to the
    source — the oracle recomputes the source directly, so any parse
    defect breaks the value hash."""
    from filodb_spark.sources.influx import parse_influx_lines
    ev = _events_cached(spark, sf_dir)
    line = F.concat(F.lit("events,etype="), F.col("event_type"),
                    F.lit(" value="), F.col("value").cast("string"),
                    F.lit(" "), (F.col("ts") * 1_000_000).cast("string"))
    parsed = parse_influx_lines(ev.select(line.alias("value")))
    return parsed.select(F.col("labels")["etype"].alias("event_type"),
                         "ts", F.round("value", 2).alias("value"))


def q_csv_roundtrip(spark, sf_dir):
    """CSV source path (CsvStream.scala analog) in the driver gate:
    write the deduped events as CSV, load them back through
    read_csv_series into the universal (labels, ts, value) layout."""
    import tempfile

    from filodb_spark.sources.csv import read_csv_series
    ev = _events_cached(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="csvsrc_") + "/ev"
    (ev.select(F.col("event_type").alias("metric"), "ts", "value")
       .write.mode("overwrite").option("header", "true").csv(tmp))
    out = read_csv_series(spark, tmp, "metric", "ts", "value")
    return out.select(F.col("labels")["__name__"].alias("event_type"),
                      "ts", F.round("value", 2).alias("value"))


def q_remote_write_roundtrip(spark, sf_dir):
    """Prometheus remote-write wire path in the driver gate: encode the
    deduped events as per-batch snappy+protobuf WriteRequests
    (records_to_frames), decode them back in parallel
    (frames_to_records), and compare to the source — both directions
    run as Arrow-batched mapInPandas, no driver-side bytes. Any codec
    defect (varint, zigzag-less int64, little-endian double, snappy
    framing) breaks the value hash."""
    from filodb_spark.remote_write import (frames_to_records,
                                           records_to_frames)
    ev = _events_cached(spark, sf_dir)
    recs = ev.select(
        F.create_map(F.lit("__name__"), F.col("event_type")).alias("labels"),
        "ts", "value")
    out = frames_to_records(records_to_frames(recs))
    return out.select(F.col("labels")["__name__"].alias("event_type"),
                      "ts", F.round("value", 2).alias("value"))


def q_salted_sum(spark, sf_dir):
    # two-phase salted aggregation (skew utility): per-event_type totals
    # must equal a plain sum — rounded to absorb fold-order ulp noise
    from filodb_spark.kernels.aggregations import salted_sum
    ev = _events_cached(spark, sf_dir)
    out = salted_sum(_no_nan(ev), ["event_type"])
    return out.select("event_type", F.round("value", 4).alias("value"))


def _metadata_store(spark, sf_dir):
    """Events store with the materialized part-key table attached —
    metadata queries answer from O(series) index rows, never samples
    (filodb_spark.partkey; PartKeyLuceneIndex.scala:329-465 analog)."""
    from filodb_spark.partkey import partkey_from_samples
    from filodb_spark.promql.compiler import TsStore
    from filodb_spark.tsdf import events_labels_ts
    df = events_labels_ts(spark, sf_dir, dedupe=False)
    return TsStore(df, partkey_df=partkey_from_samples(df))


def q_label_values(spark, sf_dir):
    # /api/v1/label/__name__/values through the part-key-table path
    # (round 8 reroute — formerly a raw distinct over samples)
    from filodb_spark import metadata
    store = _metadata_store(spark, sf_dir)
    return (metadata.label_values(store, "__name__")
            .select(F.col("value").alias("event_type")))


def q_series_cardinality(spark, sf_dir):
    # TsCardExec through the part-key table: each index row IS one
    # series, so cardinality is a plain count per group
    from filodb_spark import metadata
    store = _metadata_store(spark, sf_dir)
    return (metadata.ts_cardinality(store, ("__name__",))
            .select(F.col("__name__").alias("event_type"),
                    F.col("total_series").alias("card")))


ACTIVE_WINDOW_MS = 43_200_000  # trailing 12h "active series" cutoff


def q_label_values_pk(spark, sf_dir):
    """label_values with a match selector + time range on the part-key
    path: matcher pushdown + the reference's span-overlap range filter
    (startTime/endTime postings, PartKeyLuceneIndex.scala:418-447)."""
    from filodb_spark import metadata
    store = _metadata_store(spark, sf_dir)
    _, hi = _bounds(spark, sf_dir)
    return metadata.label_values(store, "user",
                                 match='{__name__=~"p.*"}',
                                 start_ms=hi - ACTIVE_WINDOW_MS)


def q_series_cardinality_pk(spark, sf_dir):
    """TsCardinality with the total/active split — active = series whose
    last sample is inside the trailing 12h window (TsCardExec active
    semantics via the index's endTime)."""
    from filodb_spark import metadata
    store = _metadata_store(spark, sf_dir)
    _, hi = _bounds(spark, sf_dir)
    out = metadata.ts_cardinality(store, ("__name__",),
                                  active_after_ms=hi - ACTIVE_WINDOW_MS)
    return out.select(F.col("__name__").alias("event_type"),
                      "total_series", "active_series")


def q_rate_reset_marker(spark, sf_dir):
    """increase() over series carrying an injected NaN end-of-series
    reset marker (round 9): a NaN on a cumulative counter reads as 0
    and STAYS a sample, folding the prior value into the window's
    correction (BufferableCounterCorrectionIterator,
    PeriodicSamplesMapper.scala:560; WindowIteratorSpec.scala:257-284
    golden). One marker per event_type at the series' midpoint instant
    (collisions with real samples dropped deterministically on both
    sides); the oracle injects the same rows as value-0 samples, which
    is exactly what the kernel's NaN→0 mapping sees."""
    ev = _events_cached(spark, sf_dir)
    mids = (ev.groupBy("event_type")
              .agg(((F.min("ts") + F.max("ts")) / 2).cast("long")
                   .alias("ts")))
    markers = (mids.join(ev.select("event_type", "ts"),
                         ["event_type", "ts"], "anti")
                   .withColumn("value", F.lit(float("nan"))))
    src = ev.select("event_type", "ts", "value").unionByName(markers)
    _, grid = _series(spark, sf_dir)
    out = range_function(src, "increase", ["event_type"], grid, WINDOW)
    return _rounded(_no_nan(out), 6, ["event_type", "t"])


def q_hist_metadata_pk(spark, sf_dir):
    """Histogram-metric-scoped metadata on the part-key path (round 9):
    the store mounts a histogram table (one series per (event_type,
    user), metric `evlat`) and the index built over EVERY schema
    (partkey_from_store — one index per shard regardless of schema,
    PartKeyLuceneIndex.scala). The `evlat_sum` selector resolves on the
    index via the _sum->base-metric rewrite; matchers + span-overlap
    range semantics apply as on the gauge path. Closes the r8 sliver
    where hist-scoped lookups fell back to the O(samples) scan."""
    from filodb_spark import metadata
    from filodb_spark.partkey import partkey_from_store
    from filodb_spark.promql.compiler import TsStore
    from filodb_spark.tsdf import events_labels_ts, events_ts
    gauge = events_labels_ts(spark, sf_dir, dedupe=False)
    ev = events_ts(spark, sf_dir, series_cols=("event_type", "user_id"),
                   dedupe=False)
    hist = ev.select(
        F.create_map(F.lit("__name__"), F.lit("evlat"),
                     F.lit("etype"), F.col("event_type"),
                     F.lit("user"), F.col("user_id").cast("string"))
        .alias("labels"),
        "ts", F.col("value").alias("sum"), F.lit(1.0).alias("count"),
        F.struct(F.array(F.lit(1.0), F.lit(float("inf"))).alias("les"),
                 F.array(F.lit(0.0), F.lit(1.0)).alias("values"))
        .alias("hist"))
    st = TsStore(gauge, hist_df=hist, hist_metrics=("evlat",))
    store = TsStore(gauge, hist_df=hist, hist_metrics=("evlat",),
                    partkey_df=partkey_from_store(st))
    _, hi = _bounds(spark, sf_dir)
    return metadata.label_values(store, "user",
                                 match='evlat_sum{etype=~"p.*"}',
                                 start_ms=hi - ACTIVE_WINDOW_MS)


def q_cardbuster(spark, sf_dir):
    """Cardbuster survivors (PerShardCardinalityBuster.scala:84-102
    semantics): OR-of-AND anchored label-regex filters + a start-time
    band over part-key spans; the surviving index rows are exactly what
    bust_part_keys(simulate=False) would keep."""
    from filodb_spark.operators.cardbuster import split_part_keys
    from filodb_spark.partkey import partkey_from_samples
    from filodb_spark.tsdf import events_labels_ts
    df = events_labels_ts(spark, sf_dir, dedupe=False)
    pk = partkey_from_samples(df)
    lo, _ = _bounds(spark, sf_dir)
    survivors, _doomed = split_part_keys(
        pk, [{"__name__": "err.*"}, {"user": "1[0-9]"}],
        start_lte=lo + 21_600_000)
    return survivors.select(
        F.col("labels")["__name__"].alias("event_type"),
        F.col("labels")["user"].cast("long").alias("user_id"),
        "first_ts", "last_ts")




def q_repair_copy(spark, sf_dir):
    """ChunkCopier + validator e2e (spark-jobs/.../repair/
    ChunkCopier.scala:127-144, ChunkCopierValidator.scala:229-254):
    the target table is missing the pre-boundary half; copy_time_slice
    restores the band through the partitioned-table write path, the
    validator's symmetric EXCEPT must come back clean, and the result
    is the restored band read back FROM THE TARGET — any copy defect
    (lost rows, layout drift, double-append) breaks the value hash."""
    import tempfile

    from filodb_spark.operators.repair import (copy_time_slice,
                                               validate_time_slice)
    from filodb_spark.sources.table import (read_series_table,
                                            write_series_table)
    ev = _events_cached(spark, sf_dir)
    df = ev.select(
        F.create_map(F.lit("__name__"), F.col("event_type"),
                     F.lit("_ws_"), F.lit("w"),
                     F.lit("_ns_"), F.lit("n")).alias("labels"),
        "ts", "value")
    lo, hi = _bounds(spark, sf_dir)
    boundary = (lo + hi) // 2
    root = tempfile.mkdtemp(prefix="repair_")
    src, dst = root + "/src", root + "/dst"
    write_series_table(df, src)
    write_series_table(df.where(F.col("ts") >= boundary), dst)
    copy_time_slice(spark, src, dst, 0, boundary)
    v = validate_time_slice(spark, src, dst, 0, hi + 1)
    assert v["source_only"] == 0 and v["target_only"] == 0, v
    out = read_series_table(spark, dst).where(F.col("ts") < boundary)
    return out.select(F.col("labels")["__name__"].alias("event_type"),
                      "ts", F.round("value", 2).alias("value"))




def q_ds_eligibility(spark, sf_dir):
    """Downsampler partition-eligibility gate in the driver gate
    (DownsamplerSettings.scala:174-180 allow/block conjunctions,
    applied per partition by BatchDownsampler.scala:151): only the
    allowed-and-not-blocked series contribute rows — per-series counts
    and spans of the surviving set, exact oracle."""
    from filodb_spark.streaming.downsample import \
        is_eligible_for_downsample
    from filodb_spark.tsdf import events_labels_ts
    df = events_labels_ts(spark, sf_dir)
    allow = ({"__name__": "click"}, {"user": "3"})
    block = ({"__name__": "click", "user": "7"},)
    kept = df.where(is_eligible_for_downsample(F.col("labels"),
                                               allow, block))
    lab = F.col("labels")
    return (kept.groupBy(lab["__name__"].alias("event_type"),
                         lab["user"].cast("long").alias("user_id"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("ts").alias("first_ts"),
                 F.max("ts").alias("last_ts")))


QUERIES = {
    "ts_instant_last": _range_query("last_over_time", None),
    "ts_sum_over_time": _range_query("sum_over_time", 6),
    "ts_avg_over_time": q_avg_over_time_det,
    "ts_min_over_time": _range_query("min_over_time", None),
    "ts_max_over_time": _range_query("max_over_time", None),
    "ts_count_over_time": _range_query("count_over_time", None),
    "ts_stddev_over_time": _range_query("stddev_over_time", 6),
    "ts_stdvar_over_time": _range_query("stdvar_over_time", 6),
    "ts_quantile_over_time": _range_query("quantile_over_time", 6, params=(0.9,)),
    "ts_mad_over_time": _range_query("mad_over_time", 6),
    "ts_rate": _range_query("rate", 9),
    "ts_rate_fine": q_rate_fine,
    "ts_increase": _range_query("increase", 6),
    "ts_delta": _range_query("delta", 6),
    "ts_idelta": _range_query("idelta", None),
    "ts_irate": _range_query("irate", 9),
    "ts_resets": _range_query("resets", None),
    "ts_changes": _range_query("changes", None),
    "ts_deriv": _range_query("deriv", 9),
    "ts_predict_linear": _range_query("predict_linear", 6, params=(3600.0,)),
    "ts_zscore": _range_query("z_score", 6),
    "ts_agg_sum_rate": q_agg_sum_rate,
    "ts_agg_avg_by": q_agg_avg_by,
    "ts_agg_topk": q_agg_topk,
    "ts_agg_bottomk": q_agg_bottomk,
    "ts_agg_quantile": q_agg_quantile,
    "ts_agg_count_values": q_agg_count_values,
    "ts_instant_math": q_instant_math,
    "ts_set_and": q_set_and,
    "ts_set_unless": q_set_unless,
    "ts_set_or": q_set_or,
    "ts_join_ratio": q_join_ratio,
    "ts_join_group_left": q_join_group_left,
    "ts_join_group_right": q_join_group_right,
    "ts_timestamp": q_ts_timestamp,
    "ts_present_over_time": q_ts_present,
    "ts_absent": q_ts_absent,
    "ts_day_of_week": q_ts_day_of_week,
    "ts_holt_winters": q_ts_holt_winters,
    "ts_mad_outlier": q_ts_mad_outlier,
    "ts_label_values": q_label_values,
    "ts_series_cardinality": q_series_cardinality,
    "ts_label_values_pk": q_label_values_pk,
    "ts_series_cardinality_pk": q_series_cardinality_pk,
    "ts_hist_metadata_pk": q_hist_metadata_pk,
    "ts_rate_reset_marker": q_rate_reset_marker,
    "ts_cardbuster": q_cardbuster,
    "ts_repair_copy": q_repair_copy,
    "ts_ds_eligibility": q_ds_eligibility,
    "ts_salted_sum": q_salted_sum,
    "ts_influx_roundtrip": q_influx_roundtrip,
    "ts_csv_roundtrip": q_csv_roundtrip,
    "ts_remote_write_roundtrip": q_remote_write_roundtrip,
}

# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# shared CTE prefix: dedup -> grid bounds -> step grid -> windowed samples
# (mirrors tsdf.events_ts dedupe + grid.StepGrid.aligned + explode_to_steps)


def _base(step: int, window: int, series: str = "event_type",
          where: str = "TRUE", span_ms: int | None = None,
          raw_tail: str = "") -> str:
    # span_ms: limit the grid to the trailing span of the data range
    # (mirrors StepGrid(hi - span, hi, step).aligned() on the Spark side)
    # raw_tail: extra CTEs spliced after raw0; the LAST one must be
    # named `raw` (default: raw is raw0 unchanged)
    lo_expr = (f"(SELECT MAX(epoch_ms(ts)) FROM events) - {span_ms}"
               if span_ms is not None
               else "(SELECT MIN(epoch_ms(ts)) FROM events)")
    raw_tail = raw_tail or "raw AS (SELECT * FROM raw0),"
    return f"""
WITH raw0 AS (
  SELECT {series} AS sk, epoch_ms(ts) AS ts, max(value) AS value
  FROM events WHERE {where} GROUP BY 1, 2
),
{raw_tail}
bounds AS (
  SELECT CAST(ceil(({lo_expr}) / {step}.0) AS BIGINT) * {step} AS gstart,
         CAST(floor((SELECT MAX(epoch_ms(ts)) FROM events) / {step}.0) AS BIGINT) * {step} AS gend
),
grid AS (
  SELECT unnest(generate_series((SELECT gstart FROM bounds),
                                (SELECT gend FROM bounds), {step})) AS t
),
s AS (
  SELECT sk, ts, value,
         coalesce(lag(ts) OVER (PARTITION BY sk ORDER BY ts), -4611686018427387904) AS prev_ts,
         coalesce(lag(value) OVER (PARTITION BY sk ORDER BY ts), 0.0) AS prev_value
  FROM raw
),
w AS (
  SELECT s.sk, grid.t, s.ts, s.value, s.prev_ts, s.prev_value
  FROM grid JOIN s ON s.ts BETWEEN grid.t - {window} AND grid.t
)
"""


def _simple_oracle(agg: str, round_to: int | None, step=STEP, window=WINDOW) -> str:
    val = f"round({agg}, {round_to})" if round_to is not None else agg
    return (_base(step, window) +
            f"SELECT sk AS event_type, t, {val} AS value FROM w GROUP BY sk, t")


# the extrapolatedRate formula, expression-by-expression
# (RateFunctions.scala:72-111); {delta_expr} picks counter vs gauge
def _rate_oracle(is_counter: bool, is_rate: bool, round_to: int,
                 step=STEP, window=WINDOW, span_ms: int | None = None,
                 floor_round: bool = False, raw_tail: str = "") -> str:
    corr = " + corr" if is_counter else ""
    zero_clamp = """
         CASE WHEN delta > 0 AND first_val >= 0 AND si * (first_val / delta) < dts0
              THEN si * (first_val / delta) ELSE dts0 END""" if is_counter else "dts0"
    final = f"delta * (ext / si) / {window / 1000.0}" if is_rate else "delta * (ext / si)"
    # floor_round: arithmetic-only half-up rounding (identical IEEE ops in
    # Spark and DuckDB) — avoids Spark round()'s shortest-decimal detour
    rounded = (f"floor(({final}) * {10.0 ** round_to} + 0.5) / {10.0 ** round_to}"
               if floor_round else f"round({final}, {round_to})")
    return (_base(step, window, span_ms=span_ms, raw_tail=raw_tail) + f""",
a AS (
  SELECT sk, t, count(*) AS cnt,
         min(ts) AS first_ts, max(ts) AS last_ts,
         arg_min(value, ts) AS first_val, arg_max(value, ts) AS last_val,
         sum(CASE WHEN prev_ts >= t - {window} AND value < prev_value
                  THEN prev_value ELSE 0.0 END) AS corr
  FROM w GROUP BY 1, 2
),
c1 AS (
  SELECT sk, t, cnt, first_val,
         (last_ts - first_ts) / 1000.0 AS si,
         (first_ts - (t - {window})) / 1000.0 AS dts0,
         (t - last_ts) / 1000.0 AS dte,
         last_val - first_val{corr} AS delta
  FROM a WHERE cnt >= 2 AND last_ts > first_ts
),
c2 AS (
  SELECT sk, t, cnt, si, dte, delta, si / (cnt - 1.0) AS ad,
         {zero_clamp} AS dts
  FROM c1
),
c3 AS (
  SELECT sk, t, delta, si,
         si + (CASE WHEN dts < ad * 1.1 THEN dts ELSE ad / 2.0 END)
            + (CASE WHEN dte < ad * 1.1 THEN dte ELSE ad / 2.0 END) AS ext
  FROM c2
)
SELECT sk AS event_type, t, {rounded} AS value FROM c3""")


_IDELTA_A = f""",
a AS (
  SELECT sk, t,
         arg_max(value, ts) AS last_val, arg_max(prev_value, ts) AS prev_val,
         max(ts) AS last_ts, arg_max(prev_ts, ts) AS prev_ts2
  FROM w GROUP BY 1, 2
)
"""

_REGRESSION_A = f""",
a AS (
  SELECT sk, t, count(*) AS cnt,
         sum((ts - t) / 1000.0) AS sx, sum(value) AS sy,
         sum(((ts - t) / 1000.0) * value) AS sxy,
         sum(((ts - t) / 1000.0) * ((ts - t) / 1000.0)) AS sxx
  FROM w GROUP BY 1, 2
),
c AS (
  SELECT sk, t, cnt,
         sxy / cnt - (sx / cnt) * (sy / cnt) AS cov,
         sxx / cnt - (sx / cnt) * (sx / cnt) AS var,
         sx, sy
  FROM a WHERE cnt >= 2
)
"""

_DAILY2_PREFIX = """
WITH bounds AS (
  SELECT CAST(ceil((SELECT MIN(epoch_ms(ts)) FROM events) / 86400000.0) AS BIGINT) * 86400000 AS gstart,
         CAST(floor((SELECT MAX(epoch_ms(ts)) FROM events) / 86400000.0) AS BIGINT) * 86400000 AS gend
),
grid AS (
  SELECT unnest(generate_series((SELECT gstart FROM bounds),
                                (SELECT gend FROM bounds), 86400000)) AS t
),
praw AS (
  SELECT user_id, epoch_ms(ts) AS ts, max(value) AS value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
),
eraw AS (
  SELECT user_id, epoch_ms(ts) AS ts, max(value) AS value
  FROM events WHERE event_type = 'error' GROUP BY 1, 2
),
p AS (
  SELECT praw.user_id, grid.t, CAST(count(*) AS DOUBLE) AS value
  FROM grid JOIN praw ON praw.ts BETWEEN grid.t - 86400000 AND grid.t
  GROUP BY 1, 2
),
e AS (
  SELECT eraw.user_id, grid.t, CAST(count(*) AS DOUBLE) AS value
  FROM grid JOIN eraw ON eraw.ts BETWEEN grid.t - 86400000 AND grid.t
  GROUP BY 1, 2
)
"""


def _daily2(body: str) -> str:
    return _DAILY2_PREFIX + body


ORACLES = {
    "ts_instant_last": _simple_oracle("arg_max(value, ts)", None),
    "ts_sum_over_time": _simple_oracle("sum(value)", 6),
    "ts_avg_over_time": _simple_oracle(
        "list_reduce(list_sort(list(value)), (a, b) -> a + b) / count(*)", 6),
    "ts_min_over_time": _simple_oracle("min(value)", None),
    "ts_max_over_time": _simple_oracle("max(value)", None),
    "ts_count_over_time": _simple_oracle("CAST(count(*) AS DOUBLE)", None),
    "ts_stddev_over_time": _simple_oracle("stddev_pop(value)", 6),
    "ts_stdvar_over_time": _simple_oracle("var_pop(value)", 6),
    "ts_quantile_over_time": _simple_oracle("quantile_cont(value, 0.9)", 6),
    "ts_mad_over_time": _base(STEP, WINDOW) + """,
m AS (SELECT sk, t, quantile_cont(value, 0.5) AS med FROM w GROUP BY 1, 2)
SELECT w.sk AS event_type, w.t,
       round(quantile_cont(abs(w.value - m.med), 0.5), 6) AS value
FROM w JOIN m ON w.sk = m.sk AND w.t = m.t GROUP BY w.sk, w.t""",
    "ts_rate": _rate_oracle(True, True, 9),
    "ts_rate_fine": _rate_oracle(True, True, 6, step=FINE_STEP,
                                 window=FINE_WINDOW, span_ms=FINE_SPAN,
                                 floor_round=True),
    "ts_increase": _rate_oracle(True, False, 6),
    # reset markers injected as value-0 samples — exactly what the
    # kernel's NaN→0 reset-marker mapping evaluates; same mid-instant
    # computation ((min+max)/2, truncating) and collision drop
    "ts_rate_reset_marker": _rate_oracle(True, False, 6, raw_tail="""
mids AS (
  SELECT sk, (min(ts) + max(ts)) // 2 AS ts, 0.0 AS value
  FROM raw0 GROUP BY sk
),
markers AS (
  SELECT m.sk, m.ts, m.value FROM mids m
  WHERE NOT EXISTS (SELECT 1 FROM raw0 r WHERE r.sk = m.sk AND r.ts = m.ts)
),
raw AS (SELECT * FROM raw0 UNION ALL SELECT * FROM markers),"""),
    "ts_delta": _rate_oracle(False, False, 6),
    "ts_idelta": _base(STEP, WINDOW) + _IDELTA_A + f"""
SELECT sk AS event_type, t, last_val - prev_val AS value
FROM a WHERE prev_ts2 >= t - {WINDOW}""",
    "ts_irate": _base(STEP, WINDOW) + _IDELTA_A + f"""
SELECT sk AS event_type, t,
       round((CASE WHEN last_val >= prev_val THEN last_val - prev_val
                   ELSE last_val END) / ((last_ts - prev_ts2) / 1000.0), 9) AS value
FROM a WHERE prev_ts2 >= t - {WINDOW} AND last_ts > prev_ts2""",
    "ts_resets": _simple_oracle(
        f"CAST(sum(CASE WHEN prev_ts >= t - {WINDOW} AND value < prev_value "
        "THEN 1 ELSE 0 END) AS DOUBLE)", None),
    "ts_changes": _simple_oracle(
        f"CAST(sum(CASE WHEN prev_ts >= t - {WINDOW} AND value <> prev_value "
        "THEN 1 ELSE 0 END) AS DOUBLE)", None),
    "ts_deriv": _base(STEP, WINDOW) + _REGRESSION_A + """
SELECT sk AS event_type, t, round(cov / var, 9) AS value
FROM c WHERE var > 0""",
    "ts_predict_linear": _base(STEP, WINDOW) + _REGRESSION_A + """
SELECT sk AS event_type, t,
       round((sy / cnt - (cov / var) * (sx / cnt)) + (cov / var) * 3600.0, 6) AS value
FROM c WHERE var > 0""",
    "ts_zscore": _simple_oracle(
        "(arg_max(value, ts) - avg(value)) / stddev_pop(value)", 6)
        + " HAVING stddev_pop(value) <> 0",
    "ts_agg_sum_rate": _rate_oracle(True, True, 9).replace(
        f"SELECT sk AS event_type, t, round(delta * (ext / si) / {WINDOW / 1000.0}, 9) AS value FROM c3",
        f"SELECT t, round(sum(delta * (ext / si) / {WINDOW / 1000.0}), 6) AS value FROM c3 GROUP BY t"),
    "ts_agg_avg_by": f"""
WITH raw2 AS (
  SELECT event_type, user_id % 10 AS ub, epoch_ms(ts) AS ts, max(value) AS value
  FROM events GROUP BY 1, 2, 3
),
bounds AS (
  SELECT CAST(ceil((SELECT MIN(epoch_ms(ts)) FROM events) / {STEP}.0) AS BIGINT) * {STEP} AS gstart,
         CAST(floor((SELECT MAX(epoch_ms(ts)) FROM events) / {STEP}.0) AS BIGINT) * {STEP} AS gend
),
grid AS (
  SELECT unnest(generate_series((SELECT gstart FROM bounds),
                                (SELECT gend FROM bounds), {STEP})) AS t
),
sot AS (
  SELECT raw2.event_type, raw2.ub, grid.t, sum(raw2.value) AS value
  FROM grid JOIN raw2 ON raw2.ts BETWEEN grid.t - {WINDOW} AND grid.t
  GROUP BY 1, 2, 3
)
SELECT event_type, t, round(avg(value), 6) AS value FROM sot GROUP BY 1, 2""",
    "ts_agg_topk": _base(STEP, WINDOW) + """,
sot AS (SELECT sk, t, sum(value) AS value FROM w GROUP BY 1, 2),
rk AS (SELECT sk, t, value,
              row_number() OVER (PARTITION BY t ORDER BY value DESC, sk) AS r
       FROM sot)
SELECT sk AS event_type, t, round(value, 6) AS value FROM rk WHERE r <= 2""",
    "ts_agg_bottomk": _base(STEP, WINDOW) + """,
sot AS (SELECT sk, t, sum(value) AS value FROM w GROUP BY 1, 2),
rk AS (SELECT sk, t, value,
              row_number() OVER (PARTITION BY t ORDER BY value ASC, sk) AS r
       FROM sot)
SELECT sk AS event_type, t, round(value, 6) AS value FROM rk WHERE r <= 2""",
    "ts_agg_quantile": _base(STEP, WINDOW) + """,
last AS (SELECT sk, t, arg_max(value, ts) AS value FROM w GROUP BY 1, 2)
SELECT t, round(quantile_cont(value, 0.5), 6) AS value FROM last GROUP BY t""",
    "ts_agg_count_values": _base(STEP, WINDOW) + """,
last AS (SELECT sk, t, arg_max(value, ts) AS value FROM w GROUP BY 1, 2)
SELECT CAST(floor(value) AS BIGINT) AS bucket, t, CAST(count(*) AS DOUBLE) AS value
FROM last GROUP BY 1, 2""",
    "ts_instant_math": _base(STEP, WINDOW) + """,
last AS (SELECT sk, t, arg_max(value, ts) AS value FROM w GROUP BY 1, 2)
SELECT sk AS event_type, t,
       round(least(greatest(sqrt(abs(value - 50.0)), 1.0), 5.0), 6) AS value
FROM last""",
    "ts_set_and": _daily2(
        "SELECT p.user_id, p.t, p.value FROM p "
        "WHERE EXISTS (SELECT 1 FROM e WHERE e.user_id = p.user_id AND e.t = p.t)"),
    "ts_set_unless": _daily2(
        "SELECT p.user_id, p.t, p.value FROM p "
        "WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.user_id = p.user_id AND e.t = p.t)"),
    "ts_set_or": _daily2(
        "SELECT p.user_id, p.t, p.value FROM p "
        "UNION ALL "
        "SELECT e.user_id, e.t, e.value FROM e "
        "WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = e.user_id AND p.t = e.t)"),
    "ts_join_ratio": _daily2(
        "SELECT p.user_id, p.t, round(p.value / e.value, 6) AS value "
        "FROM p JOIN e ON p.user_id = e.user_id AND p.t = e.t"),
    "ts_join_group_left": _daily2(
        ", tot AS (SELECT t, sum(value) AS rv FROM e GROUP BY t) "
        "SELECT p.user_id, p.t, round(p.value / tot.rv, 9) AS value "
        "FROM p JOIN tot ON p.t = tot.t"),
    "ts_join_group_right": _daily2(
        ", tot AS (SELECT t, sum(value) AS lv FROM p GROUP BY t) "
        "SELECT e.user_id, e.t, round(e.value / tot.lv, 9) AS value "
        "FROM e JOIN tot ON e.t = tot.t"),
    # holt_winters: the sequential recurrence is expressible as a
    # recursive CTE stepping through row_number order — same fold
    # sequence as the engine's sorted aggregate()
    "ts_holt_winters": f"""
WITH RECURSIVE raw AS (
  SELECT event_type AS sk, epoch_ms(ts) AS ts, max(value) AS value
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT CAST(ceil((SELECT MIN(epoch_ms(ts)) FROM events) / {STEP}.0) AS BIGINT) * {STEP} AS gstart,
         CAST(floor((SELECT MAX(epoch_ms(ts)) FROM events) / {STEP}.0) AS BIGINT) * {STEP} AS gend
),
grid AS (
  SELECT unnest(generate_series((SELECT gstart FROM bounds),
                                (SELECT gend FROM bounds), {STEP})) AS t
),
w AS (
  SELECT raw.sk, grid.t, raw.ts, raw.value,
         row_number() OVER (PARTITION BY raw.sk, grid.t ORDER BY raw.ts) AS rn,
         count(*) OVER (PARTITION BY raw.sk, grid.t) AS cnt
  FROM grid JOIN raw ON raw.ts BETWEEN grid.t - {WINDOW} AND grid.t
),
hw AS (
  SELECT s2.sk, s2.t, 2 AS rn, s2.cnt, s2.value AS level,
         s2.value - s1.value AS trend
  FROM w s1 JOIN w s2
    ON s1.sk = s2.sk AND s1.t = s2.t AND s1.rn = 1 AND s2.rn = 2
  UNION ALL
  SELECT hw.sk, hw.t, hw.rn + 1, hw.cnt,
         0.5 * w.value + (1 - 0.5) * (hw.level + hw.trend),
         0.1 * ((0.5 * w.value + (1 - 0.5) * (hw.level + hw.trend)) - hw.level)
           + (1 - 0.1) * hw.trend
  FROM hw JOIN w ON w.sk = hw.sk AND w.t = hw.t AND w.rn = hw.rn + 1
)
SELECT sk AS event_type, t, round(level, 6) AS value FROM hw WHERE rn = cnt""",
    "ts_mad_outlier": _base(STEP, WINDOW) + """,
m AS (SELECT sk, t, quantile_cont(value, 0.5) AS med FROM w GROUP BY 1, 2),
o AS (SELECT w.sk, w.t,
             quantile_cont(abs(w.value - m.med), 0.5) AS mad,
             any_value(m.med) AS med,
             arg_max(w.value, w.ts) AS last_val
      FROM w JOIN m ON w.sk = m.sk AND w.t = m.t GROUP BY w.sk, w.t)
SELECT sk AS event_type, t, last_val AS value
FROM o WHERE last_val < med - 1.5 * mad OR last_val > med + 1.5 * mad""",
    "ts_timestamp": _simple_oracle("max(ts) / 1000.0", None),
    "ts_present_over_time": _simple_oracle("1.0", None),
    "ts_absent": _base(STEP, 3600_000, where="event_type = 'purchase'") + """
SELECT grid.t, 1.0 AS value FROM grid
WHERE NOT EXISTS (SELECT 1 FROM w WHERE w.t = grid.t)""",
    "ts_day_of_week": _simple_oracle(
        "CAST(dayofweek(to_timestamp(max(ts) / 1000.0)) AS DOUBLE)", None),
    "ts_label_values": "SELECT DISTINCT event_type FROM events",
    "ts_salted_sum": """
WITH raw AS (
  SELECT event_type, epoch_ms(ts) AS ts, max(value) AS value
  FROM events GROUP BY 1, 2
)
SELECT event_type, round(sum(value), 4) AS value FROM raw GROUP BY 1""",
    "ts_influx_roundtrip": """
WITH raw AS (
  SELECT event_type, epoch_ms(ts) AS ts, max(value) AS value
  FROM events GROUP BY 1, 2
)
SELECT event_type, ts, round(value, 2) AS value FROM raw""",
    "ts_csv_roundtrip": """
WITH raw AS (
  SELECT event_type, epoch_ms(ts) AS ts, max(value) AS value
  FROM events GROUP BY 1, 2
)
SELECT event_type, ts, round(value, 2) AS value FROM raw""",
    "ts_remote_write_roundtrip": """
WITH raw AS (
  SELECT event_type, epoch_ms(ts) AS ts, max(value) AS value
  FROM events GROUP BY 1, 2
)
SELECT event_type, ts, round(value, 2) AS value FROM raw""",
    "ts_series_cardinality":
        "SELECT event_type, count(DISTINCT user_id) AS card "
        "FROM events GROUP BY event_type",
    # part-key-path metadata: per-series spans from one aggregate, then
    # span-overlap / endTime-active semantics (matches the index path)
    "ts_label_values_pk": """
WITH per_series AS (
  SELECT event_type, CAST(user_id AS VARCHAR) AS user,
         MAX(epoch_ms(ts)) AS last_ts
  FROM events GROUP BY 1, 2
)
SELECT DISTINCT user AS value FROM per_series
WHERE regexp_matches(event_type, '^(?:p.*)$')
  AND last_ts >= (SELECT MAX(epoch_ms(ts)) - 43200000 FROM events)""",
    # hist-scoped twin: the evlat hist series are one per (event_type,
    # user) built from the same events rows, so spans match the gauge
    # per-series aggregate exactly; the _sum rewrite resolves to the
    # base metric's series set
    "ts_hist_metadata_pk": """
WITH per_series AS (
  SELECT event_type, CAST(user_id AS VARCHAR) AS user,
         MAX(epoch_ms(ts)) AS last_ts
  FROM events GROUP BY 1, 2
)
SELECT DISTINCT user AS value FROM per_series
WHERE regexp_matches(event_type, '^(?:p.*)$')
  AND last_ts >= (SELECT MAX(epoch_ms(ts)) - 43200000 FROM events)""",
    "ts_series_cardinality_pk": """
WITH per_series AS (
  SELECT event_type, user_id, MAX(epoch_ms(ts)) AS last_ts
  FROM events GROUP BY 1, 2
)
SELECT event_type, count(*) AS total_series,
       count(*) FILTER (WHERE last_ts >=
         (SELECT MAX(epoch_ms(ts)) - 43200000 FROM events)) AS active_series
FROM per_series GROUP BY 1""",
    "ts_ds_eligibility": """
WITH raw AS (
  SELECT event_type, user_id, epoch_ms(ts) AS ts
  FROM events GROUP BY 1, 2, 3
)
SELECT event_type, user_id, count(*) AS n,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM raw
WHERE (event_type = 'click' OR user_id = 3)
  AND NOT (event_type = 'click' AND user_id = 7)
GROUP BY 1, 2""",
    "ts_repair_copy": """
WITH raw AS (
  SELECT event_type, epoch_ms(ts) AS ts, max(value) AS value
  FROM events GROUP BY 1, 2
)
SELECT event_type, ts, round(value, 2) AS value FROM raw
WHERE ts < (SELECT (MIN(epoch_ms(ts)) + MAX(epoch_ms(ts))) // 2
            FROM events)""",
    "ts_cardbuster": """
WITH per_series AS (
  SELECT event_type, user_id, MIN(epoch_ms(ts)) AS first_ts,
         MAX(epoch_ms(ts)) AS last_ts
  FROM events GROUP BY 1, 2
)
SELECT event_type, user_id, first_ts, last_ts FROM per_series
WHERE NOT (
  (regexp_matches(event_type, '^(?:err.*)$')
   OR regexp_matches(CAST(user_id AS VARCHAR), '^(?:1[0-9])$'))
  AND first_ts <= (SELECT MIN(epoch_ms(ts)) + 21600000 FROM events))""",
}
