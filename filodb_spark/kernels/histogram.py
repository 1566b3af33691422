"""Histogram type + operations.

Reference model (core/src/main/scala/filodb.memory/format/vectors/
Histogram.scala:11-17): cumulative-LE buckets — bucket i holds the count
of observations <= les[i]; the last bucket must be +Inf and equals the
total count. Spark representation:
  struct<les: array<double>, values: array<double>>

Design — **bucket explosion**: histogram windowing/aggregation ops
(rate over cumulative histograms, bucket-wise sums) re-use the scalar
kernels by exploding (series, ts, hist) into (series, bucket_le, ts,
bucket_value) rows, running the double kernel, and re-assembling sorted
arrays. Bucket counts are small (16-64), so the expansion is a constant
factor, stays whole-stage-codegen'd, and inherits the scalar kernels'
exactness (incl. extrapolation + reset correction) per bucket —
mirroring extrapolatedRateH (RateFunctions.scala:37-66) which applies
the scalar extrapolation to every bucket.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from filodb_spark.kernels.grid import StepGrid
from filodb_spark.kernels.range_fns import range_function


def hist_struct(les: Column, values: Column) -> Column:
    return F.struct(les.alias("les"), values.alias("values"))


def le_label(le: Column) -> Column:
    """Prometheus-style `le` label string for a bucket bound: +Inf for
    the top bucket, integral bounds without a trailing .0."""
    return F.when(le == F.lit(float("inf")), F.lit("+Inf")) \
        .otherwise(F.when(le == F.floor(le),
                          le.cast("long").cast("string"))
                   .otherwise(le.cast("string")))


def bucketize(df: DataFrame, group_cols: Sequence[str], les: Sequence[float],
              value_col: str = "value") -> DataFrame:
    """Aggregate raw observations into a cumulative-LE histogram per group.

    les must be ascending and is extended with +Inf. One hash aggregation:
    each bound is a conditional count (count of values <= le).
    """
    bounds = [*les, float("inf")]
    v = F.col(value_col)
    counts = [F.sum(F.when(v <= b, 1).otherwise(0)).cast("double").alias(f"_b{i}")
              for i, b in enumerate(bounds)]
    agg = df.groupBy(*group_cols).agg(*counts)
    les_col = F.array(*[F.lit(float(b)) for b in bounds])
    vals_col = F.array(*[F.col(f"_b{i}") for i in range(len(bounds))])
    return agg.select(*group_cols, hist_struct(les_col, vals_col).alias("hist"))


def explode_hist(df: DataFrame, hist_col: str = "hist") -> DataFrame:
    """hist struct -> one row per bucket: (.., bucket_le, value)."""
    h = F.col(hist_col)
    pairs = F.arrays_zip(h["les"].alias("le"), h["values"].alias("value"))
    return (df.withColumn("_p", F.explode(pairs))
              .withColumn("bucket_le", F.col("_p.le"))
              .withColumn("value", F.col("_p.value"))
              .drop("_p", hist_col))


def hist_to_prom_bucket_vectors(df: DataFrame,
                                metric_label: str = "__name__") -> DataFrame:
    """Histogram vector -> Prometheus bucket series: one series per
    bucket with an `le` label, metric name suffixed `_bucket`
    (HistToPromSeriesMapper, RangeVectorTransformer.scala:497-573;
    HistToPromSeriesMapperSpec.scala:47-51). Shared by the
    hist_to_prom_vectors PromQL function and the HTTP layer's default
    histogram rendering (PrometheusApiRouteSpec.scala:146-169)."""
    labels = F.col("labels")
    ex = explode_hist(df.select("labels", "t", "hist"))
    named = F.when(labels[metric_label].isNotNull(),
                   F.create_map(F.lit(metric_label),
                                F.concat(labels[metric_label],
                                         F.lit("_bucket")))) \
        .otherwise(F.create_map().cast("map<string,string>"))
    ex = ex.withColumn("labels", F.map_concat(
        F.map_filter(labels, lambda k, _: k != metric_label),
        F.create_map(F.lit("le"), le_label(F.col("bucket_le"))),
        named))
    return ex.select("labels", "t", "value")


def assemble_hist(df: DataFrame, group_cols: Sequence[str],
                  skip_nan: bool = False) -> DataFrame:
    """Inverse of explode_hist: collect sorted (bucket_le, value) arrays.
    `skip_nan` leaves NaN values out, and a group left with none has no
    row. `min`/`max` columns fold over all of a group's rows, skipped
    ones included, into `hmin`/`hmax`."""
    pair = F.struct(F.col("bucket_le").alias("le"), F.col("value"))
    if skip_nan:
        pair = F.when(~F.isnan("value"), pair)    # collect_list skips null
    comps = [c for c in ("min", "max") if c in df.columns]
    agg = df.groupBy(*group_cols).agg(
        F.array_sort(F.collect_list(pair)).alias("_ps"),
        *[(F.min if c == "min" else F.max)(c).alias("h" + c) for c in comps])
    if skip_nan:
        agg = agg.where(F.size("_ps") > 0)
    h = hist_struct(F.transform("_ps", lambda p: p["le"]),
                    F.transform("_ps", lambda p: p["value"]))
    return agg.select(*group_cols, h.alias("hist"), *["h" + c for c in comps])


def hist_range_function(df: DataFrame, fn: str, series_cols: Sequence[str],
                        grid: StepGrid, window: int) -> DataFrame:
    """Range function over histogram series (rate/increase/delta/
    sum_over_time/last_over_time) in one windowed pass: bucket-explode ->
    scalar kernel per (series, bucket) -> re-assemble per (series, t).
    Matches extrapolatedRateH per-bucket semantics.

    `min`/`max` columns (otel-style companions) ride the same pass, as in
    the reference's RateAndMinMaxOverTime / SumAndMaxOverTime
    (InternalRangeFunction.scala:57-60): each bucket row windows them and
    the assembly folds them into `hmin`/`hmax`, the window extremes of
    the non-NaN samples (null if none). A sample whose buckets the
    kernel's NaN policy all drops (every one NaN, outside rate/increase)
    leaves the companions too."""
    comps = [c for c in ("min", "max") if c in df.columns]
    exploded = explode_hist(df.select(*series_cols, "ts", "hist", *comps))
    out = range_function(exploded, fn, [*series_cols, "bucket_le"], grid,
                         window, companions=comps)
    return assemble_hist(out, [*series_cols, "t"], skip_nan=True)


def cum_at_le(hist: Column, x: Column) -> Column:
    """Projected cumulative count of `hist` at threshold `x`: exact when x
    is one of the histogram's bounds, linear interpolation inside buckets
    otherwise (from (0, 0) below the first bound); clamps to the last
    finite bucket's count under a +Inf top bucket and returns the total at
    x = +Inf. The per-bucket linear model is the same assumption
    Histogram.quantile makes (Histogram.scala:62-112)."""
    inf = F.lit(float("inf"))
    return F.when(x == inf, F.element_at(hist["values"], -1)).otherwise(
        F.aggregate(
            F.zip_with(hist["les"], hist["values"],
                       lambda l, v: F.struct(l.alias("le"), v.alias("v"))),
            F.struct(F.lit(0.0).alias("prev_le"), F.lit(0.0).alias("prev_v"),
                     F.lit(None).cast("double").alias("res")),
            lambda acc, b: F.struct(
                b["le"].alias("prev_le"), b["v"].alias("prev_v"),
                F.when(acc["res"].isNotNull(), acc["res"])
                 .when(x == b["le"], b["v"])
                 .when(x < b["le"],
                       F.when(b["le"] == inf, acc["prev_v"])
                        .otherwise(acc["prev_v"] + (b["v"] - acc["prev_v"])
                                   * ((x - acc["prev_le"])
                                      / (b["le"] - acc["prev_le"]))))
                 .otherwise(F.lit(None).cast("double")).alias("res")),
            lambda acc: F.coalesce(acc["res"], acc["prev_v"])))


def reconcile_hist(hist: Column, target_les: Sequence[float]) -> Column:
    """Project a cumulative-LE histogram onto an explicit target bound
    grid: value at each target bound = cum_at_le. Exact (no interpolation
    error) whenever the target bounds are a subset of the source bounds —
    the situation the reference's exponential-scheme merge engineers by
    construction (Base2ExpHistogramBuckets.addValues,
    Histogram.scala:809-840: a coarser scale's bounds are every 2^k-th of
    the finer scale's)."""
    les_col = F.array(*[F.lit(float(b)) for b in target_les])
    vals = F.transform(les_col, lambda x: cum_at_le(hist, x))
    return hist_struct(les_col, vals)


def hist_sum(df: DataFrame, group_cols: Sequence[str],
             hist_col: str = "hist",
             target_les: Sequence[float] | None = None,
             check_schemes: bool = True) -> DataFrame:
    """Bucket-wise sum of histograms across series
    (HistSumRowAggregator.scala:1-34; add semantics
    Histogram.scala:367-420 MutableHistogram.addNoCorrection).

    Default (reference parity): groups whose histograms all share one
    bucket scheme sum bucket-wise; a group mixing schemes yields an
    all-NaN histogram, like addNoCorrection's mismatched-scheme branch.
    (Deviation, documented: the reference's accumulate order determines
    whose bounds the NaN histogram carries and later same-scheme adds can
    resurrect it — order-dependent by its own TODO admission; we emit the
    union grid with all-NaN values, deterministically.)

    target_les: reconcile mixed schemes by projecting every histogram
    onto this grid first (cum_at_le), then summing — the generalization
    of the reference's exponential-scheme merge; exact when each
    histogram's bounds are a subset of the target grid.

    check_schemes=False skips the mixed-scheme detection (one aggregate +
    join) — for callers that constructed every input with the same
    bucketize() bounds, where schemes are identical by construction."""
    if target_les is not None:
        projected = df.select(
            *group_cols, reconcile_hist(F.col(hist_col), target_les)
            .alias(hist_col))
        exploded = explode_hist(projected, hist_col)
        summed = (exploded.groupBy(*group_cols, "bucket_le")
                  .agg(F.sum("value").alias("value")))
        return assemble_hist(summed, group_cols)
    exploded = explode_hist(df, hist_col)
    summed = (exploded.groupBy(*group_cols, "bucket_le")
              .agg(F.sum("value").alias("value")))
    if not check_schemes:
        return assemble_hist(summed, group_cols)
    # scheme check: >1 distinct les array in a group -> all-NaN values
    schemes = df.groupBy(*group_cols).agg(
        F.count_distinct(F.col(hist_col)["les"]).alias("_n_schemes"))
    out = assemble_hist(summed, group_cols).join(schemes, list(group_cols))
    h = F.col("hist")
    nan_hist = hist_struct(h["les"], F.transform(
        h["values"], lambda _: F.lit(float("nan"))))
    return out.select(*group_cols,
                      F.when(F.col("_n_schemes") > 1, nan_hist)
                       .otherwise(h).alias("hist"))


def base2_exp_merged_scheme(
        schemes: Sequence[tuple[int, int, int]],
        max_pos_buckets: int = 180) -> tuple[int, int, int]:
    """Merged OTel base-2 exponential scheme accommodating every input
    scheme (scale, start_index, num_pos) — Base2ExpHistogramBuckets.add
    (Histogram.scala:772-801): scale = min of inputs, bucket range = union
    of input ranges, scale reduced further until the positive-bucket count
    fits max_pos_buckets. Combine with base2_exp_les + hist_sum(
    target_les=...) for the exp-scheme histogram merge; the coarser
    scale's bounds are every 2^k-th of the finer's, so the projection is
    an exact bucket-index remap (addValues, Histogram.scala:809-840)."""
    # bucketTop(no) = base^(start_index + no); start top = top(1), end = top(num_pos)
    start_tops = [2.0 ** (2.0 ** -s * (st + 1)) for s, st, n in schemes]
    end_tops = [2.0 ** (2.0 ** -s * (st + n)) for s, st, n in schemes]
    min_top, max_top = min(start_tops), max(end_tops)
    new_scale = min(s for s, _, _ in schemes)
    while True:
        log_base = math.log(2.0) * (2.0 ** -new_scale)
        end_i = math.ceil(math.log(max_top) / log_base) - 1    # inclusive
        start_i = math.floor(math.log(min_top) / log_base) - 1
        if end_i - start_i + 1 <= max_pos_buckets:
            return new_scale, start_i, end_i - start_i + 1
        new_scale -= 1


def les_to_base2_exp_scheme(les: Sequence[float]
                            ) -> tuple[int, int, int] | None:
    """Recover (scale, start_index, num_pos) from materialized base-2 exp
    bounds — the inverse of base2_exp_les. Returns None unless the array
    reproduces EXACTLY under base2_exp_les (bitwise), so arbitrary custom
    grids can never be misclassified as exponential schemes."""
    les = list(les)
    if len(les) < 3 or les[0] != 0.0 or les[1] <= 0.0:
        return None
    num_pos = len(les) - 1
    ratio = les[2] / les[1]
    if not (ratio > 1.0) or not math.isfinite(ratio):
        return None
    inv = math.log2(ratio)              # = 2^-scale
    if inv <= 0:
        return None
    scale = round(-math.log2(inv))
    try:
        start = round(math.log2(les[1]) / (2.0 ** -scale)) - 1
        if base2_exp_les(scale, start, num_pos) != les:
            return None
    except (OverflowError, ValueError):
        return None
    return scale, start, num_pos


def base2_exp_les(scale: int, start_index: int, num_pos: int) -> list[float]:
    """Materialize OTel base-2 exponential bucket tops to explicit LE
    bounds (Base2ExpHistogramBuckets, Histogram.scala:655-700):
    base = 2^(2^-scale); bucket 0 is the zero bucket, then
    top(i) = base^(start_index + i) for i = 1..num_pos."""
    # 2^(k * 2^-scale) rather than base**k: the exponent k * 2^-scale is a
    # dyadic rational (exact in double), so the same bound computed under
    # two different scales yields the SAME double — which makes the
    # coarse-grid projection in hist_sum(target_les=...) an exact lookup
    return [0.0] + [2.0 ** ((start_index + i) * 2.0 ** -scale)
                    for i in range(1, num_pos + 1)]


def monotonic_values(vals: Column) -> Column:
    """HistogramQuantileMapper.makeMonotonic
    (HistogramQuantileMapper.scala:139-147): cumulative bucket counts on
    increasing le must be non-decreasing; a NaN (bucket no longer
    populated after a scheme change) or a dip (buckets scraped
    non-atomically, or a new bucket not yet on every instance) is
    replaced with the running max. Without the repair, a quantile rank
    crossing above a dipped bucket interpolates against the dip and
    lands too high (e.g. [15,12,20] at rank 18: raw 3.5 vs repaired
    3.2 on les [1,2,4])."""
    return F.aggregate(
        vals,
        F.struct(F.lit(0.0).alias("mx"),
                 F.array().cast("array<double>").alias("out")),
        lambda acc, v: F.struct(
            F.when(~F.isnan(v) & (v > acc["mx"]), v)
             .otherwise(acc["mx"]).alias("mx"),
            F.concat(acc["out"], F.array(
                F.when(F.isnan(v) | (v < acc["mx"]), acc["mx"])
                 .otherwise(v))).alias("out")),
        lambda acc: acc["out"])


def hist_quantile(q: Column | float, hist: Column,
                  min_hint: Column | None = None,
                  max_hint: Column | None = None,
                  even_distribution: bool = False,
                  exponential: bool = False) -> Column:
    """Histogram.quantile (Histogram.scala:62-112): cumulative-LE linear
    interpolation; quantile landing in the +Inf top bucket returns the
    highest finite bucket bound; rank below the first bucket interpolates
    from 0. NaN when <2 buckets, no +Inf top bucket, or empty histogram.

    min_hint/max_hint (histogram_max_quantile / min/max-column schemas):
    when the observed min/max falls inside the chosen bucket, the bucket
    bounds tighten to it — in particular a +Inf top bucket interpolates
    up to max instead of clamping (Histogram.scala:81-91).
    even_distribution: fraction = rank/(count+1)
    (histogram_max_quantile_even)."""
    if not isinstance(q, Column):
        q = F.lit(float(q))
    les, vals = hist["les"], hist["values"]
    n = F.size(les)
    total = F.element_at(vals, -1)
    rank = q * total
    idx = F.aggregate(
        vals,
        F.struct(F.lit(0).alias("i"), F.lit(-1).alias("found")),
        lambda acc, v: F.struct(
            (acc["i"] + 1).alias("i"),
            F.when((acc["found"] < 0) & (v >= rank), acc["i"] + 1)
             .otherwise(acc["found"]).alias("found")),
        lambda acc: acc["found"])
    le = F.element_at(les, idx)
    cum = F.element_at(vals, idx)
    lo_le = F.when(idx > 1, F.element_at(les, idx - 1)).otherwise(F.lit(0.0))
    lo_cum = F.when(idx > 1, F.element_at(vals, idx - 1)).otherwise(F.lit(0.0))
    b_start, b_end = lo_le, le
    if min_hint is not None:
        b_start = F.when((min_hint > b_start) & (min_hint <= b_end), min_hint) \
            .otherwise(b_start)
    if max_hint is not None:
        b_end = F.when((max_hint > b_start) & (max_hint <= b_end), max_hint) \
            .otherwise(b_end)
    count = cum - lo_cum
    frac = (rank - lo_cum) / (count + (1 if even_distribution else 0))
    if exponential:
        # log-scale interpolation for exponential bucket schemes
        # (Histogram.scala:97-105); from-zero first bucket stays linear
        log2 = lambda c: F.log(c) / F.lit(math.log(2.0))
        log_interp = F.pow(F.lit(2.0), log2(b_start)
                           + (log2(b_end) - log2(b_start)) * frac)
        interp = F.when(b_start == 0, b_start + (b_end - b_start) * frac) \
            .otherwise(log_interp)
    else:
        interp = b_start + (b_end - b_start) * frac
    nan = F.lit(float("nan"))
    # NOTE: the reference does NOT NaN on a missing +Inf top bucket
    # (finite-top schemes like exp histograms interpolate in the last
    # bucket); +Inf only triggers the clamp (Histogram.scala:85-89)
    return (F.when(q < 0, F.lit(float("-inf")))
             .when(q > 1, F.lit(float("inf")))
             .when((n < 2) | (total == 0) | total.isNull(), nan)
             .when(b_end == F.lit(float("inf")), lo_le)
             .when(cum == lo_cum, lo_le)
             .otherwise(interp))


def hist_fraction(lo: float, hi: float, hist: Column) -> Column:
    """histogram_fraction(lo, hi, h) (Histogram.scala:113-190): fraction of
    observations in [lo, hi], linear interpolation inside buckets."""
    les, vals = hist["les"], hist["values"]
    total = F.element_at(vals, -1)

    def cum_at(x: float) -> Column:
        # interpolated cumulative count at threshold x
        xc = F.lit(float(x))
        return F.aggregate(
            F.zip_with(les, vals, lambda l, v: F.struct(l.alias("le"),
                                                        v.alias("v"))),
            F.struct(F.lit(0.0).alias("prev_le"), F.lit(0.0).alias("prev_v"),
                     F.lit(None).cast("double").alias("res")),
            lambda acc, b: F.struct(
                b["le"].alias("prev_le"), b["v"].alias("prev_v"),
                F.when(acc["res"].isNotNull(), acc["res"])
                 .when(xc <= b["le"],
                       F.when(b["le"] == F.lit(float("inf")), acc["prev_v"])
                        .otherwise(acc["prev_v"] + (b["v"] - acc["prev_v"])
                                   * ((xc - acc["prev_le"])
                                      / (b["le"] - acc["prev_le"]))))
                 .otherwise(F.lit(None).cast("double")).alias("res")),
            lambda acc: F.coalesce(acc["res"], acc["prev_v"]))

    frac = (cum_at(hi) - cum_at(lo)) / total
    return F.when(total == 0, F.lit(float("nan"))).otherwise(frac)


def counter_correct_hist(df: DataFrame,
                         series_cols: Sequence[str]) -> DataFrame:
    """Per-bucket monotone counter reconstruction
    (BufferableCounterCorrectionIteratorH,
    PeriodicSamplesMapper.scala:568-590): each bucket of a cumulative
    histogram counter corrects independently — a dip in bucket i adds
    bucket i's previous value to ITS running correction; NaN buckets
    read 0 (explicit reset marker). Composition of the scalar
    counter_correct over the exploded buckets, re-assembled — the same
    shape the hist rate path uses (hist_range_function). Like the
    scalar form, a standalone spec-parity kernel: the production hist
    rate path corrects in-window per bucket."""
    from filodb_spark.kernels.range_fns import counter_correct
    fixed = counter_correct(explode_hist(df), [*series_cols, "bucket_le"])
    return assemble_hist(fixed, [*series_cols, "ts"])
