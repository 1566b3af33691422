"""PromQL range functions as Spark hash aggregations.

Semantics ported from filodb/FiloDB (which matches Prometheus):
- extrapolated rate/increase/delta: ``query/src/main/scala/filodb/query/exec/rangefn/RateFunctions.scala:72-111``
- *_over_time kernels: ``rangefn/AggrOverTimeFunctions.scala``
- instant pair functions (idelta/irate/resets/changes): ``rangefn/RangeInstantFunctions.scala``
- NaN samples are stale/missing and are skipped by every kernel
  (``AggrOverTimeFunctions.scala:40-58``) — callers pre-filter via
  :func:`filodb_spark.kernels.grid.drop_nan`.
- Windows are inclusive ``[t-window, t]`` (``filodb.query.inclusive-range=true``).

Implementation notes (Spark-first, scale-first):
- Every function is ONE ``groupBy(series..., t).agg(...)`` over the
  grid-exploded samples (see ``grid.py``) — whole-stage-codegen hash
  aggregation, map-side partial aggregation, no Python, no per-window
  sort.
- Order statistics come from ``min_by``/``max_by`` on the sample
  timestamp; consecutive-pair statistics (counter resets, changes,
  idelta/irate) use lag-precomputed ``prev_ts``/``prev_value`` columns
  and count a pair iff both endpoints lie in the window.
- One deliberate deviation from the reference: for the counter
  zero-point clamp we use the *raw* first sample value in the window
  (Prometheus upstream semantics). FiloDB applies correction from
  series start (``CorrectingDoubleVectorReader``, DoubleVector.scala:308)
  which can differ when resets precede the window; windows-local
  correction is self-consistent and matches Prometheus.
- ``holt_winters`` is a sequential recurrence — expressed with
  ``aggregate()`` over a sorted in-window array, still JVM-side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from filodb_spark.kernels.grid import (StepGrid, drop_nan, explode_to_steps,
                                       step_bounds, with_prev_sample)
from filodb_spark.memo import Memo

def NAN() -> Column:
    return F.lit(float("nan"))


def _in_window_pair(window: int) -> Column:
    """True when the (prev, cur) consecutive pair lies fully in [t-window, t].
    (prev_ts is sentinel-coalesced, never NULL — see grid.with_prev_sample)"""
    return F.col("prev_ts") >= F.col("t") - F.lit(window)


def _nan_if_null(c: Column) -> Column:
    return F.when(c.isNull(), NAN()).otherwise(c)


# ---------------------------------------------------------------------------
# Extrapolated rate family (RateFunctions.scala:72-111, Prometheus-compatible)
# ---------------------------------------------------------------------------

def _extrapolated_expr(window: int, is_counter: bool, is_rate: bool) -> Column:
    """Column expression over the aggregated names produced by `_rate_aggs`."""
    t = F.col("t").cast("double")
    first_ts = F.col("_first_ts").cast("double")
    last_ts = F.col("_last_ts").cast("double")
    first_val = F.col("_first_val")
    last_val = F.col("_last_val")
    cnt = F.col("_cnt").cast("double")
    corr = F.col("_reset_corr") if is_counter else F.lit(0.0)

    window_start = t - F.lit(float(window))
    dur_to_start = (first_ts - window_start) / 1000.0
    dur_to_end = (t - last_ts) / 1000.0
    sampled_interval = (last_ts - first_ts) / 1000.0
    avg_dur = sampled_interval / (cnt - 1.0)
    delta = last_val - first_val + corr

    if is_counter:
        dur_to_zero = sampled_interval * (first_val / delta)
        dur_to_start = F.when(
            (delta > 0) & (first_val >= 0) & (dur_to_zero < dur_to_start), dur_to_zero
        ).otherwise(dur_to_start)

    threshold = avg_dur * 1.1
    extrapolate_to = (
        sampled_interval
        + F.when(dur_to_start < threshold, dur_to_start).otherwise(avg_dur / 2.0)
        + F.when(dur_to_end < threshold, dur_to_end).otherwise(avg_dur / 2.0)
    )
    scaled = delta * (extrapolate_to / sampled_interval)
    result = scaled / F.lit(window / 1000.0) if is_rate else scaled
    # <2 samples, or degenerate 0-length sampled interval -> NaN
    return F.when((cnt < 2) | (sampled_interval <= 0), NAN()).otherwise(result)


def _rate_aggs(window: int) -> list[Column]:
    v, ts = F.col("value"), F.col("ts")
    return [
        F.count(v).alias("_cnt"),
        F.min(ts).alias("_first_ts"),
        F.max(ts).alias("_last_ts"),
        F.min_by(v, ts).alias("_first_val"),
        F.max_by(v, ts).alias("_last_val"),
        F.sum(
            F.when(_in_window_pair(window) & (v < F.col("prev_value")),
                   F.col("prev_value")).otherwise(F.lit(0.0))
        ).alias("_reset_corr"),
    ]


# ---------------------------------------------------------------------------
# Registry: fn name -> (needs_prev, agg builder, post projection)
# Each entry computes the output column named "value" per (series..., t).
# ---------------------------------------------------------------------------

def _simple(agg: Column):
    return [agg.alias("_v")], _nan_if_null(F.col("_v"))


# Unresolved aggregate/projection Columns depend only on (fn, window,
# params) and are plan-independent, so queries share them: each Column op
# is ~2 ms of driver py4j traffic, ~0.2 s per query for the rate family's
# ~80-op expressions (r13 driver-cost dissection).
_BUILD_MEMO = Memo(64)


def _build(fn: str, window: int, params: tuple):
    return _BUILD_MEMO.get((fn, window, params),
                           lambda: _build_uncached(fn, window, params))


def _build_uncached(fn: str, window: int, params: tuple):
    v, ts = F.col("value"), F.col("ts")
    pair_ok = _in_window_pair(window)
    if fn == "sum_over_time":
        return _simple(F.sum(v))
    if fn == "avg_over_time":
        return _simple(F.avg(v))
    if fn == "count_over_time":
        return _simple(F.count(v).cast("double"))
    if fn == "min_over_time":
        return _simple(F.min(v))
    if fn == "max_over_time":
        return _simple(F.max(v))
    if fn == "stddev_over_time":
        return _simple(F.stddev_pop(v))
    if fn == "stdvar_over_time":
        return _simple(F.var_pop(v))
    if fn == "last_over_time":
        return _simple(F.max_by(v, ts))
    if fn == "present_over_time":
        return [F.count(v).alias("_v")], F.lit(1.0)
    if fn == "timestamp":
        # ts (seconds) of latest sample (RangeFunction.scala:571-594)
        return [F.max(ts).alias("_v")], (F.col("_v") / 1000.0)
    if fn == "changes":
        # count of value changes between consecutive in-window samples
        return _simple(F.sum(F.when(pair_ok & (v != F.col("prev_value")), 1)
                             .otherwise(0)).cast("double"))
    if fn == "resets":
        return _simple(F.sum(F.when(pair_ok & (v < F.col("prev_value")), 1)
                             .otherwise(0)).cast("double"))
    if fn == "quantile_over_time":
        q = float(params[0])
        if q < 0:
            return [F.count(v).alias("_v")], F.lit(float("-inf"))
        if q > 1:
            return [F.count(v).alias("_v")], F.lit(float("inf"))
        return _simple(F.percentile(v, F.lit(q)))
    if fn == "z_score":
        # (last - mean) / stddev  (AggrOverTimeFunctions.scala:1592-1604)
        aggs = [F.max_by(v, ts).alias("_last"), F.avg(v).alias("_avg"),
                F.stddev_pop(v).alias("_sd")]
        return aggs, F.when(F.col("_sd") == 0.0, NAN()).otherwise(
            (F.col("_last") - F.col("_avg")) / F.col("_sd"))
    if fn in ("idelta", "irate"):
        aggs = [
            F.max_by(v, ts).alias("_last_val"),
            F.max_by(F.col("prev_value"), ts).alias("_prev_val"),
            F.max(ts).alias("_last_ts"),
            F.max_by(F.col("prev_ts"), ts).alias("_prev_ts"),
        ]
        have_pair = F.col("_prev_ts") >= F.col("t") - F.lit(window)
        if fn == "idelta":
            out = F.when(have_pair, F.col("_last_val") - F.col("_prev_val")).otherwise(NAN())
        else:
            # irate: instantaneous per-second rate of last two samples with
            # counter-reset handling (RangeInstantFunctions.scala:168-303)
            dv = F.when(F.col("_last_val") >= F.col("_prev_val"),
                        F.col("_last_val") - F.col("_prev_val")).otherwise(F.col("_last_val"))
            dt = (F.col("_last_ts") - F.col("_prev_ts")).cast("double") / 1000.0
            out = F.when(have_pair & (dt > 0), dv / dt).otherwise(NAN())
        return aggs, out
    if fn in ("deriv", "predict_linear"):
        # least-squares regression; x centered at window end t (seconds) to
        # keep double math exact (RangeInstantFunctions.scala:305-327,
        # AggrOverTimeFunctions.scala:1496-1590)
        x = (ts - F.col("t")).cast("double") / 1000.0
        aggs = [
            F.count(v).alias("_n"),
            F.sum(x).alias("_sx"),
            F.sum(v).alias("_sy"),
            F.sum(x * v).alias("_sxy"),
            F.sum(x * x).alias("_sxx"),
        ]
        n = F.col("_n").cast("double")
        cov = F.col("_sxy") / n - (F.col("_sx") / n) * (F.col("_sy") / n)
        var = F.col("_sxx") / n - (F.col("_sx") / n) * (F.col("_sx") / n)
        slope = cov / var
        intercept = F.col("_sy") / n - slope * (F.col("_sx") / n)
        if fn == "deriv":
            out = slope
        else:
            d = float(params[0])  # seconds ahead of eval time t
            out = intercept + slope * F.lit(d)
        return aggs, F.when((F.col("_n") < 2) | (var <= 0), NAN()).otherwise(out)
    if fn == "holt_winters":
        sf, tf = float(params[0]), float(params[1])
        # ordered sequential recurrence over the window -> JVM-side
        # aggregate() over a sorted array (AggrOverTimeFunctions.scala:1361-1495)
        aggs = [F.array_sort(F.collect_list(F.struct(ts.alias("ts"), v.alias("v"))))
                .alias("_arr")]
        arr = F.col("_arr")
        # acc: struct(level, trend, idx); seed with first two samples
        out = F.when(F.size(arr) < 2, NAN()).otherwise(
            F.aggregate(
                F.slice(arr, 3, F.greatest(F.size(arr) - 2, F.lit(0))),
                F.struct(
                    F.element_at(arr, 2)["v"].alias("level"),
                    (F.element_at(arr, 2)["v"] - F.element_at(arr, 1)["v"]).alias("trend"),
                ),
                lambda acc, s: F.struct(
                    (F.lit(sf) * s["v"] + F.lit(1 - sf) * (acc["level"] + acc["trend"])).alias("level"),
                    (F.lit(tf) * (F.lit(sf) * s["v"] + F.lit(1 - sf) * (acc["level"] + acc["trend"])
                                  - acc["level"]) + F.lit(1 - tf) * acc["trend"]).alias("trend"),
                ),
                lambda acc: acc["level"],
            )
        )
        return aggs, out
    if fn in ("rate", "increase", "delta"):
        is_counter = fn in ("rate", "increase")
        is_rate = fn == "rate"
        return _rate_aggs(window), _extrapolated_expr(window, is_counter, is_rate)
    if fn == "rate_delta":
        # rate over delta-counter schema: sum(window) / window_sec
        # (RateFunctions.scala:182-228)
        return _simple(F.sum(v) / F.lit(window / 1000.0))
    if fn == "increase_delta":
        return _simple(F.sum(v))
    raise ValueError(f"unknown range function: {fn}")


NEEDS_PREV = {"changes", "resets", "idelta", "irate", "rate", "increase", "delta"}

# ---------------------------------------------------------------------------
# Tiled (two-level) window evaluation for high window/step ratios
# ---------------------------------------------------------------------------
#
# The grid explode above amplifies each sample ~ window/step + 1 times. For
# the common shapes (window a small multiple of step) that is a 1-5x
# expansion; but a dashboard shape like rate(m[1h]) at a 15s step is a 240x
# shuffle amplification — the one scale-killer left in the PromQL path at
# 100 TB. The reference pays O(samples) regardless (its ChunkedWindowIterator
# slides over chunks, PeriodicSamplesMapper.scala:405-441).
#
# Two-level tiling restores O(tiles):
#   1. Group samples by (series, k_min, k_max) — their exact window-index
#      range from grid.step_bounds. Samples in the same inter-step gap and
#      boundary class share the group, so there are at most ~2 * n_steps
#      groups per series *independent of sample density*. Compute
#      associative partials per group with one map-side-combinable hash
#      aggregation (shuffle rows = groups, not samples).
#   2. Explode the *group partials* to their step indices (<= window/step +1
#      each) and combine with a second hash aggregation per (series, t).
#
# Shuffle volume: samples + n_steps * window/step per series, vs
# samples * window/step for the explode path — flat in density. Because the
# group key carries the exact (k_min, k_max), window membership is
# bit-exact, including the inclusive [t-window, t] boundary samples
# (no edge-tile special case: a boundary sample simply has k_max one
# higher and lands in its own group).
#
# Consecutive-pair statistics (counter resets, changes, idelta/irate) ride a
# SECOND partial stream: a pair (prev, cur) belongs to window k iff both
# endpoints do, i.e. k in [k_min(cur_ts), k_max(prev_ts)] — again a
# contiguous range, grouped and exploded the same way, then unioned with the
# sample stream before the final combine (null-skipping aggregates keep the
# streams separate; Spark's max_by/min_by/sum all skip null inputs).
#
# Semantics proof for idelta/irate ("last pair in window" == the explode
# path's "last sample's pair if in window"): if the last sample L's
# predecessor P is outside the window, every earlier sample is <= P and
# hence also outside, so no pair is fully in-window; conversely if P is
# in-window then (P, L) is in-window and is the latest pair.
#
# deriv/predict_linear tile through shifted regression moments
# (`_tiled_regression` — per-group centering keeps the numerics at the
# explode path's magnitude); z_score through value moments. The genuinely
# non-associative kernels (quantile_over_time, mad_over_time,
# holt_winters, mad_outlier) keep the explode path — the boundary is
# TILEABLE below. The auto-switch engages at window/step >= TILE_RATIO.

TILE_RATIO = 16

TILEABLE = frozenset(
    "sum_over_time avg_over_time count_over_time min_over_time max_over_time "
    "stddev_over_time stdvar_over_time last_over_time present_over_time "
    "timestamp changes resets idelta irate rate increase delta rate_delta "
    "increase_delta deriv predict_linear z_score".split())

_TILED_NEEDS_PAIR = {"changes", "resets", "idelta", "irate", "rate", "increase"}


_BUILD_TILED_MEMO = Memo(64)


def _build_tiled(fn: str, window: int, params: tuple):
    return _BUILD_TILED_MEMO.get(
        (fn, window, params), lambda: _build_tiled_uncached(fn, window, params))


def _build_tiled_uncached(fn: str, window: int, params: tuple):
    """Per-fn pieces of the tiled plan: (sample-tile aggs, pair-tile aggs
    or None, final combine aggs, post projection). Combine aliases are
    chosen so `post` can reuse the explode path's expressions."""
    v, ts = F.col("value"), F.col("ts")
    if fn == "sum_over_time":
        return ([F.sum(v).alias("_ps")], None,
                [F.sum("_ps").alias("_v")], _nan_if_null(F.col("_v")))
    if fn == "avg_over_time":
        return ([F.sum(v).alias("_ps"), F.count(v).alias("_pc")], None,
                [F.sum("_ps").alias("_s"), F.sum("_pc").alias("_c")],
                _nan_if_null(F.col("_s") / F.col("_c")))
    if fn == "count_over_time":
        return ([F.count(v).alias("_pc")], None,
                [F.sum("_pc").cast("double").alias("_v")],
                _nan_if_null(F.col("_v")))
    if fn == "min_over_time":
        return ([F.min(v).alias("_pm")], None,
                [F.min("_pm").alias("_v")], _nan_if_null(F.col("_v")))
    if fn == "max_over_time":
        return ([F.max(v).alias("_pm")], None,
                [F.max("_pm").alias("_v")], _nan_if_null(F.col("_v")))
    if fn in ("stddev_over_time", "stdvar_over_time"):
        # population moments; combined exactly, variance from the moment
        # identity (documented precision trade vs Welford merging — fine
        # at metric magnitudes, clamped at 0 against cancellation)
        aggs = [F.count(v).alias("_pc"), F.sum(v).alias("_ps"),
                F.sum(v * v).alias("_pss")]
        comb = [F.sum("_pc").cast("double").alias("_n"),
                F.sum("_ps").alias("_s"), F.sum("_pss").alias("_ss")]
        n, s, ss = F.col("_n"), F.col("_s"), F.col("_ss")
        var = F.greatest(ss / n - (s / n) * (s / n), F.lit(0.0))
        return (aggs, None, comb,
                F.sqrt(var) if fn == "stddev_over_time" else var)
    if fn == "last_over_time":
        return ([F.max(ts).alias("_plt"), F.max_by(v, ts).alias("_plv")], None,
                [F.max_by(F.col("_plv"), F.col("_plt")).alias("_v")],
                _nan_if_null(F.col("_v")))
    if fn == "present_over_time":
        return ([F.count(v).alias("_pc")], None,
                [F.sum("_pc").alias("_v")], F.lit(1.0))
    if fn == "timestamp":
        return ([F.max(ts).alias("_pmt")], None,
                [F.max("_pmt").alias("_v")], F.col("_v") / 1000.0)
    if fn in ("changes", "resets"):
        cond = (v != F.col("prev_value")) if fn == "changes" \
            else (v < F.col("prev_value"))
        return ([F.count(v).alias("_pc")],
                [F.sum(F.when(cond, 1).otherwise(0)).alias("_pb")],
                [F.coalesce(F.sum("_pb"), F.lit(0)).cast("double").alias("_v")],
                F.col("_v"))
    if fn in ("idelta", "irate"):
        pair = F.struct(F.col("prev_ts").alias("prev_ts"),
                        F.col("prev_value").alias("prev_val"),
                        ts.alias("last_ts"), v.alias("last_val"))
        paggs = [F.max(ts).alias("_ppt"), F.max_by(pair, ts).alias("_pp")]
        comb = [F.max_by(F.col("_pp"), F.col("_ppt")).alias("_pair")]
        p = F.col("_pair")
        if fn == "idelta":
            out = p["last_val"] - p["prev_val"]
        else:
            dv = F.when(p["last_val"] >= p["prev_val"],
                        p["last_val"] - p["prev_val"]).otherwise(p["last_val"])
            dt = (p["last_ts"] - p["prev_ts"]).cast("double") / 1000.0
            out = F.when(dt > 0, dv / dt).otherwise(NAN())
        return ([F.count(v).alias("_pc")], paggs, comb,
                F.when(p.isNull(), NAN()).otherwise(out))
    if fn in ("rate", "increase", "delta"):
        is_counter = fn in ("rate", "increase")
        saggs = [F.count(v).alias("_pcnt"),
                 F.min(ts).alias("_pfts"), F.max(ts).alias("_plts"),
                 F.min_by(v, ts).alias("_pfv"), F.max_by(v, ts).alias("_plv")]
        comb = [F.sum("_pcnt").alias("_cnt"),
                F.min("_pfts").alias("_first_ts"),
                F.max("_plts").alias("_last_ts"),
                F.min_by(F.col("_pfv"), F.col("_pfts")).alias("_first_val"),
                F.max_by(F.col("_plv"), F.col("_plts")).alias("_last_val")]
        paggs = None
        if is_counter:
            paggs = [F.sum(F.when(v < F.col("prev_value"), F.col("prev_value"))
                           .otherwise(F.lit(0.0))).alias("_prc")]
            comb.append(F.coalesce(F.sum("_prc"), F.lit(0.0)).alias("_reset_corr"))
        return (saggs, paggs, comb,
                _extrapolated_expr(window, is_counter, fn == "rate"))
    if fn == "rate_delta":
        return ([F.sum(v).alias("_ps")], None,
                [(F.sum("_ps") / F.lit(window / 1000.0)).alias("_v")],
                _nan_if_null(F.col("_v")))
    if fn == "increase_delta":
        return ([F.sum(v).alias("_ps")], None,
                [F.sum("_ps").alias("_v")], _nan_if_null(F.col("_v")))
    if fn == "z_score":
        # moments instead of Welford stddev_pop: same value to float
        # noise, clamped at 0 against cancellation (as stddev above)
        aggs = [F.max(ts).alias("_plt"), F.max_by(v, ts).alias("_plv"),
                F.count(v).alias("_pc"), F.sum(v).alias("_ps"),
                F.sum(v * v).alias("_pss")]
        n = F.sum("_pc").cast("double")
        s, ss = F.sum("_ps"), F.sum("_pss")
        comb = [F.max_by(F.col("_plv"), F.col("_plt")).alias("_last"),
                (s / n).alias("_avg"),
                F.sqrt(F.greatest(ss / n - (s / n) * (s / n),
                                  F.lit(0.0))).alias("_sd")]
        return (aggs, None, comb,
                F.when(F.col("_sd") == 0.0, NAN()).otherwise(
                    (F.col("_last") - F.col("_avg")) / F.col("_sd")))
    raise ValueError(f"range function not tileable: {fn}")


def _tiled_regression(df: DataFrame, fn: str, series_cols: Sequence[str],
                      grid: StepGrid, window: int, params: tuple,
                      companions: Sequence[str]) -> DataFrame:
    """Tiled deriv / predict_linear: the regression sums depend on the
    window end t (x = (ts - t)/1000), so raw per-tile moments centered
    at a GLOBAL reference would square epoch-scale numbers into
    catastrophic cancellation. Instead each group's partials are
    centered at its own last window end t_gmax (u stays window-sized,
    the same magnitude the explode path's x has), and the combine
    shifts them to each t with the exact identities
        Sx(t)  = Su + n*d,      Sxy(t) = Suv + d*Sv,
        Sxx(t) = Suu + 2d*Su + n*d^2,      d = (t_gmax - t)/1000.
    The final slope/intercept/NaN-guard expression is shared with the
    explode path (`_build`)."""
    v, ts = F.col("value"), F.col("ts")
    k_min, k_max = step_bounds(grid, window, ts)
    g = (df.withColumn("_gmin", k_min).withColumn("_gmax", k_max)
           .where(F.col("_gmin") <= F.col("_gmax")))
    tref = (F.lit(grid.start) + F.col("_gmax") * F.lit(grid.step)) \
        .cast("double")
    u = (ts.cast("double") - tref) / 1000.0
    keys = [*series_cols, "_gmin", "_gmax"]
    tiles = g.groupBy(*keys).agg(
        F.count(v).alias("_tn"), F.sum(u).alias("_tsu"),
        F.sum(v).alias("_tsv"), F.sum(u * v).alias("_tsuv"),
        F.sum(u * u).alias("_tsuu"), *_companion_aggs(companions))
    ex = (tiles.withColumn("_k", F.explode(F.sequence(F.col("_gmin"),
                                                      F.col("_gmax"))))
          .withColumn("t", (F.lit(grid.start) + F.col("_k") * F.lit(grid.step))
                      .cast("long"))
          .withColumn("_d", ((F.lit(grid.start)
                              + F.col("_gmax") * F.lit(grid.step))
                             .cast("double")
                             - F.col("t").cast("double")) / 1000.0)
          .drop("_gmin", "_gmax", "_k"))
    d, tn, tsu, tsv = (F.col(c) for c in ("_d", "_tn", "_tsu", "_tsv"))
    fkeys = [*series_cols, "t"]
    out = ex.groupBy(*fkeys).agg(
        F.sum(tn).alias("_n"),
        F.sum(tsu + tn * d).alias("_sx"),
        F.sum(tsv).alias("_sy"),
        F.sum(F.col("_tsuv") + d * tsv).alias("_sxy"),
        F.sum(F.col("_tsuu") + 2.0 * d * tsu + tn * d * d).alias("_sxx"),
        *_companion_aggs(companions))
    _, post = _build(fn, window, params)
    return out.select(*fkeys, post.alias("value"), *companions)


def _tiled_range_function(df: DataFrame, fn: str, series_cols: Sequence[str],
                          grid: StepGrid, window: int, params: tuple,
                          companions: Sequence[str],
                          prev_attached: bool = False) -> DataFrame:
    """Two-level tiled evaluation (see block comment above). `df` is
    NaN-filtered with canonical ts/value names; prev columns attached here
    when the pair stream needs them (unless the caller pre-attached)."""
    if fn in ("deriv", "predict_linear"):
        return _tiled_regression(df, fn, series_cols, grid, window,
                                 params, companions)
    saggs, paggs, comb, post = _build_tiled(fn, window, params)
    if paggs is not None and not prev_attached:
        df = with_prev_sample(df, series_cols)

    def grouped(frame: DataFrame, lo: Column, hi: Column, aggs) -> DataFrame:
        g = (frame.withColumn("_gmin", lo).withColumn("_gmax", hi)
                  .where(F.col("_gmin") <= F.col("_gmax")))
        return g.groupBy(*series_cols, "_gmin", "_gmax").agg(*aggs)

    k_min, k_max = step_bounds(grid, window, F.col("ts"))
    # per-tile companion partials ride the sample stream; the pair
    # stream leaves them null, which the combine's min/max skip
    tiles = grouped(df, k_min, k_max, [*saggs, *_companion_aggs(companions)])
    if paggs is not None:
        # pair (prev, cur) is in window k iff k_min(cur) <= k <= k_max(prev)
        # (prev_ts sentinel => empty range => filtered, no special case)
        _, pk_max = step_bounds(grid, window, F.col("prev_ts"))
        pairs = grouped(df, k_min, pk_max, paggs)
        tiles = tiles.unionByName(pairs, allowMissingColumns=True)
    exploded = (
        tiles.withColumn("_k", F.explode(F.sequence(F.col("_gmin"), F.col("_gmax"))))
             .withColumn("t", (F.lit(grid.start) + F.col("_k") * F.lit(grid.step))
                         .cast("long"))
             .drop("_gmin", "_gmax", "_k"))
    keys = [*series_cols, "t"]
    return (exploded.groupBy(*keys).agg(*comb, *_companion_aggs(companions))
                    .select(*keys, post.alias("value"), *companions))


RANGE_FUNCTIONS = (
    "sum_over_time avg_over_time count_over_time min_over_time max_over_time "
    "stddev_over_time stdvar_over_time last_over_time present_over_time timestamp "
    "changes resets quantile_over_time z_score idelta irate deriv predict_linear "
    "holt_winters rate increase delta rate_delta increase_delta mad_over_time"
).split()

# Cumulative-counter functions: the only ones the reference runs through
# the counter-correction iterator (needsCounterCorrection=true on
# RateFunction/IncreaseFunction/IRateFunction and their H variants) —
# NaN samples are explicit reset markers, not staleness, for these.
# delta / rate_delta / increase_delta are gauge/delta-temporality
# (no correction); resets has its own spec'd NaN rule.
CUMULATIVE_COUNTER_FNS = frozenset({"rate", "increase", "irate"})


def _companion_aggs(companions: Sequence[str]) -> list[Column]:
    """Window extreme of each companion column (`range_function`): NaN
    turns null first, since Spark orders NaN above every double. Min and
    max are associative, so one aggregate serves the explode pass, the
    tile partial and the tile combine."""
    return [(F.min if c == "min" else F.max)(F.when(~F.isnan(c), F.col(c)))
            .alias(c) for c in companions]


def range_function(df: DataFrame, fn: str, series_cols: Sequence[str],
                   grid: StepGrid, window: int, params: tuple = (),
                   companions: Sequence[str] = (),
                   tiling: bool | None = None,
                   honor_stale_marker: bool = False,
                   prev_attached: bool = False) -> DataFrame:
    """Evaluate PromQL range function `fn` on the step grid.

    `df` must have `series_cols`, `ts` (long ms) and `value` (double).
    Output: series_cols + [t (long ms), value (double)] + companions, one
    row per (series, t) with >=1 sample in [t-window, t].

    `companions` (a subset of ``("min", "max")``) are columns of `df`
    windowed in the same grouped pass as `value`: ``min`` takes its
    window-min, ``max`` its window-max, each over the non-NaN samples
    that `value`'s NaN policy keeps (null when there are none) — the
    reference's RateAndMinMaxOverTime / SumAndMaxOverTime
    (InternalRangeFunction.scala:57-60). Not for the mad functions.

    `tiling` picks one of the two plans. None = choose from the query:
    the two-level tiled plan when the fn is associative-decomposable and
    window/step >= TILE_RATIO (caps shuffle amplification at the tile
    count instead of sample count x ratio), grid explode otherwise.
    False = grid explode (the engine passes it when the part-key scrape
    estimate says tile groups would hold ~1 sample); True = tiled
    (tileable fns only; the tiled-vs-explode equivalence tests use it).

    `prev_attached`: the caller already carries ``prev_ts``/``prev_value``
    columns computed exactly as :func:`grid.with_prev_sample` would here —
    same ``series_cols`` partitioning, on a frame where this function's
    NaN policy is a no-op (no NaN/null samples). Skips the per-query
    window Exchange+Sort for the consecutive-pair kernels; the natural
    producer is a shared cache / ingest-materialized lag column.

    `honor_stale_marker` (last_over_time only): a NaN sample is a
    staleness marker that SHADOWS older samples — the series is absent
    at steps whose latest in-window sample is NaN. This is the raw-data
    semantics of the reference's LastSampleChunkedFunctionD
    (RangeFunction.scala:541-546); the default (skip NaN, return the
    last real sample) matches its sliding/subquery LastSampleFunction.
    Works on both plans: the last-sample combiner is max_by(v, ts)
    everywhere, which is NaN-transparent.
    """
    if prev_attached and not {"prev_ts", "prev_value"} <= set(df.columns):
        # the producer declined to attach (e.g. _events_cached found
        # NaN/null samples, where the precomputed lag would diverge from
        # the kernel's post-NaN-policy lag) — fall back to computing the
        # lag here rather than failing on the missing columns
        prev_attached = False
    stale_last = honor_stale_marker and fn == "last_over_time"
    if stale_last:
        df = df.where(F.col("value").isNotNull())  # keep NaN markers
    elif fn in CUMULATIVE_COUNTER_FNS:
        # NaN on a cumulative counter is the EXPLICIT end-of-series
        # counter-reset marker: it stays a sample and reads as 0, so
        # the pair correction folds the prior value in
        # (BufferableCounterCorrectionIterator,
        # PeriodicSamplesMapper.scala:560; golden
        # WindowIteratorSpec.scala:257-284 — dropping the marker
        # instead loses the pre-reset increase entirely)
        v = F.col("value")
        df = (df.where(v.isNotNull())
                .withColumn("value",
                            F.when(F.isnan(v), F.lit(0.0)).otherwise(v)))
    else:
        df = drop_nan(df)
    if fn == "mad_over_time":
        return _mad_over_time(df, series_cols, grid, window)
    if fn == "last_over_time_is_mad_outlier":
        return _mad_outlier(df, series_cols, grid, window, params)
    def _stale_filter(out: DataFrame) -> DataFrame:
        # latest sample was a staleness marker -> series absent at step
        return out.where(~F.isnan("value")) if stale_last else out

    if tiling is None:
        tiling = fn in TILEABLE and window // grid.step >= TILE_RATIO
    if tiling:
        return _stale_filter(_tiled_range_function(
            df, fn, series_cols, grid, window, params, companions,
            prev_attached=prev_attached))
    if fn in NEEDS_PREV and not prev_attached:
        df = with_prev_sample(df, series_cols)
    exploded = explode_to_steps(df, grid, window)
    aggs, post = _build(fn, window, params)
    keys = [*series_cols, "t"]
    return _stale_filter(
        exploded.groupBy(*keys).agg(*aggs, *_companion_aggs(companions))
        .select(*keys, post.alias("value"), *companions))


def _mad_over_time(df: DataFrame, series_cols: Sequence[str],
                   grid: StepGrid, window: int) -> DataFrame:
    """Median absolute deviation: two grid aggregations joined on (series, t)
    (AggrOverTimeFunctions.scala:445-486). The join is an equi-join on the
    grouping key — broadcast/AQE friendly."""
    keys = [*series_cols, "t"]
    exploded = explode_to_steps(df, grid, window)
    med = exploded.groupBy(*keys).agg(F.percentile(F.col("value"), F.lit(0.5)).alias("_med"))
    return (
        exploded.join(med, keys)
        .groupBy(*keys)
        .agg(F.percentile(F.abs(F.col("value") - F.col("_med")), F.lit(0.5)).alias("value"))
        .select(*keys, "value")
    )


def _mad_outlier(df: DataFrame, series_cols: Sequence[str], grid: StepGrid,
                 window: int, params: tuple) -> DataFrame:
    """last_over_time_is_mad_outlier(tolerance, bounds, v[w]) — FiloDB
    extension (AggrOverTimeFunctions.scala:488-551): emit the last value
    when it is further than tolerance*MAD from the window median (bounds:
    0 lower-only, 1 both, 2 upper-only); NaN otherwise."""
    tolerance, bounds = float(params[0]), int(params[1])
    if bounds not in (0, 1, 2):
        raise ValueError("bounds must be 0, 1 or 2")
    keys = [*series_cols, "t"]
    exploded = explode_to_steps(df, grid, window)
    med = exploded.groupBy(*keys).agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("_med"))
    stats = (exploded.join(med, keys)
             .groupBy(*keys)
             .agg(F.percentile(F.abs(F.col("value") - F.col("_med")),
                               F.lit(0.5)).alias("_mad"),
                  F.first("_med").alias("_med"),
                  F.max_by("value", "ts").alias("_last")))
    lo = F.col("_med") - F.lit(tolerance) * F.col("_mad")
    hi = F.col("_med") + F.lit(tolerance) * F.col("_mad")
    is_out = ((F.col("_last") < lo) & F.lit(bounds <= 1)) | \
             ((F.col("_last") > hi) & F.lit(bounds >= 1))
    return stats.select(*keys, F.when(is_out, F.col("_last"))
                        .otherwise(NAN()).alias("value"))


def limit_series(df: DataFrame, k: int, series_cols: Sequence[str]) -> DataFrame:
    """ApplyLimitFunction (LogicalPlan.scala:948-963): keep at most k
    series (deterministic: first k by series-key order), all timesteps."""
    keys = (df.select(*series_cols).distinct()
              .orderBy(*series_cols).limit(k))
    return df.join(keys, [*series_cols], "left_semi")


def counter_correct(df: DataFrame, series_cols: Sequence[str]) -> DataFrame:
    """Monotone counter reconstruction
    (BufferableCounterCorrectionIterator,
    PeriodicSamplesMapper.scala:547-566): every dip adds the previous
    value to a per-series running correction, so the output never
    decreases; a NaN sample reads as 0 (the explicit end-of-series
    counter-reset marker). One window spec per series — a single
    Exchange+Sort, no per-row Python.

    Standalone spec-parity kernel: the production rate/increase path
    corrects in-window instead (sum-of-dips there equals corrected
    last-minus-first, so the results agree); this form exists for
    callers that want the reconstructed monotone series itself and to
    pin the iterator's semantics (tests/test_counter_correction_spec).
    The histogram (per-bucket) variant is
    kernels.histogram.counter_correct_hist."""
    from pyspark.sql import Window
    v0 = F.col("value")
    v = F.when(F.isnan(v0) | v0.isNull(), F.lit(0.0)).otherwise(v0)
    w = Window.partitionBy(*series_cols).orderBy("ts")
    prev = F.lag(v).over(w)
    dip = F.when(prev.isNotNull() & (v < prev), prev).otherwise(F.lit(0.0))
    return df.withColumn("value", v + F.sum(dip).over(w))
