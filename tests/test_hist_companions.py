"""Histogram min/max companions in the bucket kernel's own windowed pass.

`hist_range_function` windows a histogram leaf's `min`/`max` columns in
the same grouped pass as its buckets and folds them into `hmin`/`hmax`
(RateAndMinMaxOverTime / SumAndMaxOverTime,
InternalRangeFunction.scala:57-60). The oracle below is the earlier
three-pass composition: the bucket kernel over the hist column alone,
one `min_over_time`/`max_over_time` pass per companion column, and two
left joins on (series, t). Every fixture sample keeps at least one
non-NaN bucket, where the two must agree exactly; a sample whose buckets
are all NaN is pinned separately (`test_all_nan_bucket_sample`).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from filodb_spark.kernels import histogram, range_fns
from filodb_spark.kernels.grid import StepGrid
from filodb_spark.kernels.range_fns import range_function
from filodb_spark.promql.compiler import PromQLEngine, TsStore

NAN = float("nan")
INF = float("inf")
T0 = 1_000_000
STEP = 5_000
FNS = ["rate", "increase", "delta", "sum_over_time", "last_over_time"]
HIST_SCHEMA = ("labels map<string,string>, ts long, sum double, "
               "count double, min double, max double, "
               "hist struct<les: array<double>, values: array<double>>")


def _rows():
    """Two series, 40 samples 5 s apart. `min` is NaN on every 6th sample
    and both companions are NaN on samples 20-31, so 20 s windows inside
    that stretch hold hist rows but no companion value; `max` is NaN on
    every 7th sample and on all of series b; bucket 0 is NaN on every
    5th sample (the sample keeps its other buckets); counters reset."""
    rows = []
    for job in ("a", "b"):
        c = [0.0, 0.0, 0.0]
        for i in range(40):
            if i == 25:
                c = [0.0, 0.0, 0.0]
            inc = (i * 3 + (1 if job == "b" else 0)) % 4
            c = [c[0] + inc, c[1] + inc + 1, c[2] + inc + 2]
            vals = list(c)
            if i % 5 == 2:
                vals[0] = NAN
            gap = 20 <= i <= 31
            mn = NAN if gap or i % 6 == 0 else 0.1 + (i * 7 % 10) / 10
            mx = NAN if gap or i % 7 == 3 or job == "b" \
                else 2.0 + (i * 3 % 11) / 4
            rows.append(({"__name__": "lat", "job": job}, T0 + i * STEP,
                         float(i), c[2], mn, mx, ([1.0, 2.0, INF], vals)))
    return rows


@pytest.fixture(scope="module")
def hist_df(spark):
    return spark.createDataFrame(_rows(), HIST_SCHEMA)


_one_pass = histogram.hist_range_function


def three_pass(df, fn, series_cols, grid, window):
    """The earlier plan: bucket kernel without companions, one range
    function per companion column, two left joins on (series, t)."""
    out = _one_pass(df.select(*series_cols, "ts", "hist"), fn,
                    series_cols, grid, window)
    for comp, cfn, alias in (("min", "min_over_time", "hmin"),
                             ("max", "max_over_time", "hmax")):
        if comp in df.columns:
            cw = range_function(
                df.select(*series_cols, "ts", F.col(comp).alias("value")),
                cfn, series_cols, grid, window) \
                .withColumnRenamed("value", alias)
            out = out.join(cw, [*series_cols, "t"], "left")
    return out


def _by_key(df, key):
    return {tuple(r[k] for k in key):
            (tuple(round(v, 9) for v in r["hist"]["values"]),
             r["hmin"], r["hmax"])
            for r in df.collect()}


@pytest.mark.parametrize("tiled", [False, True], ids=["explode", "tiled"])
@pytest.mark.parametrize("fn", FNS)
def test_kernel_matches_three_pass(spark, hist_df, monkeypatch, fn, tiled):
    # the window/step ratio threshold forces one plan for both sides
    monkeypatch.setattr(range_fns, "TILE_RATIO", 1 if tiled else 10 ** 9)
    df = hist_df.withColumn("series", F.col("labels")["job"])
    grid, window = StepGrid(T0, T0 + 39 * STEP, STEP), 4 * STEP
    out = _one_pass(df, fn, ["series"], grid, window)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert ("_gmin" in plan) == tiled
    got = _by_key(out, ("series", "t"))
    want = _by_key(three_pass(df, fn, ["series"], grid, window),
                   ("series", "t"))
    assert got == want
    # the fixture reaches every companion case
    comps = [(mn, mx) for _, mn, mx in got.values()]
    assert (None, None) in comps
    assert any(mn is not None for mn, _ in comps)
    assert any(mx is not None for _, mx in comps)


def _engine(spark, hist_df, **store_kw):
    gauge = hist_df.select("labels", "ts", F.col("sum").alias("value")) \
        .where(F.lit(False))
    return PromQLEngine(spark, TsStore(gauge, hist_df=hist_df,
                                       hist_metrics=("lat",), **store_kw))


def _engine_rows(engine, q, start, end, step):
    out = engine.query_range(q, start, end, step)
    return {(r["labels"]["job"], r["t"]):
            (tuple(round(v, 9) for v in r["hist"]["values"]),
             r["hmin"], r["hmax"])
            for r in out.collect()}


@pytest.mark.parametrize("fn", FNS)
def test_engine_matches_three_pass(spark, hist_df, monkeypatch, fn):
    e = _engine(spark, hist_df)
    q = f"{fn}(lat[20s])"
    args = (T0, T0 + 39 * STEP, STEP)
    got = _engine_rows(e, q, *args)
    monkeypatch.setattr(histogram, "hist_range_function", three_pass)
    e = PromQLEngine(spark, e.store)   # fresh memos for the three-pass plan
    assert got == _engine_rows(e, q, *args) and got


def test_ds_split_matches_three_pass(spark, hist_df, monkeypatch):
    """Raw/DS-split hist query: both sides carry companions, each side
    windows them in its own single pass, and the stitch keeps them."""
    from filodb_spark.kernels.binary import canonical_labels
    from filodb_spark.streaming.downsample import downsample_hist
    boundary = T0 + 20 * STEP
    raw = hist_df.where(F.col("ts") >= boundary)
    ds = downsample_hist(
        hist_df.withColumn("_sk", canonical_labels(F.col("labels"))),
        ["_sk"], 4 * STEP, minmax_cols=("min", "max")).drop("_sk")
    e = _engine(spark, raw, ds_hist_df=ds, raw_retention_start_ms=boundary,
                ds_resolution_ms=4 * STEP)
    q = "increase(lat[40s])"
    args = (T0 + 8 * STEP, T0 + 39 * STEP, STEP)
    out = e.query_range(q, *args)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    got = _engine_rows(e, q, *args)
    monkeypatch.setattr(histogram, "hist_range_function", three_pass)
    e = PromQLEngine(spark, e.store)
    assert got == _engine_rows(e, q, *args)
    ts = {t for _, t in got}
    assert min(ts) < boundary <= max(ts)       # both sides answered
    assert any(v[1] is not None for v in got.values())


@pytest.mark.parametrize("fn,want", [
    # NaN buckets read 0 on cumulative counters: the sample stays in
    ("rate", (1.0, 9.0)), ("increase", (1.0, 9.0)),
    # elsewhere a NaN bucket sample drops out, companions with it
    ("delta", (5.0, 6.0)), ("sum_over_time", (5.0, 6.0)),
    ("last_over_time", (5.0, 6.0))])
def test_all_nan_bucket_sample(spark, fn, want):
    """A sample whose buckets are all NaN but whose min/max are finite
    counts toward the companions exactly when the kernel's NaN policy
    keeps it: under rate/increase, not under delta/sum/last."""
    rows = [("a", T0 + i * STEP, mn, mx, ([1.0, INF], vals))
            for i, (mn, mx, vals) in enumerate([
                (5.0, 6.0, [1.0, 2.0]), (1.0, 9.0, [NAN, NAN]),
                (5.0, 6.0, [3.0, 4.0])])]
    df = spark.createDataFrame(
        rows, "series string, ts long, min double, max double, "
              "hist struct<les: array<double>, values: array<double>>")
    grid = StepGrid(T0 + 2 * STEP, T0 + 2 * STEP, STEP)
    [r] = _one_pass(df, fn, ["series"], grid, 2 * STEP).collect()
    assert (r["hmin"], r["hmax"]) == want


def test_parquet_plan_one_scan_no_join(spark, hist_df, tmp_path):
    """rate over a parquet hist table with min/max reads the leaf once:
    one scan, no join, and no Exchange beyond the bucket kernel's three
    (window on (_sk, bucket_le), per-bucket aggregate, (_sk, t)
    assembly)."""
    path = str(tmp_path / "hist")
    hist_df.write.parquet(path)
    e = _engine(spark, spark.read.parquet(path))
    out = e.query_range("rate(lat[10s])", T0, T0 + 39 * STEP, STEP)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Exchange") <= 3
    assert all(not math.isnan(v) for r in out.collect()
               for v in r["hist"]["values"])
