"""Goldens ported from the reference's PeriodicSamplesMapperSpec.

Source (behavior only):
query/src/test/scala/filodb/query/exec/PeriodicSamplesMapperSpec.scala —
the periodic-resample mapper: last-sample instant grids (with offset,
over gauge AND histogram schemas, staleness cutoff), increase with the
step-factor `[Ni]` window==step shape (extendLookback is a no-op in the
current reference — PeriodicSamplesMapper.scala:201-218 — so the
expected values are plain extrapolated increase), and resets never
counting NaN transitions.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from filodb_spark.kernels.grid import StepGrid
from filodb_spark.kernels.range_fns import range_function
from filodb_spark.promql.compiler import PromQLEngine, TsStore

NAN = float("nan")

SAMPLES = [(100_000, 100.0), (153_000, 160.0), (200_000, 200.0)]


def _engine(spark, samples):
    df = spark.createDataFrame(
        [({"__name__": "m"}, ts, float(v)) for ts, v in samples],
        "labels map<string,string>, ts long, value double")
    return PromQLEngine(spark, TsStore(df))


def _vals(engine, q, start, end, step):
    rows = engine.query_range(q, start, end, step).collect()
    return sorted((r["t"], r["value"]) for r in rows
                  if not math.isnan(r["value"]))


def test_last_sample_grid(spark):
    # :35-55 — start=100000 step=100000 end=600000: value held until
    # staleSampleAfterMs, then absent (600000 - 200000 > 5m)
    got = _vals(_engine(spark, SAMPLES), "m", 100_000, 600_000, 100_000)
    assert got == [(100_000, 100.0), (200_000, 200.0), (300_000, 200.0),
                   (400_000, 200.0), (500_000, 200.0)]


def test_last_sample_grid_with_offset(spark):
    # :57-78 — same grid shifted +100ms with offset 100ms: each instant
    # looks back from t-100
    got = _vals(_engine(spark, SAMPLES), "m offset 100ms",
                100_100, 600_100, 100_000)
    assert got == [(100_100, 100.0), (200_100, 200.0), (300_100, 200.0),
                   (400_100, 200.0), (500_100, 200.0)]


def test_last_sample_hist_with_offset(spark):
    # :80-109 — histogram last-sample with offset over the
    # histMaxMinRV(100000, 3 samples, 4 buckets) fixture
    # (linearHistSeries pubFreq=10000: ts 100000/110000/120000, buckets
    # [1,1,1,1] -> [1,2,2,2] -> [1,2,3,3]); held through 400100, stale
    # (absent, not an empty histogram) at 500100/600100.
    #
    # NOTE the reference spec's literal expected list shows [1,2,3,3] at
    # EVERY instant including 100100 — an aliasing artifact of its
    # lazily-mapped mutable Histogram rows (getHistogram returns a
    # shared buffer-backed object, so by the time the iterator is
    # materialized every tuple references the final state). The true
    # per-instant last-sample is asserted here: at 100100 only the
    # 100000 sample ([1,1,1,1]) is in the lookback.
    hists = [
        (100_000, [1.0, 1.0, 1.0, 1.0]),
        (110_000, [1.0, 2.0, 2.0, 2.0]),
        (120_000, [1.0, 2.0, 3.0, 3.0]),
    ]
    rows = [({"__name__": "lat"}, ts, float(sum(v)), v[-1],
             ([2.0, 4.0, 8.0, 16.0], v)) for ts, v in hists]
    hist_df = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, sum double, "
              "count double, "
              "hist struct<les: array<double>, values: array<double>>")
    gauge = spark.createDataFrame(
        [], "labels map<string,string>, ts long, value double")
    eng = PromQLEngine(spark, TsStore(gauge, hist_df=hist_df,
                                      hist_metrics=("lat",)))
    res = eng.query_range('lat offset 100ms', 100_100, 600_100,
                          100_000).collect()
    got = {r["t"]: (list(r["hist"]["les"]), list(r["hist"]["values"]))
           for r in res}
    les = [2.0, 4.0, 8.0, 16.0]
    assert got == {100_100: (les, [1.0, 1.0, 1.0, 1.0]),
                   200_100: (les, [1.0, 2.0, 3.0, 3.0]),
                   300_100: (les, [1.0, 2.0, 3.0, 3.0]),
                   400_100: (les, [1.0, 2.0, 3.0, 3.0])}


STEP_FACTOR_SAMPLES = [
    (100_000, 100.0), (200_000, 170.0), (300_000, 180.0),
    (400_000, 190.0), (500_000, 200.0), (600_000, 220.0),
    (700_000, 240.0), (800_000, 260.0), (900_000, 280.0),
    (1_000_000, 300.0), (1_100_000, 400.0), (1_200_000, 500.0),
    (1_300_000, 600.0)]


@pytest.mark.parametrize("tiling", [False])
def test_increase_step_factor_window_equals_step(spark, tiling):
    # :111-152 — increase[4m==step] on the 500000..1300000 grid; the
    # publish-interval padding is commented out in the reference, so
    # these are plain extrapolated-increase values over inclusive
    # [t-w, t] windows
    df = spark.createDataFrame(
        [("s", ts, v) for ts, v in STEP_FACTOR_SAMPLES],
        "k string, ts long, value double")
    out = range_function(df, "increase", ["k"],
                         StepGrid(500_000, 1_300_000, 400_000), 400_000,
                         tiling=tiling).collect()
    got = sorted((r["t"], r["value"]) for r in out)
    assert got == [(500_000, pytest.approx(100.0)),
                   (900_000, pytest.approx(80.0)),
                   (1_300_000, pytest.approx(320.0))]


RESETS_TO_NAN = [(100_000, NAN), (120_000, 100.0), (153_000, 20.0),
                 (253_000, NAN), (600_000, 100.0)]
RESETS_TAIL_NANS = [(100_000, NAN), (120_000, 100.0), (153_000, 20.0),
                    (253_000, NAN), (600_000, NAN)]


@pytest.mark.parametrize("samples", [RESETS_TO_NAN, RESETS_TAIL_NANS],
                         ids=["value-to-NaN", "consecutive-NaNs"])
@pytest.mark.parametrize("tiling", [False, True])
def test_resets_never_counts_nan_transitions(spark, samples, tiling):
    # :154-199 — only 100 -> 20 is a reset; 20 -> NaN, NaN -> NaN and
    # NaN -> 100 never count
    df = spark.createDataFrame(
        [("s", ts, v) for ts, v in samples],
        "k string, ts long, value double")
    out = range_function(df, "resets", ["k"],
                         StepGrid(600_000, 600_000, 1_000), 600_000,
                         tiling=tiling).collect()
    assert len(out) == 1
    assert out[0]["value"] == 1.0
