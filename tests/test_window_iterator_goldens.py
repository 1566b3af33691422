"""WindowIteratorSpec goldens, evaluated by BOTH window plans.

Sample tables and expected outputs ported from the reference's
window-iterator tests (query/src/test/scala/filodb/query/exec/
WindowIteratorSpec.scala — values only, the execution model here is the
declarative DataFrame plans). Each golden is asserted against the
grid-explode and tiled paths, so the reference's
SlidingWindowIterator/ChunkedWindowIterator behavior pins both.

Window semantics note: the reference runs these with
inclusive-range=true (filodb-defaults.conf), which the sum golden
demonstrates — the sample at exactly t-window counts (350000 -> 12
includes the 250000 boundary sample). The two staleness goldens were
checked free of start-boundary coincidences, so the reference's
window=stale+1 exclusive-start formulation equals our inclusive
[t-window, t] at window=stale.
"""

import math

import pytest

from filodb_spark.kernels.grid import StepGrid
from filodb_spark.kernels.range_fns import range_function

MODES = [("explode", False), ("tiled", True)]


def _run(spark, samples, fn, grid, window, mode):
    df = spark.createDataFrame([("s", int(t), float(v)) for t, v in samples],
                               "series string, ts long, value double")
    out = range_function(df, fn, ["series"], grid, window, tiling=mode)
    return {r["t"]: r["value"] for r in out.collect()
            if not (r["value"] is None or math.isnan(r["value"]))}


# WindowIteratorSpec.scala:183-217 — SumOverTime after the series stops,
# NaN end-of-series marker, sparse windows
SUM_SAMPLES = [
    (100000, 1), (153000, 2), (250000, 3), (270000, 4), (280000, 5),
    (360000, 6), (430000, 7), (690000, 8), (700000, 9),
    (710000, float("nan")),
]
SUM_EXPECTED = {150000: 1.0, 250000: 5.0, 350000: 12.0, 450000: 13.0,
                750000: 17.0}


@pytest.mark.parametrize("name,mode", MODES)
def test_sum_over_time_golden(spark, name, mode):
    got = _run(spark, SUM_SAMPLES, "sum_over_time",
               StepGrid(50000, 1100000, 100000), 100000, mode)
    # reference emits NaN rows for empty windows and filters them; our
    # engine emits no row — the non-NaN sets must match exactly
    assert got == SUM_EXPECTED, name


# WindowIteratorSpec.scala:220-256 — "rate ... matching the prometheus
# rate function"; window/step = 20 so the auto path takes the tiled plan
RATE_SAMPLES = [
    (1548191486000, 84), (1548191496000, 152), (1548191506000, 195),
    (1548191516000, 222), (1548191526000, 245), (1548191536000, 251),
    (1548191546000, 329), (1548191556000, 374), (1548191566000, 431),
]
RATE_EXPECTED = {
    1548191496000: 0.34,
    1548191511000: 0.555,
    1548191526000: 0.60375,
    1548191541000: 0.668,
    1548191556000: 1.0357142857142858,
}


@pytest.mark.parametrize("name,mode", MODES + [("auto", None)])
def test_prometheus_rate_golden(spark, name, mode):
    got = _run(spark, RATE_SAMPLES, "rate",
               StepGrid(1548191496000, 1548191796000, 15000), 300000, mode)
    for t, want in RATE_EXPECTED.items():
        assert got[t] == pytest.approx(want, abs=1e-10), (name, t)


# WindowIteratorSpec.scala (3-minute window Last): samples an hour
# apart, each visible for exactly the 180s window on the 15s grid
STALE_SAMPLES = [
    (1540832354000, 1), (1540835954000, 2), (1540839554000, 3),
    (1540843154000, 4), (1540846754000, 237), (1540850354000, 330),
]
LAST_3MIN_EXPECTED = dict(
    [(1540846755000 + 15000 * i, 237.0) for i in range(12)]
    + [(1540850355000 + 15000 * i, 330.0) for i in range(12)])


@pytest.mark.parametrize("name,mode", MODES)
def test_last_3min_window_golden(spark, name, mode):
    got = _run(spark, STALE_SAMPLES, "last_over_time",
               StepGrid(1540845090000, 1540855905000, 15000), 180000, mode)
    # the grid starts mid-gap: instants before the 237-sample fall in
    # the reach of no sample (values 1..4 are hours stale) — the
    # reference golden's non-NaN set is exactly the two 12-step runs
    assert got == LAST_3MIN_EXPECTED, name


# WindowIteratorSpec.scala (default staleness lastSample): same series
# through the default 5m lookback -> 20 visible steps per sample
LAST_5MIN_EXPECTED = dict(
    [(1540846755000 + 15000 * i, 237.0) for i in range(20)]
    + [(1540850355000 + 15000 * i, 330.0) for i in range(20)])


@pytest.mark.parametrize("name,mode", MODES)
def test_last_default_staleness_golden(spark, name, mode):
    got = _run(spark, STALE_SAMPLES, "last_over_time",
               StepGrid(1540845090000, 1540855905000, 15000), 300000, mode)
    assert got == LAST_5MIN_EXPECTED, name


# WindowIteratorSpec.scala ("should not return NaN if value is present
# at time - staleSampleAfterMs"): the boundary sample stays visible
BOUNDARY_SAMPLES = [(100000, 100), (153000, 160), (200000, 200)]
BOUNDARY_EXPECTED = {100000: 100.0, 200000: 200.0, 300000: 200.0,
                     400000: 200.0, 500000: 200.0}


@pytest.mark.parametrize("name,mode", MODES)
def test_staleness_boundary_golden(spark, name, mode):
    got = _run(spark, BOUNDARY_SAMPLES, "last_over_time",
               StepGrid(100000, 600000, 100000), 300000, mode)
    assert got == BOUNDARY_EXPECTED, name


# WindowIteratorSpec.scala:257-284 — "should deal with NaN end of time
# series marker during counter correction": NaN on a cumulative counter
# is an EXPLICIT reset marker (reads as 0, prior value folds into the
# correction) and stays a sample in the window — both the sliding and
# chunked iterators pin 0.5870753512132821. Dropping the markers
# instead (the pre-r9 behavior) loses the pre-reset increase and gives
# 0.0356.
NAN_RESET_SAMPLES = [
    (1614821996000, float("nan")), (1614821996100, 489.0),
    (1614821997000, float("nan")), (1614822566000, 19.0),
    (1614822596000, 26.0), (1614822626000, 26.0), (1614822656000, 26.0),
    (1614822686000, 26.0), (1614822716000, 26.0),
    (1614822717000, float("nan")), (1614822866000, 5.0),
]


@pytest.mark.parametrize("name,mode", MODES)
def test_rate_nan_reset_marker_golden(spark, name, mode):
    got = _run(spark, NAN_RESET_SAMPLES, "rate",
               StepGrid(1614822880000, 1614822880000, 15000), 900000, mode)
    assert got == {1614822880000:
                   pytest.approx(0.5870753512132821, rel=1e-12)}, name


# WindowIteratorSpec.scala:286-325 — rate for instant queries (start ==
# end): spec-pinned values at several window ends over the same stream
RATE_INSTANT_SAMPLES = [
    (1548191486000, 84.0), (1548191496000, 152.0), (1548191506000, 195.0),
    (1548191516000, 222.0), (1548191526000, 245.0), (1548191536000, 251.0),
    (1548191546000, 329.0), (1548191556000, 374.0), (1548191566000, 431.0),
]
RATE_INSTANT_EXPECTED = {
    1548191496000: 0.34, 1548191511000: 0.555, 1548191526000: 0.60375,
    1548191541000: 0.668, 1548191556000: 1.0357142857142858,
}


@pytest.mark.parametrize("name,mode", MODES)
@pytest.mark.parametrize("t,want", sorted(RATE_INSTANT_EXPECTED.items()))
def test_rate_instant_golden(spark, name, mode, t, want):
    got = _run(spark, RATE_INSTANT_SAMPLES, "rate",
               StepGrid(t, t, 15000), 300000, mode)
    assert got == {t: pytest.approx(want, abs=1e-10)}, name


# WindowIteratorSpec.scala:466-651 — Avg/Count/Min/MaxOverTime over the
# same sparse stream (grid 50000..700000 step 100000): empty windows
# emit NaN in the reference (filtered there, absent here); the 250000
# boundary sample counts in BOTH the 250000 and 350000 windows
# (inclusive-range=true)
SPARSE_SAMPLES = [
    (100000, 1), (153000, 2), (250000, 3), (270000, 4), (280000, 5),
    (360000, 6), (430000, 7), (690000, 8), (700000, 9),
    (710000, float("nan")),
]
SPARSE_EXPECTED = {
    "avg_over_time": {150000: 1.0, 250000: 2.5, 350000: 4.0, 450000: 6.5},
    "count_over_time": {150000: 1.0, 250000: 2.0, 350000: 3.0, 450000: 2.0},
    "min_over_time": {150000: 1.0, 250000: 2.0, 350000: 3.0, 450000: 6.0},
    "max_over_time": {150000: 1.0, 250000: 3.0, 350000: 5.0, 450000: 7.0},
}


@pytest.mark.parametrize("name,mode", MODES)
@pytest.mark.parametrize("fn", sorted(SPARSE_EXPECTED))
def test_sparse_window_goldens(spark, fn, name, mode):
    got = _run(spark, SPARSE_SAMPLES, fn,
               StepGrid(50000, 700000, 100000), 100000, mode)
    assert got == SPARSE_EXPECTED[fn], (fn, name)


# WindowIteratorSpec.scala:540-592 — "query results from downsampled
# data": avg_over_time over a ds-gauge rollup is sum(sums)/sum(counts)
# (AvgWithSumAndCountOverTime), count_over_time is sum(counts); grid
# 50000..750000 step 100000, window 100000, inclusive boundary
DS_ROWS = [  # (ts, min, max, sum, count, avg)
    (100000, 2.0, 5.0, 20.0, 5.0, 2.8), (153000, 1.0, 6.0, 18.0, 3.0, 1.4),
    (250000, 3.0, 7.0, 21.0, 5.0, 5.0), (270000, 2.0, 10.0, 22.0, 4.0, 6.0),
    (280000, 1.5, 2.0, 10.0, 6.0, 1.75), (360000, 0.6, 7.0, 23.0, 7.0, 2.0),
    (430000, 7.0, 10.0, 60.0, 5.0, 8.0), (690000, 1.8, 5.0, 25.0, 7.0, 3.0),
    (700000, 4.9, 12.0, 80.0, 10.0, 10.0), (710000, 0.1, 3.0, 10.0, 10.0, 1.0),
]
DS_EXPECTED = {
    "avg_over_time": {150000: 4.0, 250000: 4.875,
                      350000: 3.533333333333333, 450000: 6.916666666666667,
                      750000: 4.2592592592592595},
    "count_over_time": {150000: 5.0, 250000: 8.0, 350000: 15.0,
                        450000: 12.0, 750000: 27.0},
}


@pytest.mark.parametrize("fn", sorted(DS_EXPECTED))
def test_downsampled_data_goldens(spark, fn):
    from filodb_spark.streaming.downsample import range_function_ds
    ds = spark.createDataFrame(
        [("s", *row) for row in DS_ROWS],
        "series string, ts long, min double, max double, sum double, "
        "count double, avg double")
    out = range_function_ds(ds, fn, ["series"],
                            StepGrid(50000, 750000, 100000), 100000)
    got = {r["t"]: r["value"] for r in out.collect()
           if not (r["value"] is None or math.isnan(r["value"]))}
    want = {t: pytest.approx(v) for t, v in DS_EXPECTED[fn].items()}
    assert got == want, fn
