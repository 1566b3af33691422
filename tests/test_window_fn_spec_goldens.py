"""Goldens ported from the reference's QuantileOverTimeSpec and
ChangesFunctionSpec.

Source (behavior only):
- query/src/test/scala/filodb/query/exec/rangefn/QuantileOverTimeSpec.scala
  (NaN-skipping quantile with linear interpolation, hard-coded expecteds)
- query/src/test/scala/filodb/query/exec/rangefn/ChangesFunctionSpec.scala
  (NaN samples never count as a change; all-NaN window -> absent)

The shared gauge fixture (timestamps 8072000..8162999, startTs 8071950,
endTs 8163070) is evaluated as a single window ending at endTs.
"""

import pytest
from pyspark.sql import functions as F

from filodb_spark.kernels.grid import StepGrid
from filodb_spark.kernels.range_fns import range_function

NAN = float("nan")

GAUGE = [(8072000, 7419.0), (8082100, NAN), (8092196, 4614.0),
         (8102215, 4909.0), (8112223, 4909.0), (8122388, 4948.0),
         (8132570, NAN), (8142822, NAN), (8152858, NAN),
         (8162999, 8201.0)]
ALL_NAN = [(8082100, NAN), (8132570, NAN), (8142822, NAN), (8152858, NAN)]
ALL_SAME = [(8082100, 8201.0), (8132570, 8201.0), (8142822, 8201.0),
            (8152858, 8201.0)]
ONE_LIVE = [(8082100, NAN), (8132570, 8201.0), (8142823, NAN),
            (8152858, NAN)]
LINEAR = [(8072000 + i * 10_000, float(i + 1)) for i in range(10)]

END, WINDOW = 8163070, 8163070 - 8071950


def _run(spark, samples, fn, params=(), tiling=False):
    df = spark.createDataFrame(
        [("s", t, v) for t, v in samples], "k string, ts long, value double")
    out = range_function(df, fn, ["k"], StepGrid(END, END, 1_000), WINDOW,
                         params=params, tiling=tiling).collect()
    assert len(out) <= 1
    return out[0]["value"] if out else None


class TestQuantileOverTimeSpec:
    CASES = [
        (GAUGE, 0.5, 4928.5),          # "normal case"
        (ALL_NAN, 0.5, None),          # "NaN on empty range" -> absent
        (ALL_SAME, 0.2, 8201.0),       # "all values are the same"
        (ONE_LIVE, 0.2, 8201.0),       # "only one value"
        (LINEAR, 0.2, 2.8000000000000003),
        (LINEAR, 0.9, 9.1),
    ]

    @pytest.mark.parametrize("samples,q,want", CASES)
    def test_golden(self, spark, samples, q, want):
        got = _run(spark, samples, "quantile_over_time", params=(q,))
        if want is None:
            assert got is None
        else:
            assert got == pytest.approx(want, rel=1e-12)


class TestPeriodicRateFunctionsSpec:
    """PeriodicRateFunctionsSpec.scala:26-80 — rate over delta-counter
    schemas: sum(in-window samples) / window_seconds; a single-sample
    window is NOT NaN; flat (non-increasing) samples still rate > 0."""

    DELTA = [(8072000, 111.0), (8082100, 92.0), (8092196, 103.0),
             (8102215, 110.0), (8112223, 185.0), (8122388, 39.0),
             (8132570, 52.0), (8142822, 95.0), (8152858, 7.0),
             (8162999, 99.0)]

    @pytest.mark.parametrize("tiling", [False, True])
    def test_rate_over_delta_golden(self, spark, tiling):
        want = sum(v for _, v in self.DELTA) / WINDOW * 1000
        got = _run(spark, self.DELTA, "rate_delta", tiling=tiling)
        assert got == pytest.approx(want, abs=1e-7)
        got_inc = _run(spark, self.DELTA, "increase_delta", tiling=tiling)
        assert got_inc == pytest.approx(sum(v for _, v in self.DELTA),
                                        abs=1e-7)

    def test_single_sample_window_not_nan(self, spark):
        df = spark.createDataFrame(
            [("s", t, v) for t, v in self.DELTA], "k string, ts long, value double")
        w = 8103215 - 8101215
        out = range_function(df, "rate_delta", ["k"],
                             StepGrid(8103215, 8103215, 1_000), w).collect()
        assert len(out) == 1
        assert out[0]["value"] == pytest.approx(110.0 / w * 1000)

    def test_flat_samples_nonzero(self, spark):
        flat = [(t, 111.0) for t, _ in self.DELTA]
        got = _run(spark, flat, "rate_delta")
        assert got and got > 0.0


class TestResetsFunctionNaN:
    """AggrOverTimeFunctionsSpec.scala:2357-2473 — resets counts only
    consecutive REAL-value decreases; NaN samples are skipped, never
    treated as 0."""

    @pytest.mark.parametrize("tiling", [False, True])
    @pytest.mark.parametrize("samples,want", [
        ([(1000, 5.0), (2000, NAN)], 0.0),                 # NaN after real
        ([(1000, 5.0), (2000, NAN), (3000, 7.0)], 0.0),    # NaN between ups
        ([(1000, 7.0), (2000, 5.0), (3000, NAN)], 1.0),    # one real reset
    ])
    def test_nan_skipped(self, spark, samples, want, tiling):
        df = spark.createDataFrame(
            [("s", t, v) for t, v in samples], "k string, ts long, value double")
        end = samples[-1][0]
        out = range_function(df, "resets", ["k"],
                             StepGrid(end, end, 1_000), end - samples[0][0],
                             tiling=tiling).collect()
        assert len(out) == 1 and out[0]["value"] == want

    def test_window_slide_drops_stale_reset(self, spark):
        # [7, 5, NaN] -> 1 reset; sliding past 7 -> [5, NaN] -> 0
        df = spark.createDataFrame(
            [("s", 1000, 7.0), ("s", 2000, 5.0), ("s", 3000, NAN)],
            "k string, ts long, value double")
        out = {r["t"]: r["value"]
               for r in range_function(df, "resets", ["k"],
                                       StepGrid(3000, 4000, 1_000),
                                       2000).collect()}
        assert out[3000] == 1.0
        assert out.get(4000, 0.0) == 0.0  # 7.0 slid out

    def test_all_nan_window(self, spark):
        # reference kernel emits 0.0 for an all-NaN window; under the
        # engine's NaN-as-stale rendering the series is simply absent —
        # either way, no spurious reset count
        df = spark.createDataFrame(
            [("s", t, NAN) for t in (1000, 2000, 3000)],
            "k string, ts long, value double")
        out = range_function(df, "resets", ["k"],
                             StepGrid(3000, 3000, 1_000), 2000).collect()
        assert all(r["value"] == 0.0 for r in out)


class TestTimestampFunctionSpec:
    """TimestampFunctionSpec.scala — timestamp() emits the last in-window
    sample's timestamp in SECONDS; empty windows are absent."""

    SAMPLES = [(100_000, 1.5), (110_000, 2.5), (120_000, 3.5),
               (130_000, 4.5), (140_000, 5.5)]
    LOOKBACK = 5 * 60 * 1000

    def _run_ts(self, spark, samples, grid):
        df = spark.createDataFrame(
            [("s", t, v) for t, v in samples], "k string, ts long, value double")
        out = range_function(df, "timestamp", ["k"], grid, self.LOOKBACK
                             ).collect()
        return {r["t"]: r["value"] for r in out}

    def test_various_start_times(self, spark):
        got = self._run_ts(spark, self.SAMPLES,
                           StepGrid(100_000, 120_000, 5_000))
        assert got == {100_000: 100.0, 105_000: 100.0, 110_000: 110.0,
                       115_000: 110.0, 120_000: 120.0}

    def test_gaps_past_lookback_absent(self, spark):
        # :24-43 — steps before the first sample or past the staleness
        # window have no value (reference emits NaN, rendered absent)
        got = self._run_ts(spark, self.SAMPLES[:3],
                           StepGrid(95_000, 445_000, 50_000))
        assert got == {t: 120.0 for t in range(145_000, 396_000, 50_000)}


class TestLastSampleStaleMarker:
    """AggrOverTimeFunctionsSpec.scala:2474-2524 — the raw-data last-sample
    function propagates a trailing NaN stale marker (series absent) instead
    of returning the last real value; without a marker the last real value
    is returned; an empty window is absent."""

    def _last(self, spark, samples, at, window=5 * 60 * 1000):
        # the engine's instant-selector call (compiler._run_range_fn)
        from filodb_spark.kernels.range_fns import range_function
        df = spark.createDataFrame(
            [("s", t, v) for t, v in samples], "k string, ts long, value double")
        out = range_function(df, "last_over_time", ["k"],
                             StepGrid(at, at, 1_000), window,
                             honor_stale_marker=True).collect()
        assert len(out) <= 1
        return out[0]["value"] if out else None

    def test_marker_propagates(self, spark):
        assert self._last(spark, [(1000, 5.0), (2000, NAN)], 2000) is None

    def test_last_real_value(self, spark):
        assert self._last(spark, [(1000, 5.0), (2000, 6.0)], 2000) == 6.0

    def test_marker_then_newer_real(self, spark):
        # :2506-2523 — a real sample after the marker revives the series
        assert self._last(spark, [(1000, 5.0), (2000, NAN), (3000, 7.0)],
                          3000) == 7.0

    def test_empty_window(self, spark):
        assert self._last(spark, [(1000, 5.0)], 400_000) is None


class TestChangesFunctionSpec:
    CASES = [
        (GAUGE, 4.0),       # NaNs skipped: 7419->4614->4909=4909->4948->8201
        (ALL_NAN, None),    # empty window -> absent
        (ALL_SAME, 0.0),
        (ONE_LIVE, 0.0),    # single live sample, NaN-padded
    ]

    @pytest.mark.parametrize("samples,want", CASES)
    @pytest.mark.parametrize("tiling", [False, True])
    def test_golden_all_plan_families(self, spark, samples, want, tiling):
        got = _run(spark, samples, "changes", tiling=tiling)
        assert got == want
