"""Golden tests for range functions.

Goldens ported from the reference's RateFunctionsSpec.scala /
AggrOverTimeFunctionsSpec.scala plus a pure-Python model of the
Prometheus/FiloDB semantics (extrapolatedRate: RateFunctions.scala:72-111).
"""

import math

import pytest
from pyspark.sql import functions as F

from filodb_spark.kernels.grid import StepGrid
from filodb_spark.kernels.range_fns import range_function
from filodb_spark.memo import Memo

# goldens from RateFunctionsSpec.scala:16-25
COUNTER_SAMPLES = [
    (8072000, 4419.00), (8082100, 4511.00), (8092196, 4614.00),
    (8102215, 4724.00), (8112223, 4909.00), (8122388, 4948.00),
    (8132570, 5000.00), (8142822, 5095.00), (8152858, 5102.00),
    (8162999, 5201.00),
]
GAUGE_SAMPLES = [
    (8072000, 7419.00), (8082100, 5511.00), (8092196, 4614.00),
    (8102215, 3724.00), (8112223, 4909.00), (8122388, 4948.00),
    (8132570, 5000.00), (8142822, 3095.00), (8152858, 5102.00),
    (8162999, 8201.00),
]
RESET_CONT = [
    (8173000, 325.00), (8183000, 511.00), (8193000, 614.00),
    (8203000, 724.00), (8213000, 909.00),
]


def make_ts_df(spark, samples_by_series):
    rows = [(s, int(ts), float(v))
            for s, samples in samples_by_series.items() for ts, v in samples]
    return spark.createDataFrame(rows, "series string, ts long, value double")


def run_fn(spark, fn, samples, t, window, params=()):
    """Evaluate fn at single instant t with given window."""
    df = make_ts_df(spark, {"a": samples})
    grid = StepGrid(t, t, 10_000)
    out = range_function(df, fn, ["series"], grid, window, params=params)
    rows = out.collect()
    assert len(rows) <= 1
    return rows[0]["value"] if rows else None


# --- pure-python model (RateFunctions.scala:72-111) -------------------------

def py_extrapolated_rate(wstart, wend, samples, is_counter, is_rate):
    samples = sorted((ts, v) for ts, v in samples
                     if wstart <= ts <= wend and not math.isnan(v))
    if len(samples) < 2:
        return float("nan")
    n = len(samples)
    (t1, v1), (t2, v2) = samples[0], samples[-1]
    corr = 0.0
    if is_counter:
        for (pt, pv), (ct, cv) in zip(samples, samples[1:]):
            if cv < pv:
                corr += pv
    dur_to_start = (t1 - wstart) / 1000.0
    dur_to_end = (wend - t2) / 1000.0
    sampled = (t2 - t1) / 1000.0
    if sampled <= 0:
        return float("nan")
    avg = sampled / (n - 1)
    delta = v2 - v1 + corr
    if is_counter and delta > 0 and v1 >= 0:
        dz = sampled * (v1 / delta)
        if dz < dur_to_start:
            dur_to_start = dz
    thr = avg * 1.1
    ext = sampled
    ext += dur_to_start if dur_to_start < thr else avg / 2
    ext += dur_to_end if dur_to_end < thr else avg / 2
    scaled = delta * (ext / sampled)
    return scaled / (wend - wstart) * 1000 if is_rate else scaled


class TestRateGoldens:
    def test_rate_interior_window(self, spark):
        # RateFunctionsSpec "rate should work when start and end are outside window"
        t, window = 8163070, 8163070 - 8071950
        expected = (5201.0 - 4419.0) / (8162999 - 8072000) * 1000
        got = run_fn(spark, "rate", COUNTER_SAMPLES, t, window)
        assert got == pytest.approx(expected, abs=1e-7)

    def test_rate_with_reset(self, spark):
        # "should compute rate correctly when reset occurs at chunk boundaries"
        samples = COUNTER_SAMPLES + RESET_CONT
        t, window = 8213070, 8213070 - 8071950
        expected = (909.0 + 5201.0 - 4419.0) / (8213000 - 8072000) * 1000
        got = run_fn(spark, "rate", samples, t, window)
        assert got == pytest.approx(expected, abs=1e-7)

    def test_rate_nan_reset_marker(self, spark):
        # NaN on a cumulative counter is an explicit reset marker (reads
        # as 0, stays a sample): the pair correction folds 5201 in at
        # the NaN row instead of at 511, so delta is unchanged here —
        # the reset-marker golden where the values DO differ is
        # test_window_iterator_goldens.py::test_rate_nan_reset_marker
        # (WindowIteratorSpec.scala:257-284)
        samples = COUNTER_SAMPLES + [(8173000, float("nan"))] + RESET_CONT[1:]
        t, window = 8213070, 8213070 - 8071950
        expected = (909.0 + 5201.0 - 4419.0) / (8213000 - 8072000) * 1000
        got = run_fn(spark, "rate", samples, t, window)
        assert got == pytest.approx(expected, abs=1e-7)

    def test_increase_delta_match_model(self, spark):
        t, window = 8163070, 8163070 - 8071950
        for fn, is_counter, is_rate in [("increase", True, False),
                                        ("delta", False, False),
                                        ("rate", True, True)]:
            expected = py_extrapolated_rate(t - window, t, COUNTER_SAMPLES,
                                            is_counter, is_rate)
            got = run_fn(spark, fn, COUNTER_SAMPLES, t, window)
            assert got == pytest.approx(expected, rel=1e-9), fn

    def test_rate_single_sample_nan(self, spark):
        got = run_fn(spark, "rate", COUNTER_SAMPLES[:1], 8163070, 100_000)
        assert got is not None and math.isnan(got)


class TestOverTimeGoldens:
    T, W = 8163070, 8163070 - 8071950

    def vals(self):
        return [v for _, v in GAUGE_SAMPLES]

    def test_sum(self, spark):
        assert run_fn(spark, "sum_over_time", GAUGE_SAMPLES, self.T, self.W) == \
            pytest.approx(sum(self.vals()))

    def test_avg(self, spark):
        assert run_fn(spark, "avg_over_time", GAUGE_SAMPLES, self.T, self.W) == \
            pytest.approx(sum(self.vals()) / 10)

    def test_minmax_count_last(self, spark):
        assert run_fn(spark, "min_over_time", GAUGE_SAMPLES, self.T, self.W) == min(self.vals())
        assert run_fn(spark, "max_over_time", GAUGE_SAMPLES, self.T, self.W) == max(self.vals())
        assert run_fn(spark, "count_over_time", GAUGE_SAMPLES, self.T, self.W) == 10.0
        assert run_fn(spark, "last_over_time", GAUGE_SAMPLES, self.T, self.W) == 8201.0

    def test_stddev(self, spark):
        vs = self.vals()
        mean = sum(vs) / len(vs)
        var = sum((x - mean) ** 2 for x in vs) / len(vs)
        assert run_fn(spark, "stdvar_over_time", GAUGE_SAMPLES, self.T, self.W) == \
            pytest.approx(var)
        assert run_fn(spark, "stddev_over_time", GAUGE_SAMPLES, self.T, self.W) == \
            pytest.approx(math.sqrt(var))

    def test_quantile(self, spark):
        # Prometheus linear-interpolation quantile == numpy 'linear'
        import numpy as np
        assert run_fn(spark, "quantile_over_time", GAUGE_SAMPLES, self.T, self.W,
                      params=(0.5,)) == pytest.approx(float(np.quantile(self.vals(), 0.5)))

    def test_changes_resets(self, spark):
        vs = self.vals()
        resets = sum(1 for a, b in zip(vs, vs[1:]) if b < a)
        changes = sum(1 for a, b in zip(vs, vs[1:]) if b != a)
        assert run_fn(spark, "resets", GAUGE_SAMPLES, self.T, self.W) == float(resets)
        assert run_fn(spark, "changes", GAUGE_SAMPLES, self.T, self.W) == float(changes)

    def test_idelta_irate(self, spark):
        assert run_fn(spark, "idelta", GAUGE_SAMPLES, self.T, self.W) == \
            pytest.approx(8201.0 - 5102.0)
        dt = (8162999 - 8152858) / 1000.0
        assert run_fn(spark, "irate", GAUGE_SAMPLES, self.T, self.W) == \
            pytest.approx((8201.0 - 5102.0) / dt)
        # irate with counter reset in last pair
        s = [(1000, 10.0), (2000, 3.0)]
        assert run_fn(spark, "irate", s, 2000, 2000) == pytest.approx(3.0 / 1.0)

    def test_zscore(self, spark):
        vs = self.vals()
        mean = sum(vs) / len(vs)
        sd = math.sqrt(sum((x - mean) ** 2 for x in vs) / len(vs))
        assert run_fn(spark, "z_score", GAUGE_SAMPLES, self.T, self.W) == \
            pytest.approx((8201.0 - mean) / sd)

    def test_deriv_predict_linear(self, spark):
        import numpy as np
        ts = np.array([t for t, _ in GAUGE_SAMPLES], dtype=float)
        vs = np.array(self.vals())
        x = (ts - self.T) / 1000.0
        slope, intercept = np.polyfit(x, vs, 1)
        assert run_fn(spark, "deriv", GAUGE_SAMPLES, self.T, self.W) == \
            pytest.approx(float(slope), rel=1e-6)
        assert run_fn(spark, "predict_linear", GAUGE_SAMPLES, self.T, self.W,
                      params=(300.0,)) == pytest.approx(float(intercept + slope * 300.0), rel=1e-6)

    def test_mad(self, spark):
        import numpy as np
        vs = np.array(self.vals())
        mad = float(np.quantile(np.abs(vs - np.quantile(vs, 0.5)), 0.5))
        assert run_fn(spark, "mad_over_time", GAUGE_SAMPLES, self.T, self.W) == \
            pytest.approx(mad)

    def test_holt_winters(self, spark):
        sf, tf = 0.5, 0.1
        vs = self.vals()
        level, trend = vs[1], vs[1] - vs[0]
        for v in vs[2:]:
            new_level = sf * v + (1 - sf) * (level + trend)
            trend = tf * (new_level - level) + (1 - tf) * trend
            level = new_level
        assert run_fn(spark, "holt_winters", GAUGE_SAMPLES, self.T, self.W,
                      params=(sf, tf)) == pytest.approx(level)


class TestGridSemantics:
    def test_multi_step_window_membership(self, spark):
        # samples at 10s cadence; step 30s; window 60s -> each step sees
        # exactly the samples in [t-60s, t]
        samples = [(i * 10_000, float(i)) for i in range(1, 20)]
        df = make_ts_df(spark, {"a": samples})
        grid = StepGrid(60_000, 180_000, 30_000)
        out = range_function(df, "count_over_time", ["series"], grid, 60_000)
        got = {r["t"]: r["value"] for r in out.collect()}
        expected = {}
        for k in range(grid.n_steps):
            t = grid.start + k * grid.step
            expected[t] = float(sum(1 for ts, _ in samples if t - 60_000 <= ts <= t))
        assert got == expected

    def test_sample_before_grid_excluded(self, spark):
        df = make_ts_df(spark, {"a": [(1000, 1.0), (50_000, 2.0)]})
        grid = StepGrid(60_000, 60_000, 10_000)
        out = range_function(df, "sum_over_time", ["series"], grid, 20_000)
        rows = out.collect()
        assert len(rows) == 1 and rows[0]["value"] == 2.0


class TestMadOutlierAndLimit:
    def test_mad_outlier(self, spark):
        # stable series with an anomalous last point
        samples = [(i * 1000, 10.0) for i in range(9)] + [(9000, 100.0)]
        got = run_fn(spark, "last_over_time_is_mad_outlier", samples,
                     9000, 10_000, params=(3.0, 1))
        assert got == 100.0  # flagged: emits last value
        # last point within tolerance -> NaN
        tame = [(i * 1000, 10.0 + (i % 2)) for i in range(10)]
        got = run_fn(spark, "last_over_time_is_mad_outlier", tame,
                     9000, 10_000, params=(3.0, 1))
        assert math.isnan(got)
        # bounds=2 (upper only) ignores a low outlier
        low = [(i * 1000, 10.0) for i in range(9)] + [(9000, -50.0)]
        got = run_fn(spark, "last_over_time_is_mad_outlier", low,
                     9000, 10_000, params=(3.0, 2))
        assert math.isnan(got)

    def test_rate_delta_schema(self, spark):
        # delta-counter: rate = sum(window)/window_sec
        samples = [(1000, 5.0), (2000, 7.0), (3000, 9.0)]
        got = run_fn(spark, "rate_delta", samples, 3000, 3000)
        assert got == pytest.approx(21.0 / 3.0)

    def test_limit_series(self, spark):
        from filodb_spark.kernels.range_fns import limit_series
        df = make_ts_df(spark, {c: [(1000, 1.0), (2000, 2.0)]
                                for c in "abcd"})
        out = limit_series(df, 2, ["series"])
        assert sorted({r["series"] for r in out.collect()}) == ["a", "b"]
        assert out.count() == 4


class TestPrevAttachedAndExprReuse:
    """r13 optimization pins: (a) pre-attached prev columns are
    row-identical to the kernel's own with_prev_sample on every plan
    family and skip its window Exchange; (b) the memoized unresolved
    aggregate/projection expressions (_build/_build_tiled memos)
    stay correct when one query plan contains the same (fn, window)
    twice (shared Column objects => shared alias ids across subtrees)."""

    def _norm(self, df):
        out = []
        for r in df.collect():
            out.append(tuple("NaN" if isinstance(x, float) and math.isnan(x)
                             else x for x in r))
        return sorted(out, key=repr)

    @pytest.mark.slow
    def test_prev_attached_equals_default_all_paths(self, spark):
        from filodb_spark.kernels.grid import with_prev_sample
        df = make_ts_df(spark, {"a": COUNTER_SAMPLES, "b": GAUGE_SAMPLES})
        pre = with_prev_sample(df, ["series"])
        grid = StepGrid(8_080_000, 8_160_000, 10_000)
        for fn in ("rate", "increase", "changes", "resets", "irate",
                   "idelta", "sum_over_time"):
            for tiling in (False, True):
                base = range_function(df, fn, ["series"], grid, 30_000,
                                      tiling=tiling)
                fast = range_function(pre, fn, ["series"], grid, 30_000,
                                      tiling=tiling, prev_attached=True)
                assert self._norm(base) == self._norm(fast), (fn, tiling)

    def test_prev_attached_skips_window_exchange(self, spark):
        # with the lag columns materialized (the shared-cache shape),
        # the rate plan is explode + ONE aggregation exchange — no
        # Window operator, no second shuffle
        from filodb_spark.kernels.grid import with_prev_sample
        df = make_ts_df(spark, {"a": COUNTER_SAMPLES})
        pre = with_prev_sample(df, ["series"]).cache()
        try:
            pre.count()
            grid = StepGrid(8_080_000, 8_160_000, 10_000)
            out = range_function(pre, "rate", ["series"], grid, 30_000,
                                 prev_attached=True)
            plan = out._jdf.queryExecution().executedPlan().toString()
            # the cache's own build plan (printed under InMemoryRelation)
            # legitimately contains the one-off Window; the QUERY above
            # the cache scan must not
            above = plan.split("InMemoryRelation")[0]
            assert " Window " not in above
            assert above.count("Exchange") <= 1
        finally:
            pre.unpersist()

    def test_memoized_exprs_shared_within_one_plan(self, spark):
        # the same (fn, window) twice in ONE query: a self-join of two
        # independently built rate evaluations must analyze and agree
        df = make_ts_df(spark, {"a": COUNTER_SAMPLES})
        grid = StepGrid(8_080_000, 8_160_000, 10_000)
        a = range_function(df, "rate", ["series"], grid, 30_000)
        b = range_function(df, "rate", ["series"], grid, 30_000)
        j = (a.alias("l").join(b.alias("r"), ["series", "t"])
             .where(F.col("l.value") == F.col("r.value")))
        # Spark comparison semantics: NaN = NaN is true, so every row
        # (including the <2-sample NaN steps) must self-match
        assert j.count() == a.count()

    def test_prev_attached_without_columns_falls_back(self, spark):
        # r14 guard: prev_attached=True on a frame WITHOUT the lag
        # columns must not fail — it falls back to with_prev_sample
        # (the producer may decline to attach on NaN-bearing data)
        df = make_ts_df(spark, {"a": COUNTER_SAMPLES, "b": GAUGE_SAMPLES})
        grid = StepGrid(8_080_000, 8_160_000, 10_000)
        for tiling in (False, True):
            base = range_function(df, "rate", ["series"], grid, 30_000,
                                  tiling=tiling)
            fell_back = range_function(df, "rate", ["series"], grid, 30_000,
                                       tiling=tiling, prev_attached=True)
            assert self._norm(base) == self._norm(fell_back), tiling

    def test_events_cache_skips_attach_on_nan(self, spark, monkeypatch):
        # r14 guard at the PRODUCER: a NaN-bearing stream through the
        # shared events cache must NOT carry precomputed lag columns
        # (range_function's NaN policy runs before the lag would have
        # been attached, so the precomputed pairs would silently be
        # wrong), and the rate family must still compute correctly.
        from filodb_spark.driver_queries import promql_events as pe
        dirty = spark.createDataFrame(
            [("evt", 1000, 1.0), ("evt", 2000, float("nan")),
             ("evt", 3000, 5.0), ("evt", 4000, 9.0)],
            "event_type string, ts long, value double")
        monkeypatch.setattr(pe, "events_ts",
                            lambda s, d, series_cols=None, **kw: dirty)
        memo = Memo(32)
        monkeypatch.setattr(pe, "_EV_CACHE", memo)
        key = (id(spark), "__nan_guard_test__", ("event_type",))
        try:
            cached = pe._events_cached(spark, "__nan_guard_test__")
            assert "prev_ts" not in cached.columns
            assert "prev_value" not in cached.columns
            grid = StepGrid(4000, 4000, 1000)
            out = range_function(cached, "rate", ["event_type"], grid,
                                 3000, prev_attached=True)
            base = range_function(dirty, "rate", ["event_type"], grid, 3000)
            assert self._norm(out) == self._norm(base)
        finally:
            if key in memo:
                memo.get(key, None).unpersist()

    def test_events_cache_attaches_on_clean_stream(self, spark, monkeypatch):
        # the guard must not disable the optimization on clean data
        from filodb_spark.driver_queries import promql_events as pe
        clean = spark.createDataFrame(
            [("evt", 1000, 1.0), ("evt", 2000, 3.0), ("evt", 3000, 5.0)],
            "event_type string, ts long, value double")
        monkeypatch.setattr(pe, "events_ts",
                            lambda s, d, series_cols=None, **kw: clean)
        memo = Memo(32)
        monkeypatch.setattr(pe, "_EV_CACHE", memo)
        key = (id(spark), "__nan_guard_clean__", ("event_type",))
        try:
            cached = pe._events_cached(spark, "__nan_guard_clean__")
            assert "prev_ts" in cached.columns
            assert "prev_value" in cached.columns
        finally:
            if key in memo:
                memo.get(key, None).unpersist()
