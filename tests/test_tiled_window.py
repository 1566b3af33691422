"""Tiled (two-level) window path: equivalence with the grid-explode path
and plan-shape assertions.

The tiled plan (kernels/range_fns.py `_tiled_range_function`) must produce
the same rows and values as the explode plan for every TILEABLE function,
including the adversarial cases: samples exactly on grid instants
(inclusive [t-window, t] boundary), counter resets, NaN staleness markers,
single-sample windows, and windows clipped at the grid edges.
"""

import math

import pytest
from pyspark.sql import functions as F

from filodb_spark.kernels.grid import StepGrid
from filodb_spark.kernels import range_fns
from filodb_spark.kernels.range_fns import TILEABLE, range_function

STEP = 10_000
WINDOW = 320_000  # window/step = 32 >= TILE_RATIO -> auto-tiled
GRID = StepGrid(1_000_000, 1_600_000, STEP)

PARAMS = {"quantile_over_time": (0.9,), "predict_linear": (3600.0,),
          "holt_winters": (0.5, 0.1)}


@pytest.fixture(scope="module")
def samples(spark):
    # deterministic LCG; boundary-aligned ts every 7th sample; resets for
    # counter kernels; NaN staleness markers; two series with different
    # densities (series b sparse: some windows hold 0 or 1 sample).
    # Timestamps deduped per series — the engine dedupes upstream, and
    # equal-ts ties make "first/last sample" plan-dependent (min_by/
    # max_by tie order is unspecified)
    rows, x, seen = [], 12345, set()
    for i in range(400):
        x = (1103515245 * x + 12345) % (1 << 31)
        ts = 990_000 + i * 1_700
        if i % 7 == 0:
            ts = GRID.start + (i // 7) * STEP  # exactly on a grid instant
        if ts in seen:
            continue
        seen.add(ts)
        v = float(x % 10_000) / 7.0
        if i % 31 == 0:
            v = float("nan")
        rows.append(("a", ts, v))
    for i in range(12):
        rows.append(("b", 1_000_000 + i * 50_000, float(i * i)))
    return spark.createDataFrame(rows, "series string, ts long, value double")


def _rows_map(df):
    out = {}
    for r in df.collect():
        out[(r["series"], r["t"])] = r["value"]
    return out


def _same(a, b, abs_tol=1e-12):
    if a is None or b is None:
        return a is b
    if math.isnan(a):
        return math.isnan(b)
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=abs_tol)


@pytest.mark.parametrize("fn", sorted(TILEABLE))
def test_tiled_equals_explode(spark, samples, fn):
    params = PARAMS.get(fn, ())
    tiled = range_function(samples, fn, ["series"], GRID, WINDOW,
                           params=params, tiling=True)
    plain = range_function(samples, fn, ["series"], GRID, WINDOW,
                           params=params, tiling=False)
    a, b = _rows_map(tiled), _rows_map(plain)
    assert set(a) == set(b)
    bad = [(k, a[k], b[k]) for k in a if not _same(a[k], b[k])]
    assert not bad, f"{fn}: {bad[:5]} (+{len(bad)} total)"


def test_auto_selects_tiled_above_ratio(spark, samples):
    plan = range_function(samples, "rate", ["series"], GRID, WINDOW) \
        ._jdf.queryExecution().executedPlan().toString()
    # two aggregation levels (tile partials + window combine), explode of
    # the *partials* between them
    assert plan.count("HashAggregate") >= 4
    assert "Generate explode" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_auto_keeps_explode_below_ratio(spark, samples):
    grid = StepGrid(1_000_000, 1_600_000, 100_000)
    plan = range_function(samples, "sum_over_time", ["series"], grid, 200_000) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") == 2  # single partial+final pair


def test_non_tileable_fn_ignores_ratio(spark, samples):
    # quantile keeps the explode path even at ratio 32 (documented boundary)
    out = range_function(samples, "quantile_over_time", ["series"], GRID,
                         WINDOW, params=(0.9,))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "percentile" in plan


def test_regression_numerics_at_epoch_timestamps(spark):
    """deriv's tiled moments must stay window-magnitude at real epoch
    timestamps (a global-reference centering would square 1.7e12 into
    catastrophic cancellation — the reason _tiled_regression centers
    per group)."""
    t0 = 1_700_000_000_000
    df = spark.createDataFrame(
        [("a", t0 + i * 1_700, 2.0 + 0.001 * i + (i % 7) * 0.01)
         for i in range(2_000)],
        "series string, ts long, value double")
    grid = StepGrid(t0 + 500_000, t0 + 3_000_000, 10_000)
    a = _rows_map(range_function(df, "deriv", ["series"], grid, 320_000,
                                 tiling=True))
    b = _rows_map(range_function(df, "deriv", ["series"], grid, 320_000,
                                 tiling=False))
    assert set(a) == set(b) and a
    for k in a:
        assert _same(a[k], b[k]), (k, a[k], b[k])


def test_force_tiled_rejects_non_tileable(spark, samples):
    with pytest.raises(ValueError, match="not tileable"):
        range_function(samples, "quantile_over_time", ["series"], GRID,
                       WINDOW, params=(0.9,), tiling=True).collect()


@pytest.mark.parametrize("fn", ["sum_over_time", "rate"])
def test_companions_survive_tiling(spark, fn):
    """min/max companions ride both plans: per-tile partials combined as
    min of mins / max of maxes (the pair stream leaves them null), NaN
    skipped, null where a window holds no non-NaN value — equal to the
    explode plan and to a brute-force window scan."""
    nan = float("nan")
    rows = [("a", 1_000_000 + i * 1_000, float(i),
             nan if i % 9 == 0 or 80 <= i < 150 else float(i % 13),
             nan if i % 11 == 0 or 80 <= i < 150 else float(i * 7 % 17))
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "series string, ts long, value double, min double, max double")
    grid, window = StepGrid(1_000_000, 1_200_000, 5_000), 40_000
    got = {}
    for tiling in (True, False):
        out = range_function(df, fn, ["series"], grid, window,
                             companions=["min", "max"], tiling=tiling)
        got[tiling] = {r["t"]: (r["min"], r["max"]) for r in out.collect()}
    assert got[True] == got[False] and len(got[True]) == grid.n_steps

    def extreme(pick, col, t):
        vs = [r[col] for r in rows
              if t - window <= r[1] <= t and not math.isnan(r[col])]
        return pick(vs) if vs else None
    want = {t: (extreme(min, 3, t), extreme(max, 4, t))
            for t in range(grid.start, grid.end + 1, grid.step)}
    assert got[True] == want
    assert (None, None) in want.values()   # an all-NaN companion window


def test_hist_rate_inherits_tiling(spark):
    """hist_range_function bucket-explodes then delegates to
    range_function — histogram rate at a high window/step ratio must
    ride the tiled kernel (per bucket series) and equal the explode
    result bucket-for-bucket."""
    from filodb_spark.kernels.histogram import hist_range_function
    rows = []
    for s in ("a", "b"):
        counts = [0.0, 0.0, 0.0]
        for i in range(250):
            for j in range(3):
                counts[j] += (i * (j + 1) + (7 if s == "b" else 0)) % 5
            rows.append((s, 1_000_000 + i * 2_000,
                         ([1.0, 5.0, float("inf")], list(counts))))
    df = spark.createDataFrame(
        rows, "series string, ts long, "
              "hist struct<les: array<double>, values: array<double>>")
    grid = StepGrid(1_200_000, 1_500_000, 5_000)   # ratio 32 -> tiled
    window = 160_000
    out = hist_range_function(df, "rate", ["series"], grid, window)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 4       # two-level (tiled)
    # equality vs a forced-explode evaluation of the same buckets
    from filodb_spark.kernels.histogram import assemble_hist, explode_hist
    ex = range_function(explode_hist(df), "rate", ["series", "bucket_le"],
                        grid, window, tiling=False)
    ref = assemble_hist(ex.where(~F.isnan("value")), ["series", "t"])
    a = {(r["series"], r["t"]): (tuple(r["hist"]["les"]),
                                 tuple(round(v, 9) for v in
                                       r["hist"]["values"]))
         for r in out.collect()}
    b = {(r["series"], r["t"]): (tuple(r["hist"]["les"]),
                                 tuple(round(v, 9) for v in
                                       r["hist"]["values"]))
         for r in ref.collect()}
    assert a == b and len(a) > 50


@pytest.mark.slow
class TestEnginePlanParity:
    """PromQLEngine results must not depend on which window plan the
    engine picks: each plan is forced by substituting the engine's
    `_tiling_arg` (the argument it hands range_function)."""

    @pytest.fixture(scope="class")
    def labels_df(self, spark):
        rows = []
        for inst in ("0", "1"):
            v = 0.0
            for i in range(300):
                v += (i * 13 + int(inst)) % 7
                rows.append(({"__name__": "m", "inst": inst},
                             1_000_000 + i * 2_000 + int(inst), v))
        return spark.createDataFrame(
            rows, "labels map<string,string>, ts long, value double")

    @pytest.mark.parametrize("promql", [
        "rate(m[4m])", "sum_over_time(m[4m])",
        "sum(rate(m[4m]))", "min_over_time(m[4m])",
    ])
    def test_plans_agree(self, spark, labels_df, promql, monkeypatch):
        from filodb_spark.promql.compiler import PromQLEngine, TsStore
        real = PromQLEngine._tiling_arg
        forced = {"auto": real,
                  "explode": lambda self, fn, *a: False,
                  "tiled": lambda self, fn, *a: True if fn in TILEABLE
                  else real(self, fn, *a)}
        res = {}
        for plan, arg in forced.items():
            monkeypatch.setattr(PromQLEngine, "_tiling_arg", arg)
            eng = PromQLEngine(spark, TsStore(labels_df))
            rows = eng.query_range(promql, 1_300_000, 1_600_000,
                                   5_000).collect()
            res[plan] = {(tuple(sorted(r["labels"].items())), r["t"]):
                         r["value"] for r in rows}
        base = res["explode"]
        for plan in ("auto", "tiled"):
            assert set(res[plan]) == set(base), plan
            bad = [k for k in base if not _same(res[plan][k], base[k], 1e-9)]
            assert not bad, (plan, promql, bad[:3])


def _random_dataset(seed):
    """Adversarial random series: irregular cadence, counter resets,
    NaN staleness markers, grid-aligned timestamps, dense and sparse
    series — deduped per (series, ts) like the engine does (max_by tie
    order between plans is otherwise unspecified)."""
    import random
    rng = random.Random(seed)
    step = rng.choice([1_000, 5_000, 20_000])
    ratio = rng.randint(16, 48)
    window = step * ratio + rng.choice([0, step // 2, 1])  # non-multiples too
    start = rng.randint(0, 3) * step + 1_000_000
    grid = StepGrid(start, start + step * rng.randint(20, 60), step)
    rows = {}
    for s in range(8):
        n = rng.randint(0, 300)
        v = rng.uniform(0, 100)
        for _ in range(n):
            ts = rng.randint(grid.start - 2 * window, grid.end + window)
            if rng.random() < 0.2:
                ts = grid.start + rng.randint(0, grid.n_steps) * step
            r = rng.random()
            if r < 0.05:
                val = float("nan")
            elif r < 0.15:
                v = rng.uniform(0, 5)
                val = v
            else:
                v += rng.uniform(0, 10)
                val = v
            key = (f"s{s}", ts)
            prev = rows.get(key)
            rows[key] = val if prev is None or (
                not math.isnan(val) and (math.isnan(prev) or val > prev)) \
                else prev
    data = [(s, ts, v) for (s, ts), v in rows.items()]
    return data, grid, window


@pytest.mark.slow
@pytest.mark.parametrize("seed", [7, 101, 20260814])
def test_tiled_equals_explode_randomized(spark, seed):
    """Property battery: on random adversarial datasets and random
    (step, window) with ratio >= 16 (including window not a multiple of
    step), every tileable kernel must agree between the two plans."""
    data, grid, window = _random_dataset(seed)
    df = spark.createDataFrame(data, "series string, ts long, value double")
    for fn in sorted(TILEABLE):
        params = PARAMS.get(fn, ())
        b = _rows_map(range_function(df, fn, ["series"], grid, window,
                                     params=params, tiling=False))
        a = _rows_map(range_function(df, fn, ["series"], grid, window,
                                     params=params, tiling=True))
        assert set(a) == set(b), (fn, seed)
        bad = [(k, a[k], b[k]) for k in a if not _same(a[k], b[k])]
        assert not bad, (fn, seed, bad[:3], len(bad))


def test_tile_count_independent_of_density(spark):
    """The scale property itself: group (tile) count is bounded by
    ~2*n_steps per series no matter how many samples land in each gap."""
    grid = StepGrid(0, 100_000, 1_000)
    dense = spark.createDataFrame(
        [("a", i * 10, 1.0) for i in range(10_000)],
        "series string, ts long, value double")
    from filodb_spark.kernels.grid import step_bounds
    k_min, k_max = step_bounds(grid, 64_000, F.col("ts"))
    n_groups = (dense.select(k_min.alias("a"), k_max.alias("b"))
                .distinct().count())
    assert n_groups <= 2 * grid.n_steps + 2
