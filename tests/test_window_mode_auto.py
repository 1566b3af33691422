"""Density-aware window-plan selection (r7 verdict item 3).

With the part-key table attached, the engine estimates the scrape
interval at plan time (one O(series) aggregate on the index) and skips
the tiled plan in the sparse regime (scrape >= step), where tile groups
hold ~1 sample each and tiling only pays its pair-stream group
overhead. Results are pinned identical across the selected plans.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from filodb_spark.kernels.grid import StepGrid
from filodb_spark.partkey import partkey_from_samples
from filodb_spark.promql.compiler import PromQLEngine, TsStore

STEP = 60_000           # 1m step
WINDOW = 3_600_000      # 1h window -> ratio 60 (>= TILE_RATIO)


def _corpus(spark, scrape_ms: int, n_series: int = 4, hours: int = 4):
    n = hours * 3_600_000 // scrape_ms
    return (spark.range(n * n_series)
            .select(F.create_map(
                        F.lit("__name__"), F.lit("m"),
                        F.lit("inst"),
                        (F.col("id") % n_series).cast("string"))
                    .alias("labels"),
                    ((F.col("id") / n_series).cast("long") * scrape_ms)
                    .alias("ts"),
                    (F.col("id") % 1000).cast("double").alias("value")))


def _spy_tiling(monkeypatch, engine):
    """Capture the tiling argument the engine passes to range_function."""
    import filodb_spark.promql.compiler as comp
    seen = []
    real = comp.range_function

    def spy(df, fn, series_cols, grid, window, **kw):
        seen.append(kw.get("tiling", "missing"))
        return real(df, fn, series_cols, grid, window, **kw)

    monkeypatch.setattr(comp, "range_function", spy)
    return seen


def _run_rate(engine):
    g = StepGrid(WINDOW, 4 * 3_600_000, STEP)
    return engine.query_range("rate(m[1h])", g.start, g.end, g.step)


def test_sparse_regime_skips_tiling(spark, monkeypatch):
    # scrape 2x step: tile groups are ~1 sample -> auto stays on explode
    df = _corpus(spark, scrape_ms=2 * STEP)
    store = TsStore(df, partkey_df=partkey_from_samples(df))
    eng = PromQLEngine(spark, store)
    seen = _spy_tiling(monkeypatch, eng)
    _run_rate(eng).collect()
    assert seen == [False]


def test_dense_regime_keeps_tiled_auto(spark, monkeypatch):
    # scrape 15s at 1m step: ratio 60 and >=4 samples/step -> auto (tiled)
    df = _corpus(spark, scrape_ms=15_000)
    store = TsStore(df, partkey_df=partkey_from_samples(df))
    eng = PromQLEngine(spark, store)
    seen = _spy_tiling(monkeypatch, eng)
    _run_rate(eng).collect()
    assert seen == [None]


def test_no_index_keeps_static_behavior(spark, monkeypatch):
    # without the part-key table there is no density estimate: the
    # static TILE_RATIO auto-switch inside range_function decides
    df = _corpus(spark, scrape_ms=2 * STEP)
    eng = PromQLEngine(spark, TsStore(df))
    seen = _spy_tiling(monkeypatch, eng)
    _run_rate(eng).collect()
    assert seen == [None]


def test_results_identical_across_selected_plans(spark, monkeypatch):
    # each plan forced by substituting the engine's tiling argument
    df = _corpus(spark, scrape_ms=2 * STEP)
    store = TsStore(df, partkey_df=partkey_from_samples(df))
    outs = []
    for arg in (PromQLEngine._tiling_arg, lambda self, *a: False,
                lambda self, *a: True):
        monkeypatch.setattr(PromQLEngine, "_tiling_arg", arg)
        eng = PromQLEngine(spark, store)
        out = _run_rate(eng).select(
            F.col("labels")["inst"].alias("inst"), "t",
            F.round("value", 9).alias("value"))
        outs.append(sorted(map(tuple, out.collect())))
    assert outs[0] == outs[1] == outs[2]


def test_estimate_scrape_ms(spark):
    df = _corpus(spark, scrape_ms=30_000)
    store = TsStore(df, partkey_df=partkey_from_samples(df))
    eng = PromQLEngine(spark, store)
    from filodb_spark.promql.parser import parse
    est = eng._estimate_scrape_ms(parse("m"))
    assert est == pytest.approx(30_000, rel=0.01)
    # no index -> no estimate
    assert PromQLEngine(spark, TsStore(df))._estimate_scrape_ms(
        parse("m")) is None


def test_scrape_estimate_memoized(spark, monkeypatch):
    df = _corpus(spark, scrape_ms=30_000)
    store = TsStore(df, partkey_df=partkey_from_samples(df))
    eng = PromQLEngine(spark, store)
    from filodb_spark.promql.parser import parse
    sel = parse("m")
    first = eng._estimate_scrape_ms(sel)
    assert first == pytest.approx(30_000, rel=0.01)
    # second call must be served from the cache — no index scan
    calls = []
    monkeypatch.setattr(store.__class__, "select_partkeys",
                        lambda self, s: calls.append(s))
    again = eng._estimate_scrape_ms(parse("m"))
    assert again == first and calls == []
    # distinct selectors get distinct entries
    monkeypatch.undo()
    other = eng._estimate_scrape_ms(parse('m{inst="1"}'))
    assert other == pytest.approx(30_000, rel=0.01)
    assert len(eng._scrape_cache) == 2
