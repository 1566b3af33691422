"""Goldens ported from the reference's MultiSchemaPartitionsExecSpec.

Source (behavior only):
query/src/test/scala/filodb/query/exec/MultiSchemaPartitionsExecSpec.scala
with its linearHistSeries fixture (TestData.scala:375-399). Covers the
schema-resolution semantics the earlier rounds had not ported:

- a metric-less data selector matching series of MORE than one schema
  raises SchemaMismatch (:341-348; TimeSeriesShard.scala:237-238);
- matching only histogram series resolves to the histogram schema;
- a `_type_` Equals filter names the schema directly (:350-360, 631-652);
- `_sum`/`_count` rewrites compose with a `:::agg` preagg suffix —
  `request-latency_sum:::agg` reads histogram metric
  `request-latency:::agg`'s sum column and reports the base metric name
  (:604-628);
- histogram_bucket then rate reproduces the spec's hard-coded
  extrapolated-rate values (:312-339);
- empty matches return an empty result, never an error (:161-173).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from filodb_spark.promql.compiler import (PromQLEngine, SchemaMismatch,
                                          TsStore)

NOW = 1_700_000_000_000


def linear_hist_rows(start_ts=100_000, num_series=10, time_step=1_000,
                     num_buckets=8, take=100):
    """linearHistSeries: row n carries dc=str(n % num_series); buckets
    from (n % num_buckets) upward gain +1 cumulatively."""
    les = [2.0 ** (b + 1) for b in range(num_buckets)]
    buckets = [0.0] * num_buckets
    rows = []
    for n in range(take):
        for b in range(n % num_buckets, num_buckets):
            buckets[b] += 1.0
        rows.append((start_ts + n * time_step, str(n % num_series),
                     list(les), list(buckets)))
    return rows


@pytest.fixture(scope="module")
def ms_store(spark):
    gauge_rows = [({"__name__": "http_req_total", "job": "myCoolService"},
                   100_000 + k * 10_000, float(k)) for k in range(20)]
    gauge = spark.createDataFrame(
        gauge_rows, "labels map<string,string>, ts long, value double")
    hist_rows = []
    for metric in ("request-latency", "request-latency:::agg"):
        for ts, dc, les, vals in linear_hist_rows():
            hist_rows.append(
                ({"__name__": metric, "dc": dc, "_ws_": "demo",
                  "_ns_": "testapp"}, ts, float(sum(vals)), vals[-1],
                 (les, vals)))
    hist = spark.createDataFrame(
        hist_rows, "labels map<string,string>, ts long, sum double, "
                   "count double, "
                   "hist struct<les: array<double>, values: array<double>>")
    return TsStore(gauge, hist_df=hist,
                   hist_metrics=("request-latency", "request-latency:::agg"))


@pytest.fixture(scope="module")
def ms_engine(spark, ms_store):
    return PromQLEngine(spark, ms_store)


def _vals(engine, q, start, end, step):
    rows = engine.query_range(q, start, end, step).collect()
    return sorted((r["t"], r["value"]) for r in rows
                  if not math.isnan(r["value"]))


def test_schema_mismatch_when_multiple_schemas_match(ms_engine):
    # :341-348 — no filters narrow to one schema -> SchemaMismatch
    with pytest.raises(SchemaMismatch, match="Multiple schemas found"):
        ms_engine.query_range('{__name__=~".+"}', 100_000, 200_000,
                              10_000).collect()


def test_name_matcher_is_a_metric_selector(ms_engine):
    # a `__name__` Equals matcher IS the metric (the reference's
    # _metric_ column filter) — the only way to select non-identifier
    # metric names like "request-latency"; resolves the hist schema
    res = ms_engine.query_range(
        'histogram_quantile(0.9, {dc="0", __name__="request-latency"})',
        150_000, 150_000, 10_000).collect()
    assert len(res) == 1


def test_metricless_dc_filter_binds_hist(ms_engine):
    # truly metric-less: dc matches only hist series -> hist columns
    res = ms_engine.query_range('histogram_quantile(0.9, {dc="3"})',
                                150_000, 150_000, 10_000).collect()
    assert len(res) == 2  # both hist metrics carry dc=3 series


def test_type_filter_names_schema_directly(ms_engine):
    # :350-360, 631-652 — `_type_` narrows a multi-schema match without
    # discovery: gauge side selects only the counter series
    got = _vals(ms_engine, '{_type_="gauge", __name__=~".+"}',
                150_000, 150_000, 10_000)
    assert got == [(150_000, 5.0)]  # http_req_total at ts 150000


def test_conflicting_type_matchers_match_nothing(ms_engine):
    # two different _type_ Equals values can match no series
    assert _vals(ms_engine,
                 '{_type_="gauge", _type_="prom-histogram", __name__=~".+"}',
                 150_000, 150_000, 10_000) == []


def test_metricless_type_on_gauge_only_store(spark):
    # a store without a histogram table: metric-less `_type_` still
    # gates correctly (hist type -> empty, gauge type -> rows)
    df = spark.createDataFrame(
        [({"__name__": "m", "a": "1"}, 150_000, 1.0)],
        "labels map<string,string>, ts long, value double")
    eng = PromQLEngine(spark, TsStore(df))
    assert _vals(eng, '{_type_="prom-histogram", a="1"}',
                 150_000, 150_000, 10_000) == []
    assert _vals(eng, '{_type_="gauge", a="1"}',
                 150_000, 150_000, 10_000) == [(150_000, 1.0)]


def test_empty_match_returns_empty_not_error(ms_engine):
    # :161-173 — a metric that matches nothing yields an empty result
    assert _vals(ms_engine, 'not_a_metric{job="myCoolService"}',
                 150_000, 150_000, 10_000) == []


def test_hist_sum_rewrite_with_agg_suffix(ms_engine, ms_store):
    # :604-616 — request-latency_sum:::agg binds to histogram metric
    # request-latency:::agg's sum column; the reported metric name is
    # the base histogram metric
    res = ms_engine.query_range(
        '{__name__="request-latency_sum:::agg", dc="0"}',
        150_000, 150_000, 10_000).collect()
    assert len(res) == 1
    assert res[0]["labels"]["__name__"] == "request-latency:::agg"
    # dc=0 rows at ts 100000,110000,...: last at/before 150000 is
    # ts=150000 (n=50); its bucket sum
    want = sum(vals for ts, dc, _, v in linear_hist_rows() if ts == 150_000
               for vals in v)
    assert res[0]["value"] == want


def test_hist_count_rewrite_reports_base_metric(ms_engine):
    # :618-628 — request-latency_count -> base metric name
    res = ms_engine.query_range(
        '{__name__="request-latency_count", dc="0"}',
        150_000, 150_000, 10_000).collect()
    assert len(res) == 1
    assert res[0]["labels"]["__name__"] == "request-latency"


def test_bucket_extract_then_rate_goldens(ms_engine):
    # :312-339 — histogram_bucket(16.0, ...) then rate[5m] on the
    # 105000..185000/20000 grid; hard-coded expected values from the
    # spec (NaN at the first step: single sample in window)
    got = _vals(
        ms_engine,
        'rate({__name__="request-latency_bucket", dc="0", le="16"}[300s])',
        105_000, 185_000, 20_000)
    want = [(125_000, 0.049167), (145_000, 0.078333),
            (165_000, 0.115278), (185_000, 0.145)]
    assert len(got) == len(want)
    for (gt, gv), (wt, wv) in zip(got, want):
        assert gt == wt
        assert gv == pytest.approx(wv, abs=1e-5)


def test_discovery_is_range_scoped(spark):
    """ADVICE r9: schema discovery is scoped to the queried window — a
    series existing only OUTSIDE it must neither bind the schema nor
    raise SchemaMismatch (the reference's partition lookup is
    range-scoped). Gauge series `a` lives at t<=50s; hist series at
    t>=100s: a metric-less instant at 390s (5m-lookback window
    [90s, 390s]) binds hist cleanly, one at 50s binds gauge. The
    discovery window includes the lookback — an instant whose lookback
    reaches both schemas still mismatches."""
    gauge = spark.createDataFrame(
        [({"__name__": "g", "dc": "0"}, k * 10_000, float(k))
         for k in range(6)],
        "labels map<string,string>, ts long, value double")
    hist_rows = [({"__name__": "h", "dc": "0"}, ts, float(sum(vals)),
                  vals[-1], (les, vals))
                 for ts, dc, les, vals in linear_hist_rows()]
    hist = spark.createDataFrame(
        hist_rows, "labels map<string,string>, ts long, sum double, "
                   "count double, "
                   "hist struct<les: array<double>, values: array<double>>")
    store = TsStore(gauge, hist_df=hist, hist_metrics=("h",))
    engine = PromQLEngine(spark, store)
    # both schemas' series share dc="0", but only hist exists in the
    # lookback-extended window [90s, 390s]
    res = engine.query_range('histogram_quantile(0.9, {dc="0"})',
                             390_000, 390_000, 10_000).collect()
    assert len(res) == 1
    # gauge-only window: binds gauge (the value column)
    res2 = engine.query_range('{dc="0"}', 50_000, 50_000, 10_000).collect()
    assert len(res2) == 1 and res2[0]["value"] == 5.0
    # a window reaching both schemas still detects the mismatch
    with pytest.raises(SchemaMismatch, match="Multiple schemas found"):
        engine.query_range('{dc="0"}', 0, 200_000, 10_000).collect()


def _unbuilt():
    raise AssertionError("expected a memo hit")


def test_discovery_probes_are_memoized(spark):
    """ADVICE r9 / verdict item 4: a repeated metric-less selector must
    not pay the two eager sample-table probes per query — the
    resolution is memoized per (matchers, range)."""
    gauge = spark.createDataFrame(
        [({"__name__": "g", "dc": "0"}, 10_000, 1.0)],
        "labels map<string,string>, ts long, value double")
    hist_rows = [({"__name__": "h", "dc": "1"}, ts, float(sum(vals)),
                  vals[-1], (les, vals))
                 for ts, dc, les, vals in linear_hist_rows(take=8)]
    hist = spark.createDataFrame(
        hist_rows, "labels map<string,string>, ts long, sum double, "
                   "count double, "
                   "hist struct<les: array<double>, values: array<double>>")
    store = TsStore(gauge, hist_df=hist, hist_metrics=("h",))
    engine = PromQLEngine(spark, store)
    engine.query_range('{dc="0"}', 10_000, 10_000, 10_000).collect()
    memo = store._multischema_memo
    assert len(memo) == 1
    (key,) = memo
    hits = memo.get(key, _unbuilt)
    engine.query_range('{dc="0"}', 10_000, 10_000, 10_000).collect()
    # same selector+range -> same single memo entry, no second probe
    assert list(memo) == [key] and memo.get(key, _unbuilt) == hits
