"""Virtual `_type_` schema-selector label
(MultiSchemaPartitionsExecSpec.scala:629-655): an Equals matcher on
`_type_` gates the scan on the metric's schema name — matching schema
passes through, a known mismatch yields an empty result, and non-Equals
matchers are rejected."""

import pytest

from filodb_spark.promql import PromQLEngine
from filodb_spark.promql.compiler import TsStore

T0 = 1_700_000_000_000
INF = float("inf")


@pytest.fixture(scope="module")
def type_engine(spark):
    rows = [({"__name__": "m", "a": "1"}, T0, 3.0),
            ({"__name__": "d", "a": "1"}, T0, 4.0)]
    df = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    hist_rows = [({"__name__": "hl"}, T0, 40.0, 4.0,
                  ([1.0, 2.0, INF], [1.0, 2.0, 4.0]))]
    hist_df = spark.createDataFrame(
        hist_rows, "labels map<string,string>, ts long, sum double, "
                   "count double, "
                   "hist struct<les: array<double>, values: array<double>>")
    return PromQLEngine(spark, TsStore(df, hist_df=hist_df,
                                       hist_metrics=("hl",),
                                       delta_metrics=("d",)))


def _n(engine, q):
    return len(engine.query_range(q, T0, T0, 10_000).collect())


class TestTypeLabel:
    def test_gauge_schema_matches(self, type_engine):
        assert _n(type_engine, 'm{_type_="gauge"}') == 1

    def test_schema_mismatch_empty(self, type_engine):
        assert _n(type_engine, 'm{_type_="prom-histogram"}') == 0
        assert _n(type_engine, 'm{_type_="delta-counter"}') == 0

    def test_histogram_schema(self, type_engine):
        q = 'histogram_quantile(0.5, hl{_type_="prom-histogram"})'
        assert _n(type_engine, q) == 1
        assert _n(type_engine,
                  'histogram_quantile(0.5, hl{_type_="gauge"})') == 0

    def test_delta_counter_schema(self, type_engine):
        assert _n(type_engine, 'd{_type_="delta-counter"}') == 1
        assert _n(type_engine, 'd{_type_="gauge"}') == 0

    def test_non_equals_rejected(self, type_engine):
        with pytest.raises(Exception, match="_type_"):
            type_engine.query_range('m{_type_=~"g.*"}', T0, T0, 10_000)

    def test_regular_labels_still_match(self, type_engine):
        assert _n(type_engine, 'm{_type_="gauge", a="1"}') == 1
        assert _n(type_engine, 'm{_type_="gauge", a="2"}') == 0


class TestMissingLabelMatchers:
    """MultiSchemaPartitionsExecSpec.scala:539-587 — matcher semantics on
    labels a series does not carry: `!=""` excludes label-less series,
    `!="x"` includes them, `=""` selects them."""

    @pytest.fixture(scope="class")
    def ml_engine(self, spark):
        rows = [({"__name__": "m", "host": "h1"}, T0, 1.0),
                ({"__name__": "m"}, T0, 2.0)]
        df = spark.createDataFrame(
            rows, "labels map<string,string>, ts long, value double")
        return PromQLEngine(spark, TsStore(df))

    def _vals(self, engine, q):
        return sorted(r["value"] for r in
                      engine.query_range(q, T0, T0, 10_000).collect())

    def test_neq_empty_excludes_missing(self, ml_engine):
        assert self._vals(ml_engine, 'm{host!=""}') == [1.0]

    def test_neq_value_includes_missing(self, ml_engine):
        assert self._vals(ml_engine, 'm{host!="h2"}') == [1.0, 2.0]
        assert self._vals(ml_engine, 'm{host!="h1"}') == [2.0]

    def test_eq_empty_selects_missing(self, ml_engine):
        assert self._vals(ml_engine, 'm{host=""}') == [2.0]

    def test_regex_anchoring_on_missing(self, ml_engine):
        # =~ treats a missing label as "" (fully-anchored match)
        assert self._vals(ml_engine, 'm{host=~".*"}') == [1.0, 2.0]
        assert self._vals(ml_engine, 'm{host=~".+"}') == [1.0]
        assert self._vals(ml_engine, 'm{host!~".+"}') == [2.0]


class TestDsGaugeTypeLabel:
    """On a raw/downsample split the ds-GAUGE side scopes `_type_` the
    way the raw side and the metadata scan do. Fixture as in
    test_long_time_range_planner: g = i at DS_T0 + i min, raw retention
    from DS_T0 + 10m, 5m ds-gauge rollups of all history."""

    DS_T0 = 1_704_067_200_000
    MIN = 60_000

    @pytest.fixture(scope="class")
    def split_store(self, spark):
        from pyspark.sql import functions as F

        from filodb_spark.kernels.binary import canonical_labels
        from filodb_spark.streaming.downsample import downsample
        full = spark.createDataFrame(
            [({"__name__": "g", "job": "a"}, self.DS_T0 + i * self.MIN,
              float(i)) for i in range(20)],
            "labels map<string,string>, ts long, value double")
        boundary = self.DS_T0 + 10 * self.MIN
        ds = downsample(full.withColumn(
            "_sk", canonical_labels(F.col("labels"))),
            ["labels"], 5 * self.MIN).drop("_sk")
        return TsStore(full.where(F.col("ts") >= boundary), ds_df=ds,
                       raw_retention_start_ms=boundary)

    def _points(self, spark, store, q):
        out = PromQLEngine(spark, store).query_range(
            q, self.DS_T0, self.DS_T0 + 19 * self.MIN, self.MIN)
        return sorted((r["t"], r["value"]) for r in out.collect())

    def test_schema_mismatch_empty_on_ds_side(self, spark, split_store):
        # every step 0-15 is answered from the ds-gauge table
        assert self._points(
            spark, split_store,
            'sum_over_time(g{_type_="prom-histogram"}[5m])') == []

    def test_matching_schema_keeps_every_step(self, spark, split_store):
        plain = self._points(spark, split_store, "sum_over_time(g[5m])")
        assert len(plain) == 20
        assert self._points(
            spark, split_store,
            'sum_over_time(g{_type_="gauge"}[5m])') == plain

    def test_metadata_series_agrees(self, split_store):
        from filodb_spark import metadata as md
        lo, hi = self.DS_T0, self.DS_T0 + 19 * self.MIN
        assert md.series(split_store, 'g{_type_="prom-histogram"}',
                         lo, hi).collect() == []
        [row] = md.series(split_store, 'g{_type_="gauge"}', lo, hi).collect()
        assert row["labels"]["_type_"] == "gauge"
