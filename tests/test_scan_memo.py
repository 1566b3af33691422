"""r14 compile-path memo: the engine memoizes the leaf-scan fragment
(pruned scan + _sk series key) per (selector, range). The memo holds
logical plans, never results; a stats collector wraps the memoized
fragment in its own CollectMetrics node per query, and results must be
identical from a cold memo, a warm one, one that evicts, and across
repeated and concurrent queries. Every path rebuilds labels from the
series key, so no path builds a second per-series label frame."""

import threading

import pytest
from pyspark.sql import functions as F

from filodb_spark.memo import Memo
from filodb_spark.promql import PromQLEngine
from filodb_spark.promql.compiler import TsStore
from filodb_spark.promql.stats import QueryStatsCollector
from filodb_spark.tsdf import events_labels_ts

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def eng(spark):
    df = events_labels_ts(spark, SF)
    e = PromQLEngine(spark, TsStore(df), lookback_ms=24 * 3600 * 1000)
    lo, hi = df.agg(F.min("ts"), F.max("ts")).first()
    return e, lo, hi


@pytest.fixture(scope="module")
def hist_eng(spark):
    """Two histogram series (ns a, b), five samples each, 1 s apart."""
    rows = [({"__name__": "lat", "ns": ns}, 1000 + i * 1000, float(i), 3.0,
             ([1.0, 2.0, float("inf")], [1.0, 3.0 + i, 5.0 + 2 * i]))
            for ns in ("a", "b") for i in range(5)]
    hdf = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, sum double, "
              "count double, "
              "hist struct<les: array<double>, values: array<double>>")
    store = TsStore(df=hdf.select("labels", "ts",
                                  F.col("sum").alias("value")),
                    hist_df=hdf, hist_metrics=("lat",))
    return PromQLEngine(spark, store, lookback_ms=3600_000)


def _label_sets(df):
    return {tuple(sorted(r["labels"].items()))
            for r in df.select("labels").collect()}


def _rows(df):
    # repr() maps NaN to a comparable token (NaN != NaN under ==)
    return sorted((tuple(sorted(r["labels"].items())), r["t"],
                   repr(round(r["value"], 9))) for r in df.collect())


class TestScanMemo:
    def test_repeat_query_hits_memo_and_matches_fresh(self, eng):
        e, lo, hi = eng
        q = 'sum(rate(purchase[24h]))'
        first = _rows(e.query_range(q, lo, hi, 6 * 3600 * 1000))
        assert len(e._scan_memo), "memo should hold the leaf fragment"
        n_entries = len(e._scan_memo)
        again = _rows(e.query_range(q, lo, hi, 6 * 3600 * 1000))
        assert len(e._scan_memo) == n_entries   # hit, not a new entry
        e._scan_memo = Memo(64)
        cold = _rows(e.query_range(q, lo, hi, 6 * 3600 * 1000))
        assert first == again == cold

    def test_stats_collector_observes_memoized_fragment(self, eng):
        e, lo, hi = eng
        e._scan_memo = Memo(64)
        q = 'sum(rate(purchase[24h]))'
        step = 6 * 3600 * 1000
        # a stats run builds the fragment through the memo ...
        e.query_range(q, lo, hi, step, stats_collector=QueryStatsCollector())
        assert len(e._scan_memo), "stats run should fill the memo"
        e._scan_memo = Memo(64)
        plain = _rows(e.query_range(q, lo, hi, step))
        n_entries = len(e._scan_memo)
        col = QueryStatsCollector()
        out = e.query_range(q, lo, hi, step, stats_collector=col)
        assert _rows(out) == plain
        # ... and one after a plain run reads it: no new entry
        assert len(e._scan_memo) == n_entries
        # the observed scan really ran: per-leaf sample counts are present
        assert sum(g["samplesScanned"] for g in col.groups()) > 0
        # and its plan carries its own observe node over that fragment
        plan = out._jdf.queryExecution().analyzed().toString()
        assert "CollectMetrics" in plan

    def test_distinct_ranges_get_distinct_entries(self, eng):
        e, lo, hi = eng
        e._scan_memo = Memo(64)
        q = 'rate(purchase[24h])'
        e.query_range(q, lo, hi, 6 * 3600 * 1000)
        n1 = len(e._scan_memo)
        e.query_range(q, lo, hi - 3600 * 1000, 6 * 3600 * 1000)
        assert len(e._scan_memo) > n1           # different pruned range

    def test_concurrent_serving_on_evicting_memo_equals_serial(self, eng):
        # ThreadingHTTPServer handlers share one engine: four threads
        # over distinct ranges on a memo that evicts on nearly every
        # insert must return exactly what serial serving returns
        e, lo, hi = eng
        q = 'sum(rate(purchase[24h]))'
        step = 6 * 3600 * 1000
        ranges = [(lo, hi - k * 3600 * 1000) for k in range(4)]
        e._scan_memo = Memo(64)
        serial = [_rows(e.query_range(q, a, b, step)) for a, b in ranges]
        e._scan_memo = Memo(2)
        got, errors = [None] * len(ranges), []

        def work(i):
            try:
                got[i] = _rows(e.query_range(q, *ranges[i], step))
            except Exception as ex:       # noqa: BLE001 — asserted below
                errors.append(ex)
        threads = [threading.Thread(target=work, args=(i,))
                   for i in range(len(ranges))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
        e._scan_memo = Memo(64)
        assert errors == []
        assert got == serial
        assert all(serial)


class TestHashAggregableLabels:
    """r14: the engine rebuilds labels from the injective series key
    (map_from_entries of the sorted entry array) after aggregations
    instead of carrying them with first(map) — a map-typed aggregation
    buffer is not hash-aggregable, so the carry forced SortAggregate
    plus two Sorts around every exchange on the raw/agg paths."""

    def _plan(self, df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")

    def test_raw_and_agg_paths_hash_aggregate(self, eng, hist_eng):
        e, lo, hi = eng
        step = 6 * 3600 * 1000
        for q in ('purchase', 'sum(rate(purchase[24h]))',
                  'count_values("v", purchase)',
                  'quantile(0.5, purchase)',
                  'max_over_time(rate(purchase[24h])[2d:6h])'):
            plan = self._plan(e.query_range(q, lo, hi, step))
            assert "SortAggregate" not in plan, (q, plan)
        # histogram_quantile over `_bucket` series (one series per le):
        # collect_list already makes the bucket aggregate an
        # ObjectHashAggregate, so pin that no labels map rides it
        q = 'histogram_quantile(0.5, rate(lat_bucket[10s]))'
        plan = self._plan(hist_eng.query_range(q, 3000, 5000, 1000))
        assert "SortAggregate" not in plan, (q, plan)
        assert "first(labels" not in plan, (q, plan)

    def test_rebuilt_labels_equal_source_labels(self, eng, hist_eng):
        # content equality: the reconstructed map must carry exactly
        # the source series' labels (entry ORDER may differ — maps are
        # unordered; everything downstream sorts or looks up by key)
        e, lo, hi = eng
        step = 6 * 3600 * 1000
        out = e.query_range('purchase', lo, hi, step)
        got = {tuple(sorted(r["labels"].items())) for r in out.collect()}
        src = e.store.df.where(
            F.col("labels")["__name__"] == "purchase")
        exp = {tuple((x["key"], x["value"]) for x in r["e"])
               for r in src.select(F.array_sort(F.map_entries("labels"))
                                   .alias("e")).distinct().collect()}
        assert got <= exp and got, (len(got), len(exp))
        # by-grouping keeps exactly the by-labels
        out2 = e.query_range('sum by (user) (purchase)', lo, hi, step)
        ks = {tuple(sorted(r["labels"].keys())) for r in out2.collect()}
        assert ks == {("user",)}
        # the mad and subquery paths rebuild labels the same way
        for q in ('mad_over_time(purchase[24h])',
                  'max_over_time(rate(purchase[24h])[2d:6h])'):
            out = e.query_range(q, lo, hi, step)
            assert _label_sets(out) == exp, q
        # and so do the histogram paths
        src = _label_sets(hist_eng.store.hist_df)
        out = hist_eng.query_range('rate(lat[10s])', 3000, 5000, 1000)
        assert "hist" in out.columns
        assert _label_sets(out) == src
        # `_bucket` series carry `le`; the quantile drops it again
        out = hist_eng.query_range(
            'histogram_quantile(0.5, rate(lat_bucket[10s]))',
            3000, 5000, 1000)
        assert _label_sets(out) == src
