"""r14 compile-path memo: the engine memoizes leaf-scan fragments
(pruned scan + _sk key, and the per-series label frame) per (selector,
range). The memo holds logical plans, never results; it must be
bypassed whenever a stats collector is attached (its CollectMetrics
node has to be fresh per query) and results must be identical from a
cold memo, a warm one, one that evicts, and across repeated and
concurrent queries."""

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

    def test_stats_collector_bypasses_memo(self, eng):
        e, lo, hi = eng
        e._scan_memo = Memo(64)
        q = 'sum(rate(purchase[24h]))'
        _rows(e.query_range(q, lo, hi, 6 * 3600 * 1000))  # populate memo
        col = QueryStatsCollector()
        out = e.query_range(q, lo, hi, 6 * 3600 * 1000, stats_collector=col)
        out.count()
        # the observed scan really ran: per-leaf sample counts are present
        assert sum(g["samplesScanned"] for g in col.groups()) > 0
        # and the memoized (unobserved) fragment was NOT reused for it:
        # the observed plan must carry a CollectMetrics node
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

    def test_raw_and_agg_paths_hash_aggregate(self, eng):
        e, lo, hi = eng
        step = 6 * 3600 * 1000
        for q in ('purchase', 'sum(rate(purchase[24h]))',
                  'count_values("v", purchase)',
                  'quantile(0.5, purchase)'):
            plan = self._plan(e.query_range(q, lo, hi, step))
            assert "SortAggregate" not in plan, (q, plan)

    def test_rebuilt_labels_equal_source_labels(self, eng):
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
