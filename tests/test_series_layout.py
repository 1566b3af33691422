"""Series-partitioned in-memory store: a TsStore over a frame cached in
memory re-lays it out by series once, at construction
(compiler._series_layout), so per-series kernels group straight from the
cache and only cross-series aggregation shuffles.

Pinned here: the laid-out store answers like a store over the same rows
uncached (not laid out), also from 4 threads at once; the per-series
shapes (and the metadata scan fallback) plan no Exchange above the cache
scan and an instant raw query runs in one Spark job; the layout runs
once, keeps one cached copy at the input's storage level and is fully
materialized before the first query."""

import dataclasses
import math
import threading

import pytest
from pyspark import StorageLevel

from filodb_spark import metadata
from filodb_spark.promql import PromQLEngine
from filodb_spark.promql.compiler import TsStore

T0 = 1_700_000_000_000
START = T0 + 30 * 10_000
END = T0 + 119 * 10_000
STEP = 60_000
SCHEMA = "labels map<string,string>, ts long, value double"
HIST_SCHEMA = ("labels map<string,string>, ts long, sum double, "
               "count double, "
               "hist struct<les: array<double>, values: array<double>>")

# name -> (promql, instant?, cross-series sum?)
CASES = {
    "raw": ('m{_ns_="ns1"}', False, False),
    "rate": ("rate(m[1m])", False, False),
    "sum_by": ("sum by (job) (m)", False, True),
    "sum_rate": ("sum(rate(m[1m]))", False, True),
    "instant_raw": ('m{_ns_="ns1"}', True, False),
    "topk": ("topk(3, m)", False, False),
    "subquery": ("max_over_time(rate(m[1m])[5m:1m])", False, False),
    "hist_quantile": ("histogram_quantile(0.9, rate(lat_bucket[1m]))",
                      False, False),
    "absent": ('absent(m{job="nope"})', False, False),
}


def _gauge_rows(n_series=24, offset=0.0):
    # counters with a reset at sample 60; at every instant the values
    # are distinct across series, so topk has no ties to break
    return [({"__name__": "m", "job": f"j{s % 3}", "_ns_": f"ns{s % 4}",
              "instance": str(s)},
             T0 + i * 10_000, (s + 1) * (i % 60) * 0.5 + s + offset)
            for s in range(n_series) for i in range(120)]


def _hist_rows():
    rows = []
    for k, ns in enumerate("abcdef"):
        for i in range(120):
            a, b, c = i * (k + 1), i * 2 + k, i
            rows.append(({"__name__": "lat", "ns": ns}, T0 + i * 10_000,
                         float(i * 3), float(a + b + c),
                         ([0.5, 2.0, math.inf],
                          [float(a), float(a + b), float(a + b + c)])))
    return rows


def _cached(df, level=StorageLevel.MEMORY_AND_DISK):
    df = df.persist(level)
    df.count()
    return df


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _jobs(spark, group, fn):
    """Run fn under a fresh Spark job group; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def stores(spark):
    """(laid-out store, plain store) over the same rows. The laid-out
    one is built first: an uncached frame with the same rows resolves to
    the same cache entry while the cached input is still registered."""
    laid = TsStore(_cached(spark.createDataFrame(_gauge_rows(), SCHEMA)),
                   hist_df=_cached(spark.createDataFrame(_hist_rows(),
                                                         HIST_SCHEMA)),
                   hist_metrics=("lat",))
    plain = TsStore(spark.createDataFrame(_gauge_rows(), SCHEMA),
                    hist_df=spark.createDataFrame(_hist_rows(), HIST_SCHEMA),
                    hist_metrics=("lat",))
    assert not plain.df.storageLevel.useMemory
    assert not plain.hist_df.storageLevel.useMemory
    yield laid, plain
    laid.df.unpersist()
    laid.hist_df.unpersist()


def _query(eng, name):
    q, instant, _ = CASES[name]
    if instant:
        return eng.query_instant(q, END)
    return eng.query_range(q, START, END, STEP)


def _rows(df):
    # repr() maps NaN to a comparable token (NaN != NaN under ==)
    return sorted((tuple(sorted(r["labels"].items())), r["t"],
                   repr(r["value"])) for r in df.collect())


def _close(a, b):
    if a[:2] != b[:2]:
        return False
    x, y = float(a[2]), float(b[2])
    return (math.isnan(x) and math.isnan(y)) or \
        math.isclose(x, y, rel_tol=1e-12, abs_tol=1e-12)


@pytest.mark.parametrize("name", list(CASES))
def test_laid_out_store_answers_like_plain_store(spark, stores, name):
    laid, plain = stores
    got = _rows(_query(PromQLEngine(spark, laid), name))
    want = _rows(_query(PromQLEngine(spark, plain), name))
    assert got, name
    if CASES[name][2]:
        # a cross-series sum adds the same terms in another order
        assert len(got) == len(want)
        assert all(_close(a, b) for a, b in zip(got, want)), name
    else:
        assert got == want, name


def _metadata(store, name):
    match = 'm{_ns_="ns1"}'
    if name == "series":
        return metadata.series(store, match)
    return metadata.label_values(store, "instance", match=match)


def _one_column(df):
    return sorted(tuple(sorted(v.items())) if isinstance(v, dict) else v
                  for (v,) in df.collect())


@pytest.mark.parametrize("name", ["series", "label_values"])
def test_metadata_answers_like_plain_store(stores, name):
    laid, plain = stores
    got = _one_column(_metadata(laid, name))
    assert got
    assert got == _one_column(_metadata(plain, name))


def test_concurrent_answers_equal_serial(spark, stores):
    laid, _ = stores
    eng = PromQLEngine(spark, laid)
    serial = {name: _rows(_query(eng, name)) for name in CASES}
    names = list(CASES)
    got, errors = [], []

    def client(k):
        try:
            for rep in range(2):
                for j in range(len(names)):
                    name = names[(j + k) % len(names)]
                    got.append((name, _rows(_query(eng, name))))
        except Exception as e:          # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(got) == 4 * 2 * len(names)
    for name, rows in got:
        assert rows == serial[name], name      # exact, sums included


def _exchanges_above_scan(df) -> int:
    # the cached plan prints its own layout Exchange under the scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    return plan.split("InMemoryTableScan")[0].count("Exchange")


@pytest.mark.parametrize("name,n", [("raw", 0), ("rate", 0),
                                    ("instant_raw", 0), ("sum_by", 1),
                                    ("sum_rate", 1)])
def test_only_cross_series_aggregation_shuffles(spark, stores, name, n):
    laid, _ = stores
    assert _exchanges_above_scan(_query(PromQLEngine(spark, laid), name)) == n


def test_metadata_series_rows_do_not_shuffle(stores):
    laid, _ = stores
    assert _exchanges_above_scan(_metadata(laid, "series")) == 0


def test_instant_raw_runs_in_one_job(spark, stores):
    laid, _ = stores
    eng = PromQLEngine(spark, laid)
    want = _rows(_query(eng, "instant_raw"))
    got, jobs = _jobs(spark, "layout-instant-raw",
                      lambda: _rows(_query(eng, "instant_raw")))
    assert got == want
    assert jobs == 1


class TestLayoutGuards:
    def test_layout_once_and_one_cached_copy(self, spark):
        df = _cached(spark.createDataFrame(_gauge_rows(8, offset=0.25),
                                           SCHEMA))
        before = _persistent_rdds(spark)
        store = TsStore(df)
        try:
            after = _persistent_rdds(spark)
            # the store's copy replaced the input's: one cached RDD
            assert len(after) == len(before)
            (new,) = after - before
            assert not df.storageLevel.useMemory
            assert store.df.columns == ["labels", "ts", "value"]
            # no second layout: copies and re-wraps launch no job
            for group, build in [
                    ("layout-replace", lambda: dataclasses.replace(store)),
                    ("layout-rewrap", lambda: TsStore(store.df))]:
                copy, jobs = _jobs(spark, group, build)
                assert jobs == 0, group
                assert copy.df is store.df, group
            assert _persistent_rdds(spark) == after
            # fully loaded before the first query
            (info,) = [i for i in spark.sparkContext._jsc.sc()
                       .getRDDStorageInfo() if i.id() == new]
            assert info.numCachedPartitions() == info.numPartitions()
        finally:
            store.df.unpersist()

    @pytest.mark.parametrize("level", [StorageLevel.MEMORY_AND_DISK,
                                       StorageLevel.MEMORY_ONLY])
    def test_layout_keeps_input_storage_level(self, spark, level):
        off = 0.5 if level == StorageLevel.MEMORY_ONLY else 0.75
        df = _cached(spark.createDataFrame(_gauge_rows(8, offset=off),
                                           SCHEMA), level)
        store = TsStore(df)
        try:
            assert store.df is not df
            assert store.df.storageLevel == level
        finally:
            store.df.unpersist()

    def test_ds_view_reuses_laid_out_frames(self, spark):
        raw = _cached(spark.createDataFrame(_gauge_rows(8, offset=1.25),
                                            SCHEMA))
        dsc = _cached(spark.createDataFrame(_gauge_rows(8, offset=1.5),
                                            SCHEMA))
        store = TsStore(raw, ds_counter_df=dsc)
        try:
            view, jobs = _jobs(spark, "layout-ds-view", store.ds_view)
            assert jobs == 0
            assert view.df is store.ds_counter_df
        finally:
            store.df.unpersist()
            store.ds_counter_df.unpersist()

    def test_uncached_and_parquet_frames_used_as_given(self, spark,
                                                       tmp_path):
        plain = spark.createDataFrame(_gauge_rows(8, offset=1.75), SCHEMA)
        path = str(tmp_path / "series")
        plain.write.parquet(path)
        pq = spark.read.parquet(path)
        for group, df in [("layout-plain", plain), ("layout-parquet", pq)]:
            store, jobs = _jobs(spark, group, lambda: TsStore(df))
            assert jobs == 0, group
            assert store.df is df, group


@pytest.mark.parametrize("name", ["label_values", "label_names"])
def test_label_listing_sorts_without_range_partition(spark, stores, name):
    """A label listing sorts its small distinct result on one partition:
    no range-partitioning sample job (4 jobs before, 5 for label names
    with its `_type_` probe), and the order orderBy gave, UTF-8 bytes."""
    laid, plain = stores

    def listing(store):
        if name == "label_values":
            return metadata.label_values(store, "instance")
        return metadata.label_names(store)
    got, jobs = _jobs(spark, f"layout-{name}",
                      lambda: [v for (v,) in listing(laid).collect()])
    assert jobs <= 2
    want = {v for (v,) in listing(plain).collect()}
    assert got == sorted(want, key=str.encode) and len(got) > 3
