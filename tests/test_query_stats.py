"""QueryStats / QueryWarnings parity (reference QueryContext.scala:
59-110,385-470 rendered per PromQueryResponse.scala:10-31): per-leaf
scan statistics collected via DataFrame.observe, soft warn limits, and
the HTTP surface."""

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from filodb_spark.api import query_api, query_range_api
from filodb_spark.promql import PromQLEngine
from filodb_spark.promql.compiler import TsStore
from filodb_spark.promql.stats import PerQueryLimits
from filodb_spark.tsdf import events_labels_ts

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def eng(spark):
    df = events_labels_ts(spark, SF)
    e = PromQLEngine(spark, TsStore(df), lookback_ms=24 * 3600 * 1000)
    lo, hi = df.agg(F.min("ts"), F.max("ts")).first()
    return e, lo, hi, df


def _hist_rows(spark):
    """Two histogram series (ns a, b), five samples each, 1 s apart."""
    rows = [({"__name__": "lat", "ns": ns}, 1000 + i * 1000,
             float(i), 3.0,
             ([1.0, 2.0, float("inf")], [1.0, 3.0, 5.0 + i]))
            for ns in ("a", "b") for i in range(5)]
    return spark.createDataFrame(
        rows, "labels map<string,string>, ts long, sum double, "
              "count double, "
              "hist struct<les: array<double>, values: array<double>>")


class TestQueryStats:
    def test_stats_off_response_unchanged(self, eng):
        e, lo, hi, _ = eng
        resp = query_range_api(e, "sum(rate(purchase[24h]))",
                               lo / 1000, hi / 1000, 6 * 3600)
        assert "queryStats" not in resp and "queryWarnings" not in resp

    def test_samples_and_series_counts_exact(self, eng):
        e, lo, hi, df = eng
        resp = query_range_api(e, "sum(rate(purchase[24h]))",
                               lo / 1000, hi / 1000, 6 * 3600,
                               stats=True)
        [st] = resp["queryStats"]
        assert st["group"] == ["purchase"]
        # the leaf observes post-selector, post-time-filter rows
        # (reference counts post-chunk-pruning samples; ADVICE r6 moved
        # the observation above the ts filter to keep pushdown) — this
        # query's grid covers the whole range, so that is every sample
        scan = df.where(F.col("labels")["__name__"] == "purchase")
        n = scan.count()
        assert st["samplesScanned"] == n
        assert st["dataBytesScanned"] == n * 16
        # approx_count_distinct is exact at this cardinality (15 users)
        series = scan.select(F.col("labels")["user"]).distinct().count()
        assert st["timeSeriesScanned"] == series
        assert st["cpuNanos"] > 0 and st["resultBytes"] > 0

    def test_two_leaves_two_groups(self, eng):
        e, lo, hi, _ = eng
        resp = query_range_api(
            e, "sum(rate(purchase[24h])) / sum(rate(click[24h]))",
            lo / 1000, hi / 1000, 6 * 3600, stats=True)
        groups = {tuple(s["group"]) for s in resp["queryStats"]}
        assert groups == {("purchase",), ("click",)}
        for s in resp["queryStats"]:
            assert s["samplesScanned"] > 0

    def test_warnings_fire_only_past_limits(self, eng):
        e, lo, hi, _ = eng
        lim_hot = PerQueryLimits(warn_time_series_scanned=1,
                                 warn_samples_scanned_bytes=1,
                                 warn_result_bytes=1)
        resp = query_range_api(e, "sum(rate(purchase[24h]))",
                               lo / 1000, hi / 1000, 6 * 3600,
                               stats=True, limits=lim_hot)
        w = resp["queryWarnings"]
        assert w["timeSeriesScanned"] > 1
        assert w["timeSeriesSamplesScannedBytes"] > 1
        assert w["execPlanResultBytes"] > 1
        lim_cold = PerQueryLimits(warn_time_series_scanned=10 ** 9,
                                  warn_samples_scanned_bytes=10 ** 15,
                                  warn_result_bytes=10 ** 15)
        resp = query_range_api(e, "sum(rate(purchase[24h]))",
                               lo / 1000, hi / 1000, 6 * 3600,
                               stats=True, limits=lim_cold)
        assert not any(resp["queryWarnings"].values())

    def test_instant_query_stats(self, eng):
        e, lo, hi, _ = eng
        resp = query_api(e, "count(purchase)", hi / 1000, stats=True)
        [st] = resp["queryStats"]
        assert st["samplesScanned"] > 0

    @pytest.mark.parametrize("promql,selector_pred", [
        ('sum(count_over_time(purchase{user="3"}[24h]))',
         lambda l: l["__name__"] == "purchase" and l["user"] == "3"),
        ('count(count_over_time({user=~"1|2|3"}[24h]))',
         lambda l: l["user"] in ("1", "2", "3")),
        ('sum(count_over_time(click{user!="0"}[24h]))',
         lambda l: l["__name__"] == "click" and l["user"] != "0"),
        ('sum(count_over_time({missing="x"}[24h]))', lambda l: False),
        # a leaf whose labels are rebuilt after a non-tiled kernel
        # (median windows) is observed once, not once per label frame
        ('sum(mad_over_time(purchase[24h]))',
         lambda l: l["__name__"] == "purchase"),
    ])
    def test_samples_scanned_matches_selector_count(self, eng, promql,
                                                    selector_pred):
        """samplesScanned must equal the true post-selector sample
        count for every matcher shape (the leaf observe node sits
        exactly at the selector boundary)."""
        e, lo, hi, df = eng
        resp = query_range_api(e, promql, lo / 1000, hi / 1000,
                               6 * 3600, stats=True)
        expected = sum(1 for r in df.collect()
                       if selector_pred(dict(r["labels"])))
        got = sum(s["samplesScanned"] for s in resp["queryStats"])
        assert got == expected

    def test_hist_range_fn_samples_scanned_matches_row_count(self, spark):
        """A histogram-schema leaf counts each hist row once: the
        per-bucket kernel output gets its labels from the series key,
        not from a second (also observed) scan of the same leaf."""
        hdf = _hist_rows(spark)
        store = TsStore(df=hdf.select("labels", "ts",
                                      F.col("sum").alias("value")),
                        hist_df=hdf, hist_metrics=("lat",))
        e = PromQLEngine(spark, store, lookback_ms=3600_000)
        resp = query_range_api(e, "rate(lat[10s])", 3, 5, 1, stats=True)
        assert resp["data"]["result"]
        [st] = resp["queryStats"]
        assert st["group"] == ["lat"]
        assert st["samplesScanned"] == hdf.count()
        assert st["timeSeriesScanned"] == 2

    def test_scalar_only_query_has_no_groups(self, eng):
        e, lo, hi, _ = eng
        resp = query_range_api(e, "time()", lo / 1000, hi / 1000,
                               6 * 3600, stats=True)
        assert resp["queryStats"] == []
        assert not any(resp["queryWarnings"].values())


class TestOpsRoutes:
    def test_cluster_status_and_loglevel(self, eng):
        """ClusterApiRoute shard-status analog (shards == executors)
        and the AdminRoutes loglevel setter."""
        from filodb_spark.http_server import serve
        e, lo, hi, _ = eng
        srv = serve(e)
        try:
            host, port = srv.server_address
            body = json.loads(urllib.request.urlopen(
                f"http://{host}:{port}/api/v1/cluster/ds/status").read())
            assert body["status"] == "success"
            assert len(body["data"]) >= 1
            s0 = body["data"][0]
            assert set(s0) == {"shard", "status", "address"}
            assert s0["status"] == "ShardStatusActive"
            req = urllib.request.Request(
                f"http://{host}:{port}/admin/loglevel/filodb.test",
                data=b"WARN", method="POST")
            body = json.loads(urllib.request.urlopen(req).read())
            assert body["status"] == "success"
            assert "filodb.test" in body["message"]
        finally:
            srv.shutdown()


class TestHistResponse:
    def test_hist_selector_renders_bucket_maps(self, spark):
        """Raw histogram selector over HTTP-shape rendering: HistSampl
        {timestamp, buckets} per sample, +Inf Prometheus-style
        (PrometheusModel.toHistResult:176-200)."""
        from filodb_spark.api import to_matrix_response, to_vector_response
        hrows = [({"__name__": "lat", "ns": "a"}, 1000 + i * 1000,
                  float(i), 3.0,
                  ([1.0, 2.0, float("inf")], [1.0, 3.0, 5.0 + i]))
                 for i in range(5)]
        hdf = spark.createDataFrame(
            hrows, "labels map<string,string>, ts long, sum double, "
                   "count double, "
                   "hist struct<les: array<double>, values: array<double>>")
        store = TsStore(df=hdf.select("labels", "ts",
                                      F.col("sum").alias("value")),
                        hist_df=hdf, hist_metrics=("lat",))
        e = PromQLEngine(spark, store, lookback_ms=3600_000)
        resp = to_vector_response(e.query_range("lat", 5000, 5000, 1000),
                                  histogram_map=True)
        [r] = resp["data"]["result"]
        assert r["value"]["buckets"] == {"1": 1.0, "2": 3.0, "+Inf": 9.0}
        assert r["value"]["timestamp"] == 5.0
        # matrix form: raw matrix selector lat[4s]
        resp = to_matrix_response(e.query_range("lat[4s]", 5000, 5000, 1000),
                                  histogram_map=True)
        [r] = resp["data"]["result"]
        assert len(r["values"]) == 5     # inclusive [1000, 5000] window
        assert r["values"][-1]["buckets"]["+Inf"] == 9.0

    def test_hist_default_renders_prom_bucket_vectors(self, spark):
        """Default (no histogramMap): histogram results auto-convert to
        one series per bucket with an le label and a _bucket metric
        suffix (PrometheusApiRouteSpec.scala:146-169)."""
        from filodb_spark.api import to_matrix_response, to_vector_response
        hrows = [({"__name__": "lat", "ns": "a"}, 1000 + i * 1000,
                  float(i), 3.0,
                  ([1.0, 2.0, float("inf")], [1.0, 3.0, 5.0 + i]))
                 for i in range(5)]
        hdf = spark.createDataFrame(
            hrows, "labels map<string,string>, ts long, sum double, "
                   "count double, "
                   "hist struct<les: array<double>, values: array<double>>")
        store = TsStore(df=hdf.select("labels", "ts",
                                      F.col("sum").alias("value")),
                        hist_df=hdf, hist_metrics=("lat",))
        e = PromQLEngine(spark, store, lookback_ms=3600_000)
        resp = to_vector_response(e.query_range("lat", 5000, 5000, 1000))
        res = resp["data"]["result"]
        assert len(res) == 3  # one series per bucket
        by_le = {r["metric"]["le"]: r for r in res}
        assert set(by_le) == {"1", "2", "+Inf"}
        assert all(r["metric"]["__name__"] == "lat_bucket" for r in res)
        assert by_le["+Inf"]["value"][1] == "9"
        resp = to_matrix_response(
            e.query_range("lat[4s]", 5000, 5000, 1000))
        res = resp["data"]["result"]
        assert len(res) == 3
        inf_series = next(r for r in res if r["metric"]["le"] == "+Inf")
        assert len(inf_series["values"]) == 5


class TestExplain:
    def test_explain_response_carries_catalyst_plan(self, eng):
        from filodb_spark.api import explain_range_api
        e, lo, hi, _ = eng
        resp = explain_range_api(e, "sum(rate(purchase[24h]))",
                                 lo / 1000, hi / 1000, 21600)
        assert resp["status"] == "success"
        text = "\n".join(resp["debugInfo"])
        assert "Physical Plan" in text and "Optimized Logical Plan" in text

    def test_http_explain_only(self, eng):
        from filodb_spark.http_server import serve
        e, lo, hi, _ = eng
        srv = serve(e)
        try:
            host, port = srv.server_address
            url = (f"http://{host}:{port}/promql/ds/api/v1/query_range"
                   f"?query=sum(rate(purchase[24h]))"
                   f"&start={lo / 1000}&end={hi / 1000}&step=21600"
                   f"&explainOnly=true")
            body = json.loads(urllib.request.urlopen(url).read())
            assert body["status"] == "success"
            assert any("Physical Plan" in ln for ln in body["debugInfo"])
            assert "data" not in body
        finally:
            srv.shutdown()


class TestPlanTimeLimits:
    """Enforced (not just warned) limits, checked BEFORE execution from
    a plan-time estimate (ExecPlan.scala:214-226 /
    QueryContext.scala:385-470): over-limit queries get 413 without
    running their full job."""

    def test_estimate_matches_distinct_series(self, eng):
        e, lo, hi, df = eng
        est = e.estimate_time_series_scanned(
            "sum(rate(purchase[24h]))", lo, hi, 6 * 3600 * 1000)
        exact = (df.where(F.col("labels")["__name__"] == "purchase")
                 .select(F.col("labels")["user"]).distinct().count())
        assert est == exact  # approx_count_distinct exact at 15 series

    def test_estimate_sums_binary_leaves(self, eng):
        e, lo, hi, _ = eng
        one = e.estimate_time_series_scanned(
            "sum(rate(purchase[24h]))", lo, hi, 6 * 3600 * 1000)
        two = e.estimate_time_series_scanned(
            "sum(rate(purchase[24h])) / sum(rate(click[24h]))",
            lo, hi, 6 * 3600 * 1000)
        assert two > one

    def test_over_limit_rejected_413_without_execution(self, eng):
        from filodb_spark.http_server import serve
        e, lo, hi, _ = eng
        srv = serve(e, warn_limits=PerQueryLimits(
            enforce_time_series_scanned=2))
        try:
            host, port = srv.server_address
            url = (f"http://{host}:{port}/promql/ds/api/v1/query_range"
                   f"?query=sum(rate(purchase[24h]))"
                   f"&start={lo / 1000}&end={hi / 1000}&step=21600")
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(url)
            assert ei.value.code == 413
            body = json.loads(ei.value.read())
            assert body["errorType"] == "query_limit_exceeded"
            assert "estimated to scan" in body["error"]
            # an under-limit query on the same server still executes
            ok = json.loads(urllib.request.urlopen(
                url.replace("query=sum(rate(purchase[24h]))",
                            "query=sum(rate(purchase{user=\"3\"}[24h]))"))
                .read())
            assert ok["status"] == "success"
        finally:
            srv.shutdown()

    def test_estimate_runs_in_request_job_group(self, eng, monkeypatch):
        # the estimate's Spark jobs belong to the request: its job group
        # (cancelled on timeout) and its deadline, on both query routes
        # and on both the inline and the timeout-thread paths
        from filodb_spark.http_server import serve
        e, lo, hi, _ = eng
        groups = []
        real = type(e).enforce_plan_limits

        def spy(self, *args, **kwargs):
            groups.append(self.spark.sparkContext.getLocalProperty(
                "spark.jobGroup.id"))
            return real(self, *args, **kwargs)
        monkeypatch.setattr(type(e), "enforce_plan_limits", spy)
        srv = serve(e, warn_limits=PerQueryLimits(
            enforce_time_series_scanned=10 ** 6))
        try:
            host, port = srv.server_address
            base = f"http://{host}:{port}/promql/ds/api/v1"
            q = "sum(rate(purchase[24h]))"
            urls = [f"{base}/query_range?query={q}&start={lo / 1000}"
                    f"&end={hi / 1000}&step=21600",
                    f"{base}/query?query={q}&time={hi / 1000}"]
            for url in urls + [u + "&timeout=120s" for u in urls]:
                body = json.loads(urllib.request.urlopen(url).read())
                assert body["status"] == "success"
        finally:
            srv.shutdown()
        assert len(groups) == 4
        assert all(g and g.startswith("query-") for g in groups), groups
        assert len(set(groups)) == 4      # one group per request

    def test_timeout_cancels_estimate_job(self, eng, monkeypatch):
        # a request that times out during its plan-limit estimate gets
        # its 503 at the deadline, and the estimate's Spark job is
        # cancelled with the request's job group
        import time
        from filodb_spark.http_server import serve
        e, lo, hi, _ = eng
        sc = e.spark.sparkContext
        groups = []

        def nap(rows):
            time.sleep(30)
            return rows

        def slow_estimate(self, *args, **kwargs):
            groups.append(sc.getLocalProperty("spark.jobGroup.id"))
            sc.parallelize([0], 1).mapPartitions(nap).count()
            return 0
        monkeypatch.setattr(type(e), "estimate_time_series_scanned",
                            slow_estimate)
        srv = serve(e, warn_limits=PerQueryLimits(
            enforce_time_series_scanned=10 ** 6))
        try:
            host, port = srv.server_address
            url = (f"http://{host}:{port}/promql/ds/api/v1/query_range"
                   f"?query=sum(rate(purchase[24h]))"
                   f"&start={lo / 1000}&end={hi / 1000}&step=21600"
                   f"&timeout=1s")
            t0 = time.monotonic()
            with pytest.raises(urllib.error.HTTPError) as ei:
                urllib.request.urlopen(url, timeout=20)
            assert time.monotonic() - t0 < 5
            assert ei.value.code == 503
            assert json.loads(ei.value.read())["errorType"] == "timeout"
        finally:
            srv.shutdown()
        [group] = groups
        assert group and group.startswith("query-")
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        assert jobs                       # the estimate job did start

        def running():
            return [j for j in tracker.getJobIdsForGroup(group)
                    if (info := tracker.getJobInfo(j)) is not None
                    and info.status == "RUNNING"]
        deadline = time.monotonic() + 15
        while running() and time.monotonic() < deadline:
            time.sleep(0.2)
        assert not running()

    def test_engine_level_enforce(self, eng):
        from filodb_spark.promql.compiler import QueryLimitException
        e, lo, hi, _ = eng
        limits = PerQueryLimits(enforce_time_series_scanned=1)
        with pytest.raises(QueryLimitException, match="estimated to scan"):
            e.enforce_plan_limits("sum(rate(purchase[24h]))", lo, hi,
                                  6 * 3600 * 1000, limits)
        # None cap -> no-op
        e.enforce_plan_limits("sum(rate(purchase[24h]))", lo, hi,
                              6 * 3600 * 1000, PerQueryLimits())


class TestHttpStats:
    def test_stats_param_end_to_end(self, eng):
        from filodb_spark.http_server import serve
        e, lo, hi, _ = eng
        srv = serve(e, warn_limits=PerQueryLimits(
            warn_time_series_scanned=1))
        try:
            host, port = srv.server_address
            url = (f"http://{host}:{port}/promql/ds/api/v1/query_range"
                   f"?query=sum(rate(purchase[24h]))"
                   f"&start={lo / 1000}&end={hi / 1000}&step=21600"
                   f"&stats=true")
            body = json.loads(urllib.request.urlopen(url).read())
            assert body["status"] == "success"
            [st] = body["queryStats"]
            assert st["samplesScanned"] > 0
            assert body["queryWarnings"]["timeSeriesScanned"] > 1
            # without the param: byte-stable legacy shape
            body2 = json.loads(urllib.request.urlopen(
                url.replace("&stats=true", "")).read())
            assert "queryStats" not in body2
        finally:
            srv.shutdown()
