"""HTTP API server tests: real sockets against the engine."""

import json
import urllib.parse
import urllib.request

import pytest

from filodb_spark.http_server import serve
from filodb_spark.promql import PromQLEngine
from filodb_spark.promql.compiler import TsStore
from filodb_spark.tsdf import events_labels_ts


@pytest.fixture(scope="module")
def server(spark):
    df = events_labels_ts(spark, "/root/testdata/sf0.001")
    eng = PromQLEngine(spark, TsStore(df), lookback_ms=24 * 3600 * 1000)
    srv = serve(eng)
    yield f"http://{srv.server_address[0]}:{srv.server_address[1]}"
    srv.shutdown()


def get(base, path, **params):
    qs = urllib.parse.urlencode(params)
    with urllib.request.urlopen(f"{base}{path}?{qs}", timeout=120) as r:
        return r.status, json.loads(r.read())


class TestHttpApi:
    def test_query_range(self, server):
        status, resp = get(server, "/api/v1/query_range",
                           query="sum(count_over_time(purchase[24h]))",
                           start=1704153600, end=1706486400, step=21600)
        assert status == 200 and resp["status"] == "success"
        assert resp["data"]["resultType"] == "matrix"
        assert len(resp["data"]["result"][0]["values"]) > 50

    def test_instant_query(self, server):
        status, resp = get(server, "/api/v1/query",
                           query="count({user=~'.+'})", time=1706486400)
        assert status == 200
        assert resp["data"]["resultType"] == "vector"
        assert float(resp["data"]["result"][0]["value"][1]) > 0

    def test_labels_values_series(self, server):
        _, resp = get(server, "/api/v1/labels")
        assert resp["data"] == ["__name__", "_type_", "user"]
        _, resp = get(server, "/api/v1/label/__name__/values")
        assert "purchase" in resp["data"]
        _, resp = get(server, "/api/v1/series",
                      **{"match[]": 'purchase{user="3"}'})
        # series results carry the virtual _type_ schema label like the
        # reference part-key maps (MetadataExecSpec.scala:167-190)
        assert resp["data"] == [{"__name__": "purchase", "user": "3",
                                 "_type_": "gauge"}]

    def test_cardinality_endpoints(self, server):
        """Cardinality over HTTP (r3 verdict item 4): the reference
        exposes label/TS cardinality through its HTTP surface
        (MetadataExecPlan.scala:427,579); these delegate to
        metadata.label_cardinality / ts_cardinality."""
        _, resp = get(server, "/api/v1/status/label_cardinality")
        by_label = {d["label"]: d["cardinality"] for d in resp["data"]}
        assert set(by_label) == {"__name__", "_type_", "user"}
        assert by_label["__name__"] >= 3     # event types as metrics
        _, resp = get(server, "/api/v1/status/ts_cardinality")
        totals = {d["__name__"]: d["total_series"] for d in resp["data"]}
        assert "purchase" in totals and totals["purchase"] > 0
        # grouped + active window form
        _, resp = get(server, "/api/v1/status/ts_cardinality",
                      group_by="__name__,user",
                      active_after=1706000000000)
        row = resp["data"][0]
        assert {"__name__", "user", "total_series",
                "active_series"} <= set(row)

    def test_errors(self, server):
        import urllib.error
        with pytest.raises(urllib.error.HTTPError) as e:
            get(server, "/api/v1/query_range", query="sum(rate(m[5m])",
                start=0, end=1, step=1)
        assert e.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as e:
            get(server, "/api/v1/nope")
        assert e.value.code == 404


class TestHealthRoutes:
    """__health / __liveness parity (reference HealthRoute.scala)."""

    def test_liveness_up(self, server):
        status, body = get(server, "/__liveness")
        assert status == 200 and body == {"status": "UP"}

    def test_health_reports_session_and_store(self, server):
        status, body = get(server, "/__health")
        assert status == 200
        assert body["status"] == "healthy"
        assert body["sparkAppId"]
        assert set(body["storeColumns"]) >= {"labels", "ts", "value"}


class TestQueryTimeout:
    def test_run_with_timeout_mechanics(self, spark):
        import time
        from filodb_spark.http_server import run_with_timeout
        # fast fn completes under deadline
        assert run_with_timeout(spark, lambda: 42, 5.0) == 42
        # no deadline -> direct call
        assert run_with_timeout(spark, lambda: 7, None) == 7
        # slow fn raises TimeoutError
        with pytest.raises(TimeoutError):
            run_with_timeout(spark, lambda: time.sleep(3) or 1, 0.2)
        # exceptions propagate
        with pytest.raises(ValueError, match="boom"):
            run_with_timeout(spark, lambda: (_ for _ in ()).throw(
                ValueError("boom")), 5.0)

    def test_timeout_param_parsing(self):
        from filodb_spark.http_server import _parse_timeout
        assert _parse_timeout({}) is None
        assert _parse_timeout({"timeout": "30"}) == 30.0
        assert _parse_timeout({"timeout": "30s"}) == 30.0
        assert _parse_timeout({"timeout": "500ms"}) == 0.5
        assert _parse_timeout({"timeout": "2m"}) == 120.0

    def test_http_timeout_param_accepted(self, server):
        # generous deadline: query completes normally with timeout= set
        status, resp = get(server, "/api/v1/query_range",
                           query="count_over_time(purchase[24h])",
                           start=1704153600, end=1704240000, step=21600,
                           timeout="120s")
        assert status == 200 and resp["status"] == "success"


def test_buildinfo(spark):
    import urllib.request
    from filodb_spark.http_server import serve
    from filodb_spark.promql import PromQLEngine
    from filodb_spark.promql.compiler import TsStore
    from filodb_spark.tsdf import events_labels_ts
    eng = PromQLEngine(spark, TsStore(
        events_labels_ts(spark, "/root/testdata/sf0.001")))
    srv = serve(eng)
    base = f"http://{srv.server_address[0]}:{srv.server_address[1]}"
    try:
        with urllib.request.urlopen(f"{base}/api/v1/status/buildinfo",
                                    timeout=60) as r:
            data = json.load(r)
        assert data["status"] == "success"
        assert data["data"]["application"] == "filodb-spark"
        assert "version" in data["data"]
    finally:
        srv.shutdown()


class TestMetadataHttpParams:
    """Round-8 HTTP params: start/end on labels/values/series
    (PrometheusApiRoute.scala:85-120 takes them), withTimes on series,
    and the TsCardinalities v2 shape (shard_key_prefix/num_group_by) +
    overflow topk on the cardinality status route."""

    def test_label_values_time_bounded(self, server):
        _, all_vals = get(server, "/api/v1/label/__name__/values")
        assert len(all_vals["data"]) == 5
        # a range entirely before the fixture matches nothing
        _, none = get(server, "/api/v1/label/__name__/values",
                      start=0, end=1)
        assert none["data"] == []

    def test_series_with_times(self, server):
        _, resp = get(server, "/api/v1/series", **{"match[]": "purchase",
                                                   "withTimes": "true"})
        assert resp["data"]
        for s in resp["data"]:
            assert int(s["_firstSampleTime_"]) <= int(s["_lastSampleTime_"])
            assert s["_type_"] == "gauge"

    def test_ts_cardinality_prefix_shape(self, server):
        # depth-2 grouping: (_ws_, _ns_); the fixture carries no shard
        # labels, so both keys are null and everything lands in one group
        _, resp = get(server, "/api/v1/status/ts_cardinality",
                      num_group_by=2)
        assert len(resp["data"]) == 1
        assert resp["data"][0]["total_series"] > 0

    def test_ts_cardinality_prefix_requires(self, server):
        # metric-level grouping without a ws+ns prefix is rejected by
        # the logical plan (TsCardinalities third require,
        # LogicalPlan.scala:354-355) -> 400
        import urllib.error
        with pytest.raises(urllib.error.HTTPError) as exc:
            get(server, "/api/v1/status/ts_cardinality", num_group_by=3)
        assert exc.value.code == 400

    def test_topk_overflow_param(self, server):
        _, resp = get(server, "/api/v1/status/ts_cardinality",
                      top_k=1, overflow="true")
        rows = {r["__name__"]: r["total_series"] for r in resp["data"]}
        assert len(rows) == 2 and "_overflow_" in rows
        assert rows["_overflow_"] > 0


class TestMetadataRequestPath:
    """Every route that does Spark work takes the one request path of
    query/query_range: the request's own `query-*` job group and
    scheduler pool, under its `timeout=` deadline. Besides the metadata
    routes that covers explainOnly planning (probes can launch jobs),
    the `/__health` probe and remote read."""

    ROUTES = ["/api/v1/labels", "/api/v1/label/__name__/values",
              "/api/v1/series?match[]=purchase",
              "/api/v1/status/label_cardinality",
              "/api/v1/status/ts_cardinality",
              "/api/v1/query_range?query=sum(rate(purchase[24h]))"
              "&start=1704153600&end=1704585600&step=86400"
              "&explainOnly=true",
              "/__health"]

    @staticmethod
    def _spy_groups(spark, monkeypatch, *targets) -> list:
        """Record the job group each call of owner.attr runs in."""
        sc = spark.sparkContext
        groups = []
        for owner, attr in targets:
            def spy(*args, _real=getattr(owner, attr), **kwargs):
                groups.append(sc.getLocalProperty("spark.jobGroup.id"))
                return _real(*args, **kwargs)
            monkeypatch.setattr(owner, attr, spy)
        return groups

    def test_runs_in_request_job_group(self, spark, server, monkeypatch):
        from filodb_spark import api, http_server
        from filodb_spark import metadata as md
        groups = self._spy_groups(spark, monkeypatch,
                                  (md, "_series_rows"),
                                  (api, "explain_range_api"),
                                  (http_server, "_health"))
        for route in self.ROUTES:
            for extra in ("", "timeout=120s"):
                sep = "&" if "?" in route else "?"
                url = f"{server}{route}{sep}{extra}" if extra \
                    else f"{server}{route}"
                with urllib.request.urlopen(url, timeout=120) as r:
                    assert json.loads(r.read())["status"] in (
                        "success", "healthy")
        assert len(groups) == 2 * len(self.ROUTES)
        assert all(g and g.startswith("query-") for g in groups), groups
        assert len(set(groups)) == len(groups)     # one group per request

    def test_remote_read_runs_in_request_job_group(self, spark, server,
                                                   monkeypatch):
        from filodb_spark import remote_read as rr
        groups = self._spy_groups(spark, monkeypatch,
                                  (rr, "run_read_request"))
        body = rr.snappy_compress(rr.encode_read_request([{
            "start_ms": 1704067200000, "end_ms": 1706486400000,
            "matchers": [("=", "__name__", "error")]}]))
        for query in ("", "?timeout=120s"):
            req = urllib.request.Request(
                f"{server}/api/v1/read{query}", data=body, method="POST")
            with urllib.request.urlopen(req, timeout=120) as r:
                [series] = rr.decode_read_response(
                    rr.snappy_decompress(r.read()))
            assert series
        assert len(groups) == 2
        assert all(g and g.startswith("query-") for g in groups), groups
        assert len(set(groups)) == 2

    def test_timeout_cancels_metadata_job(self, spark, server, monkeypatch):
        import time
        import urllib.error
        from filodb_spark import metadata as md
        sc = spark.sparkContext
        groups = []

        def nap(rows):
            time.sleep(30)
            return rows

        def slow_rows(*args, **kwargs):
            groups.append(sc.getLocalProperty("spark.jobGroup.id"))
            sc.parallelize([0], 1).mapPartitions(nap).count()
            raise AssertionError("the deadline should have cancelled this")
        monkeypatch.setattr(md, "_series_rows", slow_rows)
        t0 = time.monotonic()
        with pytest.raises(urllib.error.HTTPError) as ei:
            urllib.request.urlopen(
                f"{server}/api/v1/label/x/values?timeout=1s", timeout=20)
        assert time.monotonic() - t0 < 5
        assert ei.value.code == 503
        assert json.loads(ei.value.read())["errorType"] == "timeout"
        [group] = groups
        assert group and group.startswith("query-")
        tracker = sc.statusTracker()
        assert tracker.getJobIdsForGroup(group)    # the slow job started

        def running():
            return [j for j in tracker.getJobIdsForGroup(group)
                    if (info := tracker.getJobInfo(j)) is not None
                    and info.status == "RUNNING"]
        deadline = time.monotonic() + 15
        while running() and time.monotonic() < deadline:
            time.sleep(0.2)
        assert not running()


class TestHttpDsMount:
    """HTTP surface over a DOWNSAMPLE mount: boundary-crossing counter
    queries stitch raw/DS, and metadata endpoints cover the
    pre-retention range — the user-facing face of the r10 DS work."""

    @pytest.fixture(scope="class")
    def ds_server(self, spark):
        import pyspark.sql.functions as F

        from filodb_spark.kernels.binary import canonical_labels
        from filodb_spark.streaming.downsample import downsample_counter
        day, hour = 24 * 3600 * 1000, 3600 * 1000
        t0 = 1_700_000_000_000 - (1_700_000_000_000 % day)
        rows = [({"__name__": "c", "job": "x"},
                 t0 + d * day + h * hour, float(h))
                for d in range(4) for h in range(24)]
        rows += [({"__name__": "gone", "job": "x"},
                  t0 + h * hour, float(h)) for h in range(24)]
        full = spark.createDataFrame(
            rows, "labels map<string,string>, ts long, value double")
        boundary = t0 + 2 * day
        dsc = downsample_counter(
            full.withColumn("_sk", canonical_labels(F.col("labels"))),
            ["_sk"], 6 * hour).drop("_sk")
        store = TsStore(full.where(F.col("ts") >= boundary),
                        ds_counter_df=dsc,
                        raw_retention_start_ms=boundary,
                        ds_resolution_ms=6 * hour)
        eng = PromQLEngine(spark, store)
        srv = serve(eng)
        base = f"http://{srv.server_address[0]}:{srv.server_address[1]}"
        yield base, t0, boundary, day
        srv.shutdown()

    def test_boundary_crossing_rate_over_http(self, ds_server):
        base, t0, boundary, day = ds_server
        status, resp = get(
            base, "/api/v1/query_range", query="increase(c[24h])",
            start=(t0 + day) / 1000, end=(t0 + 3 * day) / 1000,
            step=6 * 3600)
        assert status == 200 and resp["status"] == "success"
        ts = [v[0] for s in resp["data"]["result"] for v in s["values"]]
        assert min(ts) * 1000 < boundary     # pre-boundary steps served

    def test_preboundary_metadata_over_http(self, ds_server):
        base, t0, boundary, day = ds_server
        _, resp = get(base, "/api/v1/label/__name__/values",
                      start=t0 / 1000, end=(t0 + day) / 1000)
        assert resp["data"] == ["c", "gone"]
        # recent range: the retired series stays invisible
        _, resp = get(base, "/api/v1/label/__name__/values",
                      start=boundary / 1000, end=(t0 + 4 * day) / 1000)
        assert resp["data"] == ["c"]
