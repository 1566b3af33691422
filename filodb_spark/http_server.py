"""Minimal Prometheus-compatible HTTP API server.

Reference surface: http/src/main/scala/filodb/http/PrometheusApiRoute.scala
(GET /promql/{dataset}/api/v1/query_range | query | labels |
label/{l}/values | series). Stdlib http.server — the serving layer is
deliberately thin; all work happens in the engine. One Spark driver
serves queries concurrently via Spark's own scheduler: each request
gets its own FAIR scheduler pool (run_with_timeout; SURVEY §4.2 —
the reference's FiloSchedulers/QueryActor per-query isolation), so a
long scan cannot head-of-line-block cheap queries.
"""

from __future__ import annotations

import json
import threading
import traceback
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from filodb_spark import api as render
from filodb_spark import metadata as md
from filodb_spark.promql.compiler import QueryLimitException


def run_with_timeout(spark, fn, timeout_s: float | None):
    """Per-query isolation + optional timeout (PerQueryLimits /
    ExecPlan.scala:214-226 enforcement analog). EVERY request runs
    under its own Spark job group and scheduler pool — with the
    session's FAIR scheduler mode (session.get_spark), concurrent
    requests round-robin the executor instead of queueing FIFO behind
    a long scan, the reference's per-query scheduler isolation
    (FiloSchedulers / QueryActor). With a timeout, fn runs in a worker
    thread (setJobGroup/pool are thread-local, so concurrent requests
    stay isolated) and the group's jobs are cancelled on expiry."""
    import uuid
    group = f"query-{uuid.uuid4().hex[:12]}"

    def isolated():
        sc = spark.sparkContext
        sc.setJobGroup(group, "http query", interruptOnCancel=True)
        sc.setLocalProperty("spark.scheduler.pool", group)
        try:
            return fn()
        finally:
            # handler threads are per-request today, but never leak the
            # pool into a reused thread (the job group is overwritten
            # by the next setJobGroup on the same thread)
            sc.setLocalProperty("spark.scheduler.pool", None)

    if not timeout_s:
        return isolated()
    result: list = []
    err: list = []

    def work():
        try:
            result.append(isolated())
        except Exception as ex:           # noqa: BLE001 — re-raised below
            err.append(ex)

    t = threading.Thread(target=work, daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        spark.sparkContext.cancelJobGroup(group)
        raise TimeoutError(f"query exceeded {timeout_s}s deadline")
    if err:
        raise err[0]
    return result[0]


def _sec_ms(v: str | None) -> int | None:
    """Prom API epoch-seconds param (float accepted) -> ms, None if
    absent (unbounded — the fixtures are historical, so no now-24h
    default like the reference route)."""
    return None if v is None else int(float(v) * 1000)


def _success(data) -> dict:
    return {"status": "success", "data": data}


def _parse_timeout(q: dict) -> float | None:
    """Prometheus `timeout=` request parameter: seconds, or a duration
    like 30s/1m."""
    raw = q.get("timeout")
    if not raw:
        return None
    units = {"ms": 0.001, "s": 1.0, "m": 60.0, "h": 3600.0}
    for suffix, mult in units.items():
        if raw.endswith(suffix) and raw[:-len(suffix)].replace(".", "").isdigit():
            return float(raw[:-len(suffix)]) * mult
    return float(raw)


def _health(engine) -> dict:
    """The `/__health` probe body: SparkContext liveness by a 1-row JVM
    round trip, plus the store's columns."""
    sc = engine.spark.sparkContext
    alive = (not sc._jsc.sc().isStopped()) and \
        engine.spark.sql("SELECT 1").collect()[0][0] == 1
    return {"status": "healthy" if alive else "down",
            "sparkAppId": sc.applicationId,
            "storeColumns": [f.name for f in engine.store.df.schema]}


# Remote-write request-body cap (snappy-compressed bytes). Prometheus
# default max samples per send is 500-2000 (~100 KB compressed); 10 MB
# leaves generous headroom while bounding per-request driver memory.
MAX_WRITE_BODY = 10 * 1024 * 1024


def make_handler(engine, write_buffer=None, bearer_token=None,
                 warn_limits=None):
    import hmac

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _authorized(self) -> bool:
            """Optional bearer-token auth (the reference's http module
            exposes the same hook shape and likewise delegates real
            authn to the deploy layer; this covers the
            direct-exposure case). Constant-time compare."""
            if bearer_token is None:
                return True
            got = self.headers.get("Authorization", "")
            return got.startswith("Bearer ") and hmac.compare_digest(
                got[len("Bearer "):], bearer_token)

        def _unauthorized(self):
            body = json.dumps({"status": "error", "errorType": "unauthorized",
                               "error": "missing or bad bearer token"}).encode()
            self.send_response(401)
            self.send_header("WWW-Authenticate", "Bearer")
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _send(self, obj, code=200):
            body = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _error(self, msg, code=400):
            self._send({"status": "error", "errorType": "bad_data",
                        "error": msg}, code)

        def do_POST(self):
            # Prometheus remote read: snappy-compressed protobuf in/out
            # (PrometheusApiRoute.scala:130); remote write ingests into
            # the attached WriteBuffer (the gateway role —
            # GatewayServer.scala routes decoded records to ingestion)
            if not self._authorized():
                return self._unauthorized()
            url = urlparse(self.path)
            if url.path.startswith("/admin/loglevel/"):
                # AdminRoutes.scala:10-18 — POST body = new level for
                # the named logger; log4j2 Configurator is the engine's
                # logging backend here as there. Route is anchored and
                # the logger segment must be non-empty (a trailing-slash
                # path must not reconfigure a logger named 'loglevel'),
                # and the level is validated against log4j's known names
                # before anything reaches the Configurator.
                logger_name = url.path[len("/admin/loglevel/"):].strip("/")
                if not logger_name:
                    return self._error("missing logger name", 400)
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    level = self.rfile.read(max(n, 0)).decode().strip() \
                        or "INFO"
                    if level.upper() not in (
                            "OFF", "FATAL", "ERROR", "WARN", "INFO",
                            "DEBUG", "TRACE", "ALL"):
                        return self._error(f"unknown log level: {level}",
                                           400)
                    jvm = engine.spark.sparkContext._jvm
                    jlevel = jvm.org.apache.logging.log4j.Level.valueOf(
                        level)
                    jvm.org.apache.logging.log4j.core.config.Configurator \
                        .setLevel(logger_name, jlevel)
                    return self._send(
                        {"status": "success",
                         "message": f"Changed log level for "
                                    f"{logger_name} to {level}"})
                except Exception as ex:
                    return self._error(f"loglevel: {ex}", 400)
            if url.path.rstrip("/").endswith("/api/v1/write"):
                if write_buffer is None:
                    return self._error("remote write not enabled", 404)
                try:
                    try:
                        n = int(self.headers.get("Content-Length", "0"))
                    except ValueError:
                        return self._error("bad Content-Length", 400)
                    if n <= 0:
                        # a negative/zero length would turn read(n) into
                        # read-until-EOF — the unbounded-body hole the
                        # cap exists to close (ADVICE r4)
                        return self._error("missing or non-positive "
                                           "Content-Length", 400)
                    if n > MAX_WRITE_BODY:
                        # reject before reading: one oversized request
                        # must not be able to exhaust driver memory
                        return self._error(
                            f"body {n} bytes exceeds max "
                            f"{MAX_WRITE_BODY}", 413)
                    accepted = write_buffer.append(self.rfile.read(n))
                    self.send_response(204)   # Prometheus expects 2xx, no body
                    self.send_header("X-Prometheus-Remote-Write-Samples",
                                     str(accepted))
                    self.end_headers()
                except Exception as ex:
                    traceback.print_exc()
                    self._error(f"remote write: {ex}", 400)
                return
            if not url.path.rstrip("/").endswith("/api/v1/read"):
                return self._error(f"unknown endpoint {url.path}", 404)
            try:
                from filodb_spark import remote_read as rr
                n = int(self.headers.get("Content-Length", "0"))
                if n <= 0 or n > MAX_WRITE_BODY:
                    # same guard as /write: negative lengths must not
                    # become read-until-EOF (ADVICE r4)
                    return self._error(f"bad Content-Length {n}", 400)
                raw = self.rfile.read(n)
                accepted = rr.decode_accepted_types(rr.snappy_decompress(raw))
                if rr.STREAMED_XOR_CHUNKS in accepted:
                    read = rr.run_read_request_streamed
                    ctype = ("application/x-streamed-protobuf; "
                             "proto=prometheus.ChunkedReadResponse")
                    cenc = None
                else:           # SAMPLES — the universal fallback
                    read = rr.run_read_request
                    ctype, cenc = "application/x-protobuf", "snappy"
                # the read's Spark work takes the GET routes' request
                # path: own job group and pool, `timeout=` deadline
                q = {k: v[0] for k, v in parse_qs(url.query).items()}
                body = run_with_timeout(engine.spark,
                                        lambda: read(engine, raw),
                                        _parse_timeout(q))
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                if cenc:
                    self.send_header("Content-Encoding", cenc)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            except TimeoutError as ex:
                self._send({"status": "error", "errorType": "timeout",
                            "error": str(ex)}, 503)
            except Exception as ex:
                traceback.print_exc()
                self._error(f"remote read: {ex}", 400)

        def do_GET(self):
            if not self._authorized():
                return self._unauthorized()
            url = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(url.query).items()}
            try:
                path = url.path.rstrip("/")
                timeout_s = _parse_timeout(q)
                want_stats = q.get("stats", "") in ("true", "1")
                hist_map = q.get("histogramMap", "") in ("true", "1")
                if "/api/v1/cluster/" in path and \
                        path.endswith("/status"):
                    # ClusterApiRoute.scala:24-36 shard health report.
                    # Spark analog: shards == executors (capacity is
                    # executor count, MIGRATION.md); HttpShardState
                    # field shape (shard, status, address) kept.
                    jsc = engine.spark.sparkContext._jsc.sc()
                    infos = jsc.statusTracker().getExecutorInfos()
                    data = [{"shard": i, "status": "ShardStatusActive",
                             "address": e.host()}
                            for i, e in enumerate(infos)]
                    return self._send({"status": "success",
                                       "data": data})
                if path.endswith("/__liveness"):
                    # HealthRoute.scala:105 __liveness — reachable as
                    # soon as the server thread serves; no engine work
                    # (the reference likewise doesn't wait for shards)
                    return self._send({"status": "UP"})
                if path.endswith("/__health"):
                    # HealthRoute.scala:80 __health — the reference
                    # reports per-shard ingestion health; the Spark
                    # analog is session + executor + store reachability:
                    # a 1-row JVM round trip proves the SparkContext is
                    # alive, the store schema proves the source resolves
                    # (metadata only — no data scan on a health probe);
                    # the probe runs in the request's job group and
                    # deadline like every route's Spark work
                    try:
                        body = run_with_timeout(
                            engine.spark, lambda: _health(engine), timeout_s)
                    except Exception as ex:
                        return self._send({"status": "down",
                                           "error": str(ex)}, 503)
                    return self._send(
                        body, 200 if body["status"] == "healthy" else 503)
                if path.endswith("/api/v1/query_range"):
                    # &explainOnly=true plans without executing
                    # (PrometheusApiRoute.scala:52-58) — planning alone
                    # can launch probe jobs, so it takes the request
                    # path too; &stats=true appends
                    # queryStats/queryWarnings
                    start, end = float(q["start"]), float(q["end"])
                    step = float(q.get("step", "60"))
                    if q.get("explainOnly", "") in ("true", "1"):
                        def work():
                            return render.explain_range_api(
                                engine, q["query"], start, end, step)
                    else:
                        def work():
                            # plan-time enforced limit, in the request's
                            # job group and deadline: reject before the
                            # full job runs (413, ExecPlan.scala:214-226)
                            engine.enforce_plan_limits(
                                q["query"], int(start * 1000),
                                int(end * 1000), int(step * 1000),
                                warn_limits)
                            return render.query_range_api(
                                engine, q["query"], start, end, step,
                                stats=want_stats, limits=warn_limits,
                                histogram_map=hist_map)
                elif path.endswith("/api/v1/query"):
                    t = float(q["time"])

                    def work():
                        engine.enforce_plan_limits(
                            q["query"], int(t * 1000), int(t * 1000),
                            60_000, warn_limits)
                        return render.query_api(
                            engine, q["query"], t, stats=want_stats,
                            limits=warn_limits, histogram_map=hist_map)
                elif path.endswith("/api/v1/labels"):
                    # start/end (epoch sec) bound the series span like the
                    # reference route (PrometheusApiRoute.scala:85-98);
                    # absent means unbounded (full retention)
                    def work():
                        return _success([r["label"] for r in md.label_names(
                            engine.store, q.get("match[]"),
                            _sec_ms(q.get("start")),
                            _sec_ms(q.get("end"))).collect()])
                elif "/api/v1/label/" in path and path.endswith("/values"):
                    label = path.split("/api/v1/label/")[1].rsplit("/", 1)[0]

                    def work():
                        return _success([r["value"] for r in md.label_values(
                            engine.store, label, q.get("match[]"),
                            _sec_ms(q.get("start")),
                            _sec_ms(q.get("end"))).collect()])
                elif path.endswith("/api/v1/series"):
                    def work():
                        return _success([dict(r["labels"]) for r in md.series(
                            engine.store, q["match[]"],
                            _sec_ms(q.get("start")), _sec_ms(q.get("end")),
                            with_times=q.get("withTimes", "")
                            in ("true", "1")).collect()])
                elif path.endswith("/api/v1/status/label_cardinality"):
                    # reference exposes cardinality via its HTTP surface
                    # (MetadataExecPlan LabelCardinalityExec); same HLL
                    # sketch class here (approx_count_distinct)
                    def work():
                        return _success([
                            {"label": r["label"],
                             "cardinality": r["cardinality"]}
                            for r in md.label_cardinality(
                                engine.store, q.get("match[]")).collect()])
                elif path.endswith("/api/v1/status/ts_cardinality"):
                    def work():
                        active = q.get("active_after")
                        active = int(active) if active else None
                        if q.get("num_group_by") or q.get("shard_key_prefix"):
                            # TsCardinalities v2 surface
                            # (LogicalPlan.scala:343 shardKeyPrefix +
                            # numGroupByFields)
                            prefix = tuple(p for p in
                                           (q.get("shard_key_prefix") or "")
                                           .split(",") if p)
                            rows = md.ts_cardinality_prefix(
                                engine.store, prefix,
                                int(q.get("num_group_by") or len(prefix)
                                    or 1), active)
                        else:
                            group = tuple((q.get("group_by") or "__name__")
                                          .split(","))
                            k = q.get("top_k")
                            if k is not None:
                                rows = md.topk_cardinality(
                                    engine.store, group, int(k), active,
                                    overflow=q.get("overflow", "")
                                    in ("true", "1"))
                            else:
                                rows = md.ts_cardinality(
                                    engine.store, group, active)
                        return _success([r.asDict() for r in rows.collect()])
                elif path.endswith("/api/v1/status/buildinfo"):
                    # Grafana probes this on datasource setup; report a
                    # Prometheus-compatible shape (PrometheusApiRoute
                    # exposes the same for the reference)
                    import pyspark
                    return self._send(_success({
                        "version": "2.48.0",   # dialect level spoken
                        "application": "filodb-spark",
                        "features": {},
                        "sparkVersion": pyspark.__version__}))
                else:
                    return self._error(f"unknown endpoint {url.path}", 404)
                # one request path: every route's Spark work runs in the
                # request's job group and scheduler pool, under its
                # deadline
                resp = run_with_timeout(engine.spark, work, timeout_s)
                self._send(resp)
            except QueryLimitException as ex:
                # plan-estimated limit breach: 413 like the reference's
                # QueryLimitException -> PayloadTooLarge mapping
                self._send({"status": "error",
                            "errorType": "query_limit_exceeded",
                            "error": str(ex)}, 413)
            except TimeoutError as ex:
                self._send({"status": "error", "errorType": "timeout",
                            "error": str(ex)}, 503)
            except (SyntaxError, ValueError, KeyError) as ex:
                self._error(f"{type(ex).__name__}: {ex}")
            except Exception as ex:  # pragma: no cover
                traceback.print_exc()
                self._error(f"internal: {ex}", 500)

    return Handler


def serve(engine, host: str = "127.0.0.1", port: int = 0,
          write_buffer=None, bearer_token=None,
          certfile: str | None = None, keyfile: str | None = None,
          warn_limits=None):
    """Start the API server on a background thread; returns the server
    (use .server_address, .shutdown()). Pass a
    remote_write.WriteBuffer to enable POST /api/v1/write, a
    bearer_token to require `Authorization: Bearer <token>` on every
    endpoint, and certfile/keyfile (PEM) to serve TLS directly
    (normally a fronting proxy terminates TLS, as in the reference's
    deployments — this covers direct exposure)."""
    srv = ThreadingHTTPServer((host, port),
                              make_handler(engine, write_buffer,
                                           bearer_token, warn_limits))
    if certfile:
        import ssl
        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(certfile, keyfile)
        srv.socket = ctx.wrap_socket(srv.socket, server_side=True)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
