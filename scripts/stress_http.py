"""HTTP load harness — the reference's Gatling QueryRangeSimulation
(gatling/src/test/scala/filodb/gatling/QueryRangeSimulation.scala:
N concurrent users replaying /api/v1/query_range against a running
server, latency distribution per query shape) re-expressed as a
self-contained script against filodb_spark.http_server.serve.

The server is ThreadingHTTPServer, so concurrent requests become
concurrent Spark jobs on the shared local[*] session (Spark schedules
them FIFO across the pool — the analog of concurrent queries landing
on one query-service node).

Usage: python scripts/stress_http.py [sf_dir] [users] [secs]
Prints one JSON line: per-query-shape p50/p90/p99 (ms) + total qps, and
`mismatches`: concurrent answers whose result differs from the serial
warm-pass answer of the same shape (exact, value strings included).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import urllib.parse
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _result(body: dict) -> list:
    """A response's series in a canonical order."""
    return sorted((sorted(r["metric"].items()), r["values"])
                  for r in body["data"]["result"])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    users = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    secs = float(sys.argv[3]) if len(sys.argv) > 3 else 30.0

    from pyspark.sql import functions as F

    from filodb_spark.http_server import serve
    from filodb_spark.promql import PromQLEngine
    from filodb_spark.promql.compiler import TsStore
    from filodb_spark.session import get_spark
    from filodb_spark.tsdf import events_labels_ts

    spark = get_spark("stress-http", shuffle_partitions=32)
    df = events_labels_ts(spark, sf_dir).cache()
    lo, hi = df.agg(F.min("ts"), F.max("ts")).first()
    engine = PromQLEngine(spark, TsStore(df))
    srv = serve(engine)
    port = srv.server_address[1]

    step = 6 * 3600
    window = (hi - lo) // 4
    queries = {
        "raw_selector": "purchase",
        "sum_rate": f"sum(rate(purchase[{window}ms]))",
        "quantile": f"quantile_over_time(0.9, view[{window}ms])",
        "agg_by": f"sum by (user) (increase(click[{window}ms]))",
    }
    base = f"http://127.0.0.1:{port}/api/v1/query_range"
    common = {"start": lo / 1000, "end": hi / 1000, "step": step}

    lat: dict[str, list] = {k: [] for k in queries}
    refs: dict[str, list] = {}                # serial warm-pass answers
    errors = [0]
    mismatches = [0]
    deadline = [0.0]          # set after the warm pass
    lock = threading.Lock()

    def user(uid: int):
        keys = list(queries)
        i = uid                                   # stagger the mix
        while time.time() < deadline[0]:
            name = keys[i % len(keys)]
            i += 1
            params = dict(common, query=queries[name])
            url = base + "?" + urllib.parse.urlencode(params)
            t0 = time.time()
            try:
                with urllib.request.urlopen(url, timeout=120) as r:
                    body = json.load(r)
                    ok = body.get("status") == "success"
            except Exception:
                ok = False
            dt = (time.time() - t0) * 1000
            with lock:
                if ok:
                    lat[name].append(dt)
                    mismatches[0] += _result(body) != refs.get(name)
                else:
                    errors[0] += 1

    # one warm pass per shape so JIT/caching is out of the measurement;
    # a failing shape is reported, not fatal (the measured loop counts
    # its errors the same way)
    for name in queries:
        params = dict(common, query=queries[name])
        try:
            with urllib.request.urlopen(
                    base + "?" + urllib.parse.urlencode(params),
                    timeout=300) as r:
                refs[name] = _result(json.load(r))
        except Exception as e:
            print(f"# warmup {name} failed: {e}", file=sys.stderr)

    t_start = time.time()
    deadline[0] = t_start + secs
    threads = [threading.Thread(target=user, args=(i,), daemon=True)
               for i in range(users)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.time() - t_start

    def pct(xs, p):
        if not xs:
            return None
        xs = sorted(xs)
        return round(xs[min(len(xs) - 1, int(p * len(xs)))], 1)

    total = sum(len(v) for v in lat.values())
    out = {
        "users": users, "secs": round(wall, 1), "sf_dir": sf_dir,
        "total_requests": total, "errors": errors[0],
        "mismatches": mismatches[0],
        "qps": round(total / wall, 2),
        "latency_ms": {k: {"n": len(v), "p50": pct(v, 0.5),
                           "p90": pct(v, 0.9), "p99": pct(v, 0.99)}
                       for k, v in lat.items()},
    }
    print(json.dumps(out))
    srv.shutdown()


if __name__ == "__main__":
    main()
