"""filodb_spark serving benchmark.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Runs one workload against the engine's public entry points in this
process (``http_server.serve`` over a ``PromQLEngine``, and the
remote-write ingest functions) and prints one JSON object as the last
line of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a traced run. ``BENCHMARK.json`` lists both with
their units; ``spec.json`` defines them and maps each layer to the
end-to-end metric it moves. ``--smoke`` shrinks every input so a run
takes seconds, checks that every named metric is emitted with its unit
and that a corrupted reference trips the correctness gate.

Everything the run writes stays under ``.perfbench/`` in the working
directory; details of each run (environment record, per-request-shape
Spark counts, spans) go to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import signal
import statistics
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH_SPEC = json.load(_f)         # workloads, metric names and units
WORKLOADS = [w["name"] for w in BENCH_SPEC["workloads"]]

DRIVER_MEM = "2g"            # below the box's memory: session.py defaults to 16g
CLIENTS = {"dashboard": 4, "ingest": 1}
PROBE_BATCHES = 3            # dashboard: remote-write batches after the window
WARM_BATCHES = 2             # remote-write batches during set-up


def log(msg: str) -> None:
    print(f"# {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def process_start_wall() -> float:
    """Wall-clock time this process started (``/proc``)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def children_of(pid: int) -> set[int]:
    """Every live descendant of ``pid``."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    out, frontier = set(), {pid}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def configure_env(work: str, cpus: int) -> None:
    """Spark, the JVM and Python temp files all write under ``work``."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM, the spark-submit launcher included
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # the driver heap is committed and touched up front, so peak RSS
        # reads the same whatever the garbage collector happened to grow
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch' "
            f"--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            f"pyspark-shell"),
    })


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a Beta-weighted mean
    of every order statistic. Latencies fall in clusters (one per
    request shape); a plain percentile picks a single order statistic
    and jumps between clusters from run to run, this estimate does
    not."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    edges = np.linspace(0.0, 1.0, 20_001)
    mid = (edges[:-1] + edges[1:]) / 2
    log_pdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    cdf = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    weights = np.diff(np.interp(np.arange(n + 1) / n, edges, cdf / cdf[-1]))
    return float(weights @ x)


# ---- the run ---------------------------------------------------------------

class Bench:
    def __init__(self, args):
        self.args = args
        self.size = "smoke" if args.smoke else "full"
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "seconds": args.seconds, "trace": args.trace,
                             "size": self.size}
        self.failures: list[str] = []
        self.writer = None
        self.srv = None
        self.spark = None
        self.tracer = None
        self.pipeline: dict = {}

    # setup -------------------------------------------------------------------

    def setup(self) -> None:
        import filodb_spark
        from filodb_spark import http_server
        from filodb_spark.promql import PromQLEngine
        from filodb_spark.promql.compiler import TsStore
        from perfbench import fixtures, trace, workloads

        args, work = self.args, self.args.work
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        t0 = time.perf_counter()
        self.spark = filodb_spark.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()

        self.writer = workloads.Writer(
            self.spark, os.path.join(work, "ingest"), args.seed,
            workloads.INGEST_BODIES[self.size])
        # the first batches warm the write path while the store is built
        # and the references are taken; answers do not depend on what
        # runs beside them
        warm_writer = threading.Thread(
            target=lambda: self.writer.run(batches=WARM_BATCHES))
        warm_writer.start()
        n_series, n_samples, n_ns = workloads.STORE_SIZE[self.size]
        self.fixture = fixtures.Fixture(args.seed, n_series, n_samples, n_ns)
        df = self.fixture.to_spark(self.spark, cpus).cache()
        df.count()
        engine = PromQLEngine(self.spark, TsStore(df))
        t2 = time.perf_counter()

        self.tracer = trace.Tracer(self.spark) if args.trace else None
        make = http_server.make_handler
        if self.tracer is not None:
            http_server.make_handler = trace.traced_handler(make, self.tracer)
        try:
            self.srv = http_server.serve(engine)
        finally:
            http_server.make_handler = make
        self.port = self.srv.server_address[1]

        self.mix = workloads.dashboard_mix(self.fixture,
                                           random.Random(args.seed))
        self.writer.tracer = self.tracer
        self.refs, fails = workloads.warm_references(
            self.port, self.mix, self.fixture, log)
        self.failures += fails
        warm_writer.join()
        t3 = time.perf_counter()
        self.detail["setup"] = {"spark_start_s": t1 - t0,
                                "fixture_s": t2 - t1, "warm_s": t3 - t2}

    # timed window ---------------------------------------------------------------

    def window(self, seconds: float, tag: str):
        """One timed window: the clients (and, on ingest, the writer) run
        for ``seconds``. Returns (client result, ingest samples per
        second or None)."""
        from perfbench import workloads
        stream = workloads.request_stream(self.mix)
        ingest = []
        wt = None
        if self.args.workload == "ingest":
            wt = threading.Thread(
                target=lambda: ingest.append(self.writer.run(seconds)))
            wt.start()
        res = workloads.closed_loop(self.port, stream, self.refs,
                                    CLIENTS[self.args.workload], seconds,
                                    rid_prefix=tag)
        if wt is not None:
            wt.join()
        return res, (ingest[0] if ingest else None)

    def run(self):
        args = self.args
        if args.trace:
            # untraced then traced, back to back: the difference is the
            # tracing overhead
            base, _ = self.window(args.seconds, "u")
            self.failures += base.failures
            self.detail["untraced_p50_ms"] = self._lat_stats(base)[0]
            self.tracer.install()
            self.tracer.active = True
        res, ingest = self.window(args.seconds, "t" if args.trace else "r")
        if ingest is None:
            ingest = self.writer.run(batches=PROBE_BATCHES)
        if args.trace:
            from perfbench import pipeline
            self.pipeline, fails = pipeline.run(
                self.spark, os.path.join(args.work, "pipeline"), args.seed)
            self.failures += fails
            self.tracer.active = False
            self.tracer.uninstall()
        self.failures += res.failures + self.writer.verify()
        self.result = res
        self.ingest = ingest
        return res

    # metrics ------------------------------------------------------------------

    @staticmethod
    def _lat_stats(res) -> tuple[float, float, float]:
        """(p50 ms, p90 ms, successful requests per second)."""
        lat = [ms for _k, _kind, ms, _rid in res.latencies]
        if not lat:
            raise RuntimeError("no successful request in the timed window")
        return hd_quantile(lat, 0.5), hd_quantile(lat, 0.9), res.rate()

    def end_to_end(self, setup_s: float, rss_mb: float) -> dict:
        p50, p90, rps = self._lat_stats(self.result)
        lat = [ms for _k, _kind, ms, _rid in self.result.latencies]
        self.detail["requests"] = len(lat)
        self.detail["requests_beyond_p90"] = sum(ms > p90 for ms in lat)
        return {"query_p50_ms": p50, "query_p90_ms": p90, "query_rps": rps,
                "ingest_samples_per_s": self.ingest,
                "stored_bytes_per_sample": (self.writer.stored_bytes()
                                            / self.writer.sent_samples),
                "setup_s": setup_s, "peak_rss_mb": rss_mb}

    def per_layer(self) -> dict:
        tr, res = self.tracer, self.result
        spans = tr.self_times()
        by_rid: dict = {}
        for s in spans:
            by_rid.setdefault(s["rid"], []).append(s)
        lat = {rid: (key, kind, ms) for key, kind, ms, rid in res.latencies}

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        def per_request(name, kinds=("query_range", "query"), field="ms"):
            return [sum(s[field] for s in by_rid.get(rid, ())
                        if s["name"] == name)
                    for rid, (_k, kind, _ms) in lat.items() if kind in kinds]

        queries = [rid for rid, (_k, kind, _ms) in lat.items()
                   if kind in ("query_range", "query")]
        api_ms = {rid: sum(s["ms"] for s in by_rid.get(rid, ())
                           if s["name"].startswith("api.query")
                           or s["name"].startswith("metadata."))
                  for rid in lat}
        build = per_request("compiler.build")
        build_share = [b / lat[rid][2] for b, rid in zip(build, queries)]
        render_self = per_request("api.render", field="self_ms")

        # Spark counts per request shape: the value most requests of the
        # shape gave (the timed requests of a shape agree once warm)
        shapes: dict = {}
        for rid in queries:
            c = tr.spark_counts.get(rid)
            if c is not None:
                c = dict(c, points=tr.points.get(rid, 0))
                shapes.setdefault(lat[rid][0], []).append(
                    json.dumps(c, sort_keys=True))
        shape_counts = {k: json.loads(statistics.mode(v))
                        for k, v in sorted(shapes.items())}
        self.detail["spark_counts_by_shape"] = shape_counts

        def shape_mean(field):
            vals = [c[field] for c in shape_counts.values()]
            return sum(vals) / len(vals) if vals else 0.0

        parse_calls = [sum(1 for s in by_rid.get(rid, ())
                           if s["name"] == "parser.parse") for rid in queries]
        meta = [sum(s["ms"] for s in by_rid.get(rid, ())
                    if s["name"].startswith("metadata."))
                for rid, (_k, kind, _ms) in lat.items() if kind == "metadata"]

        w = self.writer
        wspans = [s for s in spans if (s["rid"] or "").startswith("w")]
        n_batches = len({s["rid"] for s in wspans})

        def per_batch(name):
            tot = sum(s["ms"] for s in wspans if s["name"] == name)
            return tot / n_batches if n_batches else 0.0

        m = {
            "http_server.self_ms_p50": med(
                [lat[r][2] - api_ms[r] for r in lat]),
            "http_server.in_flight_max": tr.in_flight_max,
            "parser.parse_ms_p50": med(per_request("parser.parse")),
            "parser.calls_per_request": (sum(parse_calls) / len(parse_calls)
                                         if parse_calls else 0.0),
            "compiler.build_ms_p50": med(build),
            "compiler.build_share": med(build_share),
            "catalyst.plan_ms_p50": med(per_request("catalyst.plan")),
            "spark.exec_ms_p50": med(per_request("spark.exec")),
            "spark.jobs_per_request": shape_mean("jobs"),
            "spark.stages_per_request": shape_mean("stages"),
            "spark.tasks_per_request": shape_mean("tasks"),
            "spark.shuffle_bytes_per_request": shape_mean("shuffle_bytes"),
            "api.render_ms_p50": med(render_self),
            "api.points_per_response": shape_mean("points"),
            "metadata.ms_p50": med(meta),
            "remote_write.decode_ms_per_batch": per_batch(
                "remote_write.decode"),
            "sources.write_ms_per_batch": per_batch("sources.write"),
            "sources.files_per_batch": statistics.mean(
                w.files_added[WARM_BATCHES:]),
            "partkey.update_ms_per_batch": per_batch("partkey.update"),
            **self.pipeline,
            "setup.spark_start_s": self.detail["setup"]["spark_start_s"],
            "setup.fixture_s": self.detail["setup"]["fixture_s"],
            "setup.warm_s": self.detail["setup"]["warm_s"],
            "trace.overhead_p50_ms": (self._lat_stats(res)[0]
                                      - self.detail["untraced_p50_ms"]),
        }
        return m

    # teardown -----------------------------------------------------------------

    def close(self) -> None:
        """Stop the server, Spark and the JVM, and wait for every process
        this run started."""
        if self.srv is not None:
            self.srv.shutdown()
            self.srv.server_close()
        kids = children_of(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext
            gw = SparkContext._gateway
            self.spark.stop()
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=10)
                except Exception:              # noqa: BLE001
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 10
        while kids and time.time() < deadline:
            kids = {p for p in kids if os.path.exists(f"/proc/{p}")
                    and _state(p) != "Z"}
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs; assert every metric is emitted")
    args = ap.parse_args(argv)
    t_proc = process_start_wall()

    if not os.path.isdir(os.path.join(ROOT, "filodb_spark")):
        log(f"no filodb_spark package next to {HERE}; run from a checkout")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.abspath(".perfbench")
    args.work = work
    cpus = len(os.sched_getaffinity(0))
    configure_env(os.path.join(work, "run"), cpus)
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)

    import bench                     # calibration anchors, not a copy
    env = {"nproc": cpus,
           "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
           "SPARK_GRAFT_DRIVER_MEM": os.environ["SPARK_GRAFT_DRIVER_MEM"],
           "loadavg_start": os.getloadavg()}

    b = Bench(args)
    try:
        b.setup()
        setup_s = time.time() - t_proc
        log(f"set up in {setup_s:.1f}s")
        res = b.run()
        log("timed run done")
        from pyspark import SparkContext
        rss_mb = (vm_hwm_kb("self")
                  + vm_hwm_kb(SparkContext._gateway.proc.pid)) / 1024
        if args.trace:
            metrics = b.per_layer()
            names = BENCH_SPEC["per_layer"]
            b.tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = b.end_to_end(setup_s, rss_mb)
            names = BENCH_SPEC["end_to_end"]
        env["loadavg_end"] = os.getloadavg()
        env["calibration"] = bench.calibration_probe()
        log("calibration probe done")
    finally:
        b.close()
        log("stopped")

    if args.smoke:
        _smoke_checks(b, metrics, names)
    extra = len(b.failures) - len(res.failures)  # non-request checks
    attempted, failed = res.attempted + extra, res.failed + extra
    b.detail.update(env=env, latencies=res.latencies, failures=b.failures,
                    metrics=metrics, setup_s=setup_s, peak_rss_mb=rss_mb,
                    attempted=attempted, error_ratio=failed / attempted)
    with open(os.path.join(out_dir, f"{args.workload}-{args.seed}-"
                           f"t{args.trace}.json"), "w") as f:
        json.dump(b.detail, f, indent=1, default=str)
    for why in b.failures[:20]:
        log(f"FAIL {why}")
    print(json.dumps({
        "correct": not b.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in names}}))
    return 0


def _smoke_checks(b: Bench, metrics: dict, names: list) -> None:
    """Every named metric is emitted with a unit, and a deliberately
    corrupted reference is caught by the correctness gate."""
    from perfbench import workloads
    missing = [m["name"] for m in names if m["name"] not in metrics]
    assert not missing, f"metrics not emitted: {missing}"
    assert all(m.get("unit") for m in names)
    req = next(r for r in b.mix if r.oracle is not None)
    good = b.refs[req.key]
    assert workloads.oracle_view(req, good) == \
        workloads.oracle_view(req, req.oracle(b.fixture))
    bad = json.loads(json.dumps(good))
    (bad["result"][0].get("values") or [bad["result"][0]["value"]])[0][1] \
        += "1"
    assert bad != good, "corrupted reference must differ"
    assert workloads.oracle_view(req, bad) != \
        workloads.oracle_view(req, req.oracle(b.fixture)), \
        "corrupted reference must trip the oracle check"
    log("smoke: every metric emitted; corrupted reference caught")


if __name__ == "__main__":
    sys.exit(main())
