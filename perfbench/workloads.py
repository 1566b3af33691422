"""The benchmark's workloads: request mixes, the closed-loop HTTP
clients, the remote-write writer and the correctness gate.

Each workload builds its store from the seed, serves it with
``http_server.serve`` in this process and warms every distinct request
serially. The serial answers become the references that every timed
answer must equal; a few of them are also checked against the numpy
oracle in ``fixtures``.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import shutil
import statistics
import threading
import time
import urllib.parse
from dataclasses import dataclass, field

from perfbench import fixtures as fx_mod
from perfbench.trace import RID_HEADER

# the served store: (series, samples at 10 s, namespaces)
STORE_SIZE = {"full": (1000, 720, 10), "smoke": (40, 360, 2)}
INGEST_BODIES = {"full": 4, "smoke": 1}       # WriteRequests per batch
INGEST_SERIES_PER_BODY = 100
INGEST_SAMPLES_PER_SERIES = 10                # 1,000 samples per body


@dataclass(frozen=True)
class Request:
    key: str                  # distinct request name (one per mix entry)
    endpoint: str             # path under /api/v1/
    params: tuple             # ((name, value), ...)
    oracle: object = None     # fixture -> expected answer, or None

    def path(self) -> str:
        return f"/api/v1/{self.endpoint}?" + urllib.parse.urlencode(self.params)

    @property
    def kind(self) -> str:
        return self.endpoint if self.endpoint in ("query_range", "query") \
            else "metadata"


def _range(key, q, start, end, step=60, oracle=None):
    return Request(key, "query_range",
                   (("query", q), ("start", start), ("end", end),
                    ("step", step)), oracle)


def dashboard_mix(fx: fx_mod.Fixture, rng: random.Random) -> list[Request]:
    """About 70% narrow query_range, 15% instant query and 15% metadata,
    drawn with repetition from a bounded selector set. The seed picks
    the namespaces and instances; the shapes and their order are
    fixed."""
    g, c = fx_mod.GAUGE, fx_mod.COUNTER
    hosts = fx.n_series // 2
    ns_a, ns_b = (f"App-{n}" for n in rng.sample(range(fx.n_ns), 2))
    h1 = f"i-{rng.randrange(hosts)}"
    end = fx.end_ms / 1000
    start = end - 55 * 60
    step = 60
    raw_ns = _range("raw_ns", f'{g}{{_ws_="demo",_ns_="{ns_a}"}}',
                    start, end,
                    oracle=lambda f: fx_mod.oracle_raw_range(
                        f, {"__name__": g, "_ns_": ns_a}, start, end, step))
    raw_inst = _range("raw_instance", f'{g}{{instance="{h1}"}}', start, end,
                      oracle=lambda f: fx_mod.oracle_raw_range(
                          f, {"__name__": g, "instance": h1},
                          start, end, step))
    sum_by = _range("sum_by_job", f'sum by (job) ({g}{{_ns_="{ns_b}"}})',
                    start, end,
                    oracle=lambda f: fx_mod.oracle_sum_by_range(
                        f, "job", {"__name__": g, "_ns_": ns_b},
                        start, end, step))
    sum_rate = _range("sum_rate_ns", f'sum(rate({c}{{_ns_="{ns_a}"}}[5m]))',
                      start, end)
    inst = Request("instant_raw", "query",
                   (("query", f'{c}{{instance="{h1}"}}'), ("time", end)),
                   lambda f: fx_mod.oracle_raw_instant(
                       f, {"__name__": c, "instance": h1}, end))
    series = Request("series", "series",
                     (("match[]", f'{g}{{_ns_="{ns_b}"}}'),),
                     lambda f: fx_mod.oracle_series(
                         f, {"__name__": g, "_ns_": ns_b}))
    values = Request("label_values", "label/instance/values",
                     (("match[]", f'{g}{{_ns_="{ns_a}"}}'),),
                     lambda f: fx_mod.oracle_label_values(
                         f, "instance", {"__name__": g, "_ns_": ns_a}))
    # one pass: 14 query_range, 3 query, 3 metadata over 7 distinct
    # requests, interleaved in a fixed order so that every prefix of a
    # pass has the same shapes whatever the seed
    return [raw_ns, sum_rate, series, sum_by, raw_inst, inst, sum_rate,
            raw_ns, values, sum_by, raw_inst, inst, raw_ns, sum_rate,
            series, sum_by, raw_ns, sum_rate, inst, sum_by]


def request_stream(mix: list[Request]):
    """Endless sequence of passes over the mix, in its order."""
    while True:
        yield from mix


# ---- answers ---------------------------------------------------------------

def normalize(req: Request, body: dict):
    """The part of a response the gate compares. ``series`` rows come
    back in Spark's row order, so they are compared as a sorted list."""
    if body.get("status") != "success":
        return body
    data = body["data"]
    if req.endpoint == "series":
        return sorted(tuple(sorted(d.items())) for d in data)
    return data


def oracle_view(req: Request, answer):
    """The answer in the oracle's shape (series without ``_type_``)."""
    if req.endpoint == "series":
        return sorted(tuple(kv for kv in labels if kv[0] != "_type_")
                      for labels in answer)
    return json.loads(json.dumps(answer))


def fetch(port: int, req: Request, rid: str | None = None):
    """One GET; returns (status, parsed body)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", req.path(),
                     headers={RID_HEADER: rid} if rid else {})
        resp = conn.getresponse()
        return resp.status, json.loads(resp.read())
    finally:
        conn.close()


def warm_references(port: int, mix: list[Request], fixture, log) -> tuple:
    """Serial warm pass: one answer per distinct request becomes its
    reference; oracle-backed requests are checked here. Returns
    (references, failures)."""
    refs, failures = {}, []
    for req in {r.key: r for r in mix}.values():
        t0 = time.perf_counter()
        status, body = fetch(port, req)
        log(f"warm {req.key}: {time.perf_counter() - t0:.2f}s")
        ans = normalize(req, body)
        if status != 200:
            failures.append(f"{req.key}: HTTP {status} {body}")
            continue
        refs[req.key] = ans
        if req.oracle is not None and \
                oracle_view(req, ans) != oracle_view(req, req.oracle(fixture)):
            failures.append(f"{req.key}: differs from the numpy oracle")
    log(f"warm pass: {len(refs)} references, {len(failures)} failures")
    return refs, failures


@dataclass
class LoopResult:
    latencies: list = field(default_factory=list)   # (key, kind, ms, rid)
    intervals: list = field(default_factory=list)   # (start, end) of each
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    t_start: float = 0.0
    deadline: float = 0.0

    def rate(self) -> float:
        """Successful requests per second of the window. A request that
        straddles the window's end counts with the share of its time
        inside it, so the figure does not jump by whole requests."""
        inside = sum((min(t1, self.deadline) - max(t0, self.t_start))
                     / (t1 - t0) for t0, t1 in self.intervals
                     if t0 < self.deadline)
        return inside / (self.deadline - self.t_start)


def closed_loop(port: int, stream, refs: dict, n_clients: int,
                seconds: float, rid_prefix: str = "r") -> LoopResult:
    """``n_clients`` threads, each sending its next request as soon as
    its previous answer arrives, until ``seconds`` have passed. Every
    answer must equal its reference."""
    lock = threading.Lock()
    out = LoopResult()
    counter = iter(range(1 << 62))
    out.t_start = time.perf_counter()
    deadline = out.deadline = out.t_start + seconds

    def client():
        while time.perf_counter() < deadline:
            with lock:
                req = next(stream)
                rid = f"{rid_prefix}{next(counter)}"
            t0 = time.perf_counter()
            try:
                status, body = fetch(port, req, rid)
                ok = status == 200 and normalize(req, body) == refs[req.key]
                why = None if ok else f"{req.key}: HTTP {status} or wrong answer"
            except Exception as ex:                 # noqa: BLE001
                ok, why = False, f"{req.key}: {type(ex).__name__}: {ex}"
            t1 = time.perf_counter()
            with lock:
                out.attempted += 1
                if ok:
                    out.latencies.append((req.key, req.kind,
                                          (t1 - t0) * 1000, rid))
                    out.intervals.append((t0, t1))
                else:
                    out.failed += 1
                    out.failures.append(why)

    threads = [threading.Thread(target=client) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out


# ---- remote-write ingest ---------------------------------------------------

class Writer:
    """Closed-loop remote-write ingest into a parquet series table and
    its part-key index: decode with ``frames_to_records``, append with
    ``write_series_table(mode="append")`` and
    ``append_partkey_updates``. Bodies are built from the seed."""

    def __init__(self, spark, root: str, seed: int, bodies: int,
                 tracer=None):
        self.spark = spark
        self.table = os.path.join(root, "series")
        self.partkey = os.path.join(root, "series_partkey")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        self.seed = seed
        self.bodies = bodies
        self.tracer = tracer
        self.batch = 0
        self.sent_samples = 0
        self.sent_value_sum = 0.0
        self.batch_ms: list = []
        self.files_added: list = []

    def _bodies(self, b: int) -> list[bytes]:
        from filodb_spark.remote_write import (encode_write_request,
                                               snappy_compress)
        out = []
        n = INGEST_SAMPLES_PER_SERIES
        for body in range(self.bodies):
            series = []
            for k in range(INGEST_SERIES_PER_BODY):
                s = body * INGEST_SERIES_PER_BODY + k
                labels = {"__name__": "ingest_samples",
                          "_ws_": "demo", "_ns_": f"App-{s % 4}",
                          "instance": f"w-{s}", "job": f"job-{s % 3}"}
                samples = []
                for j in range(n):
                    idx = b * n + j
                    v = float((s * 13 + idx * 7 + self.seed) % 100)
                    samples.append((fx_mod.T0_MS + idx * fx_mod.STEP_MS, v))
                    self.sent_value_sum += v
                series.append((labels, samples))
            self.sent_samples += len(series) * n
            out.append(snappy_compress(encode_write_request(series)))
        return out

    def _files(self) -> int:
        return sum(len([f for f in fs if f.endswith(".parquet")])
                   for _, _, fs in os.walk(self.table))

    def write_batch(self) -> None:
        from filodb_spark import partkey, remote_write
        from filodb_spark.sources import table
        tr = self.tracer
        bodies = self._bodies(self.batch)
        if tr is not None and tr.active:
            tr.rid = f"w{self.batch}"
        files_before = self._files()
        t0 = time.perf_counter()
        frames = self.spark.createDataFrame([(b,) for b in bodies],
                                            "body binary")
        recs = remote_write.frames_to_records(frames).persist()
        if tr is not None and tr.active:
            with tr.span("remote_write.decode"):
                recs.count()
        else:
            recs.count()
        table.write_series_table(recs, self.table, mode="append")
        partkey.append_partkey_updates(recs, self.partkey)
        recs.unpersist()
        self.batch_ms.append((time.perf_counter() - t0) * 1000)
        self.files_added.append(self._files() - files_before)
        self.batch += 1

    def run(self, seconds: float = float("inf"),
            batches: int | None = None) -> float:
        """Closed loop for ``seconds`` or ``batches`` batches, whichever
        ends first. Every batch carries the same samples; returns samples
        per second of the median batch."""
        k0 = len(self.batch_ms)
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds and \
                (batches is None or len(self.batch_ms) - k0 < batches):
            self.write_batch()
        per_batch = (self.bodies * INGEST_SERIES_PER_BODY
                     * INGEST_SAMPLES_PER_SERIES)
        return per_batch / (statistics.median(self.batch_ms[k0:]) / 1000)

    def verify(self) -> list[str]:
        """Row count and value sum of the table, and the part-key
        sample count, must match what was sent."""
        from pyspark.sql import functions as F
        row = self.spark.read.parquet(self.table).agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")).first()
        pk = self.spark.read.parquet(self.partkey).agg(
            F.sum("samples").alias("n")).first()
        errs = []
        if row["n"] != self.sent_samples or row["v"] != self.sent_value_sum:
            errs.append(f"series table holds {row['n']} rows / sum "
                        f"{row['v']}, sent {self.sent_samples} / "
                        f"{self.sent_value_sum}")
        if pk["n"] != self.sent_samples:
            errs.append(f"part-key index counts {pk['n']} samples, "
                        f"sent {self.sent_samples}")
        return errs

    def stored_bytes(self) -> int:
        return sum(os.path.getsize(os.path.join(d, f))
                   for root in (self.table, self.partkey)
                   for d, _, fs in os.walk(root) for f in fs
                   if not f.startswith(".") and not f.startswith("_"))
