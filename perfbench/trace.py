"""Span tracer for the traced run.

Wraps the module attributes the engine looks up at call time, so the
server and the writer run the repo's own code paths unchanged; the
wrappers only record spans. A span is (id, parent, request id, name,
start, end); spans stay in memory and are written out when the run
ends. Spark counts for a request are read from the job group that
``http_server.run_with_timeout`` set on the handler thread.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

RID_HEADER = "X-Perfbench-Rid"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.spans: list[tuple] = []
        self.spark_counts: dict = {}       # rid -> counts of its job group
        self.points: dict = {}             # rid -> points in its response
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._in_flight = 0
        self.in_flight_max = 0
        self._saved: list = []

    # ---- spans ------------------------------------------------------------

    @property
    def rid(self):
        return getattr(self._tls, "rid", None)

    @rid.setter
    def rid(self, value):
        self._tls.rid = value
        self._tls.stack = []

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, parent, self.rid, name, t0, t1))

    @contextmanager
    def in_flight(self):
        with self._lock:
            self._in_flight += 1
            self.in_flight_max = max(self.in_flight_max, self._in_flight)
        try:
            yield
        finally:
            with self._lock:
                self._in_flight -= 1

    def self_times(self) -> list[dict]:
        """Spans with their self time (duration minus child coverage)."""
        child_ms: dict = defaultdict(float)
        for _sid, parent, _rid, _name, t0, t1 in self.spans:
            if parent is not None:
                child_ms[parent] += (t1 - t0) * 1000
        return [{"id": sid, "parent": parent, "rid": rid, "name": name,
                 "ms": (t1 - t0) * 1000,
                 "self_ms": (t1 - t0) * 1000 - child_ms[sid]}
                for sid, parent, rid, name, t0, t1 in self.spans]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for row in self.self_times():
                f.write(json.dumps(row) + "\n")

    # ---- Spark counts --------------------------------------------------------

    def record_spark_counts(self) -> None:
        """Jobs, stages, tasks and shuffle bytes of the job
        group set on this thread. Waits for the listener bus first so
        every stage of the group is final in the status store."""
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        if group is None or self.rid is None:
            return
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        stages = tasks = shuffle = 0
        for stage_id in sorted({s for j in jobs
                                for s in tracker.getJobInfo(j).stageIds}):
            st = store.lastStageAttempt(stage_id)
            if str(st.status()) != "COMPLETE":
                continue                   # skipped: reused shuffle output
            stages += 1
            tasks += st.numTasks()
            shuffle += st.shuffleWriteBytes()
        self.spark_counts[self.rid] = {"jobs": len(jobs), "stages": stages,
                                       "tasks": tasks, "shuffle_bytes": shuffle}

    # ---- wrapping -------------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _timed(self, owner, attr: str, name: str, after=None):
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **k):
            if not tracer.active:
                return orig(*a, **k)
            with tracer.span(name):
                out = orig(*a, **k)
            if after is not None:
                out = after(out)
            return out
        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        """Wrap every traced entry point (idempotent per Tracer)."""
        if self._saved:
            return
        from filodb_spark import api, metadata, partkey, remote_write
        from filodb_spark.promql import compiler
        from filodb_spark.sources import table
        tracer = self

        for attr, name in (("query_range_api", "api.query_range"),
                           ("query_api", "api.query")):
            orig_api = getattr(api, attr)

            def api_wrapper(*a, _orig=orig_api, _name=name, **k):
                if not tracer.active:
                    return _orig(*a, **k)
                if k.get("stats"):
                    raise AssertionError("traced requests never use stats=true")
                with tracer.in_flight(), tracer.span(_name):
                    out = _orig(*a, **k)
                tracer.record_spark_counts()
                return out
            self._patch(api, attr, api_wrapper)

        for attr in ("to_matrix_response", "to_vector_response"):
            orig_render = getattr(api, attr)

            def render_wrapper(df, *a, _orig=orig_render, **k):
                if not tracer.active or "hist" in df.columns:
                    return _orig(df, *a, **k)
                with tracer.span("api.render"):
                    with tracer.span("spark.exec"):
                        rows = df.collect()
                    out = _orig(_Collected(df.columns, rows), *a, **k)
                points = sum(len(r.get("values", ())) or 1
                             for r in out["data"]["result"])
                tracer.points[tracer.rid] = points
                return out
            self._patch(api, attr, render_wrapper)

        orig_qr = compiler.PromQLEngine.query_range

        def query_range(engine, *a, **k):
            if not tracer.active or getattr(tracer._tls, "building", False):
                return orig_qr(engine, *a, **k)
            tracer._tls.building = True
            try:
                with tracer.span("compiler.build"):
                    df = orig_qr(engine, *a, **k)
            finally:
                tracer._tls.building = False
            with tracer.span("catalyst.plan"):
                # lazy val on the same QueryExecution the action runs
                df._jdf.queryExecution().executedPlan()
            return df
        self._patch(compiler.PromQLEngine, "query_range", query_range)
        self._timed(compiler, "parse", "parser.parse")

        for attr in ("series", "label_values"):
            self._timed(metadata, attr, "metadata.build",
                        after=lambda df: _TimedCollect(df, tracer))

        self._timed(remote_write, "frames_to_records", "remote_write.decode")
        self._timed(table, "write_series_table", "sources.write")
        self._timed(partkey, "append_partkey_updates", "partkey.update")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


class _Collected:
    """Rows already collected, shaped like the DataFrame the render
    helpers read (``columns`` and ``collect()``)."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


class _TimedCollect:
    """Metadata result whose ``collect()`` (run by the HTTP handler) is
    recorded as the metadata execution span."""

    def __init__(self, df, tracer: Tracer):
        self._df = df
        self._tracer = tracer

    def collect(self):
        with self._tracer.in_flight(), self._tracer.span("metadata.exec"):
            return self._df.collect()


def traced_handler(make_handler, tracer: Tracer):
    """``http_server.make_handler`` whose handlers tag the thread with
    the client's request id and record the server-side request span."""

    def factory(*a, **k):
        base = make_handler(*a, **k)

        class Traced(base):
            def do_GET(self):
                if not tracer.active:
                    return base.do_GET(self)
                tracer.rid = self.headers.get(RID_HEADER)
                with tracer.span("http.request"):
                    return base.do_GET(self)
        return Traced
    return factory
