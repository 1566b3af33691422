"""Seeded time-series fixtures and their numpy oracle.

Every sample is a pure integer function of (seed, series index, sample
index), so Spark builds the fixture with column expressions (no Python
rows cross py4j) and numpy recomputes any slice of it exactly: values
are whole numbers, which keeps sums exact in both engines.

Series ``s`` carries five labels: ``__name__`` (``heap_usage`` gauge for
even ``s``, ``http_requests_total`` counter for odd ``s``), ``_ws_``,
``_ns_``, ``instance`` and ``job``. Samples sit on a 10 s grid starting
at ``T0_MS``.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

T0_MS = 1_700_000_000_000
STEP_MS = 10_000
GAUGE = "heap_usage"
COUNTER = "http_requests_total"
JOBS = 3


@dataclass(frozen=True)
class Fixture:
    seed: int
    n_series: int
    n_samples: int
    n_ns: int

    @property
    def end_ms(self) -> int:
        """Timestamp of the last sample."""
        return T0_MS + (self.n_samples - 1) * STEP_MS

    # ---- label scheme (shared by Spark and numpy) ----------------------

    def labels(self, s: int) -> dict:
        host = s // 2
        return {"__name__": GAUGE if s % 2 == 0 else COUNTER,
                "_ws_": "demo",
                "_ns_": f"App-{host % self.n_ns}",
                "instance": f"i-{host}",
                "job": f"job-{host % JOBS}"}

    def series_where(self, **want) -> list[int]:
        return [s for s in range(self.n_series)
                if all(self.labels(s)[k] == v for k, v in want.items())]

    # ---- values -----------------------------------------------------------

    def values(self, s: int, i: np.ndarray) -> np.ndarray:
        """Sample values of series ``s`` at sample indices ``i``."""
        i = np.asarray(i, dtype=np.int64)
        if s % 2 == 0:
            return ((s * 7919 + i * 104729 + self.seed * 31337) % 1000
                    ).astype(np.float64)
        k = 5 + (s * 131 + self.seed * 17) % 20
        return (i * k + (i * 7 + s + self.seed) % 5).astype(np.float64)

    def value_at(self, s: int, t_ms: int) -> float | None:
        """Prometheus instant-selector value at ``t_ms`` (last sample in
        the 5 m lookback). Every step the workloads use lies on the
        sample grid, so it is the sample at ``t_ms`` itself."""
        i = (t_ms - T0_MS) // STEP_MS
        if (t_ms - T0_MS) % STEP_MS or not 0 <= i < self.n_samples:
            return None
        return float(self.values(s, np.array([i]))[0])

    def total_value_sum(self) -> float:
        idx = np.arange(self.n_samples)
        return float(sum(self.values(s, idx).sum()
                         for s in range(self.n_series)))

    # ---- Spark ------------------------------------------------------------

    def to_spark(self, spark, partitions: int):
        """The fixture as a (labels, ts, value) DataFrame."""
        from pyspark.sql import functions as F
        n = self.n_samples
        df = spark.range(0, self.n_series * n, numPartitions=partitions)
        s = (F.col("id") / n).cast("long")
        i = F.col("id") % n
        host = (s / 2).cast("long")
        gauge = (s * 7919 + i * 104729 + self.seed * 31337) % 1000
        k = (s * 131 + self.seed * 17) % 20 + 5
        counter = i * k + (i * 7 + s + self.seed) % 5
        even = s % 2 == 0
        labels = F.create_map(
            F.lit("__name__"), F.when(even, F.lit(GAUGE))
            .otherwise(F.lit(COUNTER)),
            F.lit("_ws_"), F.lit("demo"),
            F.lit("_ns_"), F.concat(F.lit("App-"),
                                    (host % self.n_ns).cast("string")),
            F.lit("instance"), F.concat(F.lit("i-"), host.cast("string")),
            F.lit("job"), F.concat(F.lit("job-"),
                                   (host % JOBS).cast("string")))
        return df.select(
            labels.alias("labels"),
            (F.lit(T0_MS) + i * STEP_MS).alias("ts"),
            F.when(even, gauge).otherwise(counter).cast("double")
            .alias("value"))


# ---- numpy oracle: Prometheus JSON answers over the fixture --------------

def _fmt(v: float) -> str:
    return str(int(v)) if v == int(v) else repr(v)


def _steps(start_s: float, end_s: float, step_s: float) -> list[int]:
    lo, hi, st = int(start_s * 1000), int(end_s * 1000), int(step_s * 1000)
    return list(range(lo, hi + 1, st))


def _sorted(result: list) -> list:
    return sorted(result, key=lambda r: sorted(r["metric"].items()))


def oracle_raw_range(fx: Fixture, match: dict, start_s, end_s, step_s):
    """``metric{l="v",...}`` as a range query: one matrix row per
    matching series."""
    out = []
    for s in fx.series_where(**match):
        vals = [(t / 1000.0, _fmt(v)) for t in _steps(start_s, end_s, step_s)
                if (v := fx.value_at(s, t)) is not None]
        if vals:
            out.append({"metric": fx.labels(s), "values": vals})
    return {"resultType": "matrix", "result": _sorted(out)}


def oracle_sum_by_range(fx: Fixture, by: str, match: dict,
                        start_s, end_s, step_s):
    """``sum by (<by>) (metric{...})`` as a range query."""
    groups: dict = {}
    for s in fx.series_where(**match):
        groups.setdefault(fx.labels(s)[by], []).append(s)
    out = []
    for g, members in groups.items():
        vals = []
        for t in _steps(start_s, end_s, step_s):
            got = [v for s in members if (v := fx.value_at(s, t)) is not None]
            if got:
                vals.append((t / 1000.0, _fmt(float(sum(got)))))
        out.append({"metric": {by: g}, "values": vals})
    return {"resultType": "matrix", "result": _sorted(out)}


def oracle_raw_instant(fx: Fixture, match: dict, time_s):
    t = int(time_s * 1000)
    out = [{"metric": fx.labels(s), "value": (t / 1000.0, _fmt(v))}
           for s in fx.series_where(**match)
           if (v := fx.value_at(s, t)) is not None]
    return {"resultType": "vector", "result": _sorted(out)}


def oracle_series(fx: Fixture, match: dict) -> list:
    """``/api/v1/series`` label sets, without the virtual ``_type_``."""
    return sorted((tuple(sorted(fx.labels(s).items()))
                   for s in fx.series_where(**match)))


def oracle_label_values(fx: Fixture, label: str, match: dict) -> list:
    return sorted({fx.labels(s)[label] for s in fx.series_where(**match)})
