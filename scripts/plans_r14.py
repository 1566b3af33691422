"""Capture the plans/r14 artifacts for this round's three code changes.

1. Scan memo (PromQLEngine._scan, commit 2cd00ae) — claimed PLAN-NEUTRAL:
   the memo returns the same logical plan the un-memoized path builds.
   Evidence: prom_raw / prom_sum_rate explained on a fresh engine's
   first build (*_memo_off: a cold memo misses, so the fragment is
   built as on the r13 path) and on its second build of the same
   selector (*_memo_on: the memo hits). The two files must differ only
   in expression ids.
2. Events-cache prev_attached guard (promql_events._events_cached,
   commits 6432d00 + 2cd00ae) — the NaN/null-freeness check moved from
   the DEDUPED frame (re-ran the dedupe HashAggregate + Exchange once
   per cache build) to the RAW frame (map-only scan):
   cache_guard_check_{before,after}.txt.
3. dedup_clusters fixpoint probe null-safety (ADVICE item, 6432d00) —
   `lbl != __prev` -> `~eqNullSafe`: the Filter predicate changes, the
   shape (codegen filter over the checkpoint scan, no join/Exchange)
   must not: dedup_clusters_probe_{before,after}.txt.

Writes into plans/r14/. Run serially (spins one local Spark session).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "plans", "r14")


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def _write(name: str, df) -> None:
    with open(os.path.join(OUT, f"{name}.txt"), "w") as f:
        f.write(_plan(df))
    print(f"wrote {name}.txt")


def main() -> None:
    import filodb_spark
    from filodb_spark.promql import PromQLEngine
    from filodb_spark.promql.compiler import TsStore

    os.makedirs(OUT, exist_ok=True)
    spark = filodb_spark.get_spark("plans-r14")
    spark.sparkContext.setLogLevel("ERROR")

    # --- 1. scan memo: memo-off vs memo-on-and-hit plans -----------------
    t0_ms = 1_700_000_000_000
    rows = []
    for s in range(20):
        labels = {"__name__": "heap_usage0", "_ws_": "demo",
                  "_ns_": f"App-{s % 8}", "instance": str(s)}
        for i in range(120):
            v = 50 + 30 * math.sin(2 * math.pi * i / 90)
            rows.append((labels, t0_ms + i * 10_000, float(v)))
    df = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    end = t0_ms + 120 * 10_000
    start = end - 15 * 60_000
    queries = {
        "prom_raw": 'heap_usage0{_ws_="demo",_ns_="App-2"}',
        "prom_sum_rate": 'sum(rate(heap_usage0{_ws_="demo"}[5m]))',
    }
    for name, q in queries.items():
        eng = PromQLEngine(spark, TsStore(df))     # fresh engine, cold memo
        _write(f"{name}_memo_off",                 # first build: memo miss
               eng.query_range(q, start, end, 60_000))
        _write(f"{name}_memo_on",                  # second build: memo hit
               eng.query_range(q, start, end, 60_000))

    # --- 2. cache-build guard: deduped-frame vs raw-frame check ----------
    from filodb_spark.tsdf import events_ts
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    v = F.col("value")
    dirty = F.isnan(v) | v.isNull()
    _write("cache_guard_check_before",
           events_ts(spark, sf, series_cols=("event_type",)).where(dirty))
    _write("cache_guard_check_after",
           events_ts(spark, sf, series_cols=("event_type",),
                     dedupe=False).where(dirty))

    # --- 3. CC probe: != vs eqNullSafe filter over the checkpoint --------
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 2000, 2)], "d1 long, d2 long")
    edges = (pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
             .unionByName(pairs.select(F.col("d2").alias("a"),
                                       F.col("d1").alias("b")))
             .distinct().localCheckpoint(eager=True))
    labels = (edges.select(F.col("a").alias("n")).distinct()
              .select("n", F.col("n").alias("lbl"))
              .localCheckpoint(eager=True))
    prop = (edges.join(labels, edges["a"] == labels["n"])
            .select(F.col("b").alias("n"), F.col("lbl"),
                    F.lit(False).alias("__s")))
    new = (labels.select("n", "lbl", F.lit(True).alias("__s"))
           .unionByName(prop)
           .groupBy("n").agg(
               F.min("lbl").alias("lbl"),
               F.min(F.when(F.col("__s"), F.col("lbl"))).alias("__prev")))
    jump = new.select(F.col("n").alias("__jn"), F.col("lbl").alias("__jlbl"))
    lbls = (new.join(jump, new["lbl"] == jump["__jn"])
            .select(new["n"].alias("n"),
                    F.least(new["lbl"], jump["__jlbl"]).alias("lbl"),
                    new["__prev"].alias("__prev"))
            .localCheckpoint(eager=True))
    _write("dedup_clusters_probe_before",
           lbls.where(F.col("lbl") != F.col("__prev")))
    _write("dedup_clusters_probe_after",
           lbls.where(~F.col("lbl").eqNullSafe(F.col("__prev"))))

    spark.stop()


if __name__ == "__main__":
    main()
