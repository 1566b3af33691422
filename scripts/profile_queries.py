"""Per-query isolation profiler for the optimization rounds (guide §1).

For each named query (default: bench HEADLINE):
  - build the DataFrame and time the build (driver-side compile cost),
  - time `.count()` (the bench's timed action) median-of-N warm,
  - time the noop sink (guide §1.4 — computes every column) median-of-N,
  - write `.explain("formatted")` to plans/<tag>/<name>_<suffix>.txt and
    print a one-line plan-shape summary (Exchange count, join strategies,
    Python eval nodes, scans).

Usage:
  python scripts/profile_queries.py [--tag r13] [--suffix before]
      [--sf /root/testdata/sf0.1] [--runs 3] [--prom] [name ...]

The Spark session and warm-up mirror bench.py so numbers are comparable;
jobs are labelled for the UI. The prom_* bench entries are profiled with
--prom (they use in-memory synthetic stores, not sf_dir).
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "ts_instant_last", "ts_sum_over_time", "ts_rate", "ts_agg_sum_rate",
    "ts_quantile_over_time", "ts_agg_topk", "ts_join_ratio",
    "tpch_q1", "tpch_q5", "doc_dedup_exact", "doc_minhash_lsh",
    "ann_bruteforce",
]


def plan_summary(plan: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", plan))
    n_aqe = len(re.findall(r"AQEShuffleRead", plan))
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                       r"BroadcastNestedLoopJoin|CartesianProduct)", plan)
    pyn = re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInArrow|"
                     r"MapInPandas|FlatMapGroupsInPandas)", plan)
    n_scan = len(re.findall(r"Scan parquet", plan))
    n_wsc = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan)))
    from collections import Counter
    j = ",".join(f"{k}x{v}" for k, v in Counter(joins).items()) or "-"
    p = ",".join(f"{k}x{v}" for k, v in Counter(pyn).items()) or "-"
    return (f"Exchange={n_ex} aqeRead={n_aqe} joins=[{j}] python=[{p}] "
            f"parquetScans={n_scan} codegenSpans={n_wsc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", default=None)
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--noop", action="store_true",
                    help="also time the noop sink")
    ap.add_argument("--prom", action="store_true",
                    help="profile the prom_* bench entries instead")
    args = ap.parse_args()
    names = args.names or HEADLINE

    import filodb_spark
    from filodb_spark.driver_queries import all_queries
    spark = filodb_spark.get_spark("filodb-spark-profile")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)

    if args.prom:
        profile_prom(spark, args, out_dir)
        return

    queries, _ = all_queries()
    # bench-identical warm-up (shared events cache + codegen warm)
    spark.read.parquet(f"{args.sf}/events.parquet").count()
    from filodb_spark.driver_queries.promql_events import _events_cached
    _events_cached(spark, args.sf).count()
    _events_cached(spark, args.sf, ("event_type", "user_id")).count()
    for name in names:
        try:
            queries[name](spark, args.sf).count()   # warm codegen/footers
        except Exception as exc:
            print(f"# warm {name}: {exc}", file=sys.stderr)

    print(f"# name build_s count_med_s count_spread "
          f"{'noop_med_s ' if args.noop else ''}rows")
    for name in names:
        fn = queries[name]
        t0 = time.time()
        df = fn(spark, args.sf)
        build = time.time() - t0
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{args.suffix}.txt"),
                  "w") as f:
            f.write(plan)
        counts, rows = [], 0
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}:count")
            t0 = time.time()
            rows = fn(spark, args.sf).count()
            counts.append(time.time() - t0)
        noops = []
        if args.noop:
            for _ in range(args.runs):
                spark.sparkContext.setJobDescription(f"profile:{name}:noop")
                t0 = time.time()
                (fn(spark, args.sf).write.format("noop")
                 .mode("overwrite").save())
                noops.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        med = round(statistics.median(counts), 3)
        spread = round(max(counts) - min(counts), 3)
        extra = f"{round(statistics.median(noops), 3)} " if noops else ""
        print(f"{name} {round(build, 3)} {med} {spread} {extra}{rows}")
        print(f"    {plan_summary(plan)}")


def profile_prom(spark, args, out_dir):
    """Profile the 5 prom_* bench entries with plan capture."""
    import math
    from filodb_spark.promql import PromQLEngine
    from filodb_spark.promql.compiler import TsStore
    t0_ms = 1_700_000_000_000
    rows = []
    for s in range(100):
        labels = {"__name__": "heap_usage0", "_ws_": "demo",
                  "_ns_": f"App-{s % 8}", "instance": str(s)}
        for i in range(720):
            v = 50 + 30 * math.sin(2 * math.pi * i / 90) + ((s * 7 + i) % 13) / 6.5
            rows.append((labels, t0_ms + i * 10_000, float(v)))
    df = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double").cache()
    df.count()
    eng = PromQLEngine(spark, TsStore(df))
    end = t0_ms + 720 * 10_000
    start = end - 55 * 60_000
    queries = {
        "prom_raw": 'heap_usage0{_ws_="demo",_ns_="App-2"}',
        "prom_sum_over_time": 'sum_over_time(heap_usage0{_ws_="demo",_ns_="App-2"}[5m])',
        "prom_sum_rate": 'sum(rate(heap_usage0{_ws_="demo"}[5m]))',
        "prom_quantile": 'quantile(0.75, heap_usage0{_ws_="demo"})',
    }
    hc_rows = []
    for s in range(8000):
        labels = {"__name__": "hicard", "_ws_": "demo",
                  "_ns_": f"App-{s % 4}", "instance": str(s)}
        for i in range(90):
            hc_rows.append((labels, t0_ms + i * 10_000, float((s + i) % 100)))
    hc = spark.createDataFrame(
        hc_rows, "labels map<string,string>, ts long, value double").cache()
    hc.count()
    eng2 = PromQLEngine(spark, TsStore(hc))

    import statistics
    print("# name build_s count_med_s count_spread rows")
    items = [(n, eng, q, start, end, 150_000) for n, q in queries.items()]
    items.append(("prom_hicard_scan", eng2, 'hicard{_ns_="App-2"}',
                  t0_ms + 5 * 60_000, t0_ms + 90 * 10_000, 60_000))
    for name, engine, q, s_ms, e_ms, step in items:
        engine.query_range(q, s_ms, e_ms, step).count()   # warm
        t0 = time.time()
        rdf = engine.query_range(q, s_ms, e_ms, step)
        build = time.time() - t0
        plan = rdf._sc._jvm.PythonSQLUtils.explainString(
            rdf.queryExecution() if hasattr(rdf, "queryExecution")
            else rdf._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{args.suffix}.txt"),
                  "w") as f:
            f.write(plan)
        counts, nrows = [], 0
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"profile:{name}:count")
            t0 = time.time()
            nrows = engine.query_range(q, s_ms, e_ms, step).count()
            counts.append(time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        med = round(statistics.median(counts), 3)
        spread = round(max(counts) - min(counts), 3)
        print(f"{name} {round(build, 3)} {med} {spread} {nrows}")
        print(f"    {plan_summary(plan)}")
    # the stores took over the inputs' caches (series layout)
    eng.store.df.unpersist()
    eng2.store.df.unpersist()


if __name__ == "__main__":
    main()
