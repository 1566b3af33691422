"""Scale harness: replicate the fixture N times, then time registry queries.

  python scripts/scale.py gen OUT --mult N [--src DIR]
  SPARK_GRAFT_CPUS=C python scripts/scale.py run DIR [name ...]

`gen` writes every table of DIR (default /root/testdata/sf0.1) to OUT.
Four tables are replicated N times; replica 0 is the source row for
row, so `--mult 1` reproduces DIR. Every other table is copied as is.
  events     replica k shifts event_id and user_id by k * ID_STRIDE and
             suffixes event_type with `_k`: disjoint users AND disjoint
             series, so series cardinality grows with the data (equal
             event types at equal timestamps would collapse in the
             per-series dedupe). OUT/_users/events.parquet is the twin
             that shifts users only and keeps the event types, for the
             queries that select events by type name (TYPE_NAMED).
  lineitem,  replica k shifts l_orderkey / o_orderkey by k * KEY_STRIDE,
  orders     so each lineitem still joins exactly one order.
  documents  replicas 1..N-1 are synthetic distinct-shingle docs
             (200 tokens from a 5000-token vocabulary, deterministic in
             (doc, position)); one in 50 is an exact twin of the doc
             before it. Copies of real docs would make every replica
             pair a near-duplicate, so LSH pair volume would grow
             quadratically: a different workload, not scale.

`run` times registry queries (all of them when no names are given) with
bench.py's protocol: one discarded warm-up, then the median of RUNS
timed runs into the noop sink. Each query prints one JSON line: wall
median and spread, result rows, the Spark jobs/stages/tasks/shuffle
bytes of the last timed run's own job group (read from the status
tracker by perfbench's tracer), and the shape of its formatted plan,
which is written to DIR/plans/<name>.txt. The core count is
SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
from collections import Counter

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = 3
ID_STRIDE = 10_000_000
KEY_STRIDE = 1_000_000_000
DOC_TOKENS = 200
DOC_VOCAB = 5000
USERS_TWIN = "_users"
# queries that name event types ('purchase', `sum(rate(purchase[..]))`):
# on the suffixed events table they would see replica 0 only
TYPE_NAMED = ("pq_", "ev_", "ts_export_", "ts_join_ratio")


# ---- gen --------------------------------------------------------------------

def _events(ev, suffix_types: bool):
    k = F.col("_k")
    event_type = F.col("event_type")
    if suffix_types:
        event_type = F.when(k == 0, event_type).otherwise(
            F.concat_ws("_", event_type, k.cast("string")))
    return ev.select((F.col("event_id") + k * ID_STRIDE).alias("event_id"),
                     "ts",
                     (F.col("user_id") + k * ID_STRIDE).alias("user_id"),
                     event_type.alias("event_type"), "value", "props")


def _synthetic_docs(spark, n: int, first_id: int):
    """n distinct-shingle docs with ids first_id.."""
    seed = F.when((F.pmod(F.xxhash64("id"), F.lit(50)) == 0)
                  & (F.col("id") > 0), F.col("id") - 1).otherwise(F.col("id"))
    text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(0), F.lit(DOC_TOKENS - 1)),
        lambda i: F.concat(F.lit("tok"), F.pmod(F.xxhash64(seed, i),
                                                F.lit(DOC_VOCAB))
                           .cast("string"))))
    lang = F.element_at(F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                        (F.pmod(F.xxhash64(seed), F.lit(3)) + 1).cast("int"))
    return (spark.range(n)
            .select((F.col("id") + first_id).alias("doc_id"),
                    text.alias("text"), lang.alias("lang"),
                    F.lit("synthetic").alias("source"))
            .withColumn("n_chars", F.length("text").cast("long")))


def gen(spark, out: str, mult: int, src: str) -> dict:
    """Write src's tables to out, replicated mult times; returns the
    written row count per replicated table."""
    if mult < 1:
        raise ValueError(f"--mult must be >= 1, got {mult}")
    parts = spark.sparkContext.defaultParallelism
    reps = spark.range(mult).select(F.col("id").alias("_k"))
    os.makedirs(os.path.join(out, USERS_TWIN), exist_ok=True)

    def write(df, path):
        df.repartition(parts).write.mode("overwrite").parquet(path)

    counts = {}
    for name in sorted(os.listdir(src)):
        table, ext = os.path.splitext(name)
        path, dst = os.path.join(src, name), os.path.join(out, name)
        if ext != ".parquet":
            continue
        if table not in ("events", "lineitem", "orders", "documents"):
            if os.path.isdir(path):
                shutil.copytree(path, dst, dirs_exist_ok=True)
            else:
                shutil.copyfile(path, dst)
            continue
        df = spark.read.parquet(path)
        if table == "events":
            x = df.crossJoin(reps)
            write(_events(x, suffix_types=True), dst)
            write(_events(x, suffix_types=False),
                  os.path.join(out, USERS_TWIN, name))
        elif table == "documents":
            n, hi = df.agg(F.count("*"), F.max("doc_id")).first()
            write(df.unionByName(
                _synthetic_docs(spark, n * (mult - 1), (hi or 0) + 1)),
                dst)
        else:
            key = "l_orderkey" if table == "lineitem" else "o_orderkey"
            write(df.crossJoin(reps)
                  .withColumn(key, F.col(key) + F.col("_k") * KEY_STRIDE)
                  .drop("_k"), dst)
        counts[table] = spark.read.parquet(dst).count()
    return counts


# ---- run --------------------------------------------------------------------

def plan_summary(plan: str) -> dict:
    """Shape of a formatted physical plan: shuffles, joins by strategy,
    Python evaluation nodes and parquet scans. (The plan is AQE's
    initial one, which has no codegen stages yet.)"""
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                       r"BroadcastNestedLoopJoin|CartesianProduct)", plan)
    python = re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInArrow|"
                        r"MapInPandas|FlatMapGroupsInPandas)", plan)
    return {"exchanges": len(re.findall(r"\bExchange\b", plan)),
            "aqe_reads": len(re.findall(r"AQEShuffleRead", plan)),
            "joins": dict(Counter(joins)),
            "python": dict(Counter(python)),
            "parquet_scans": len(re.findall(r"Scan parquet", plan))}


def measure(spark, name: str, fn, data_dir: str, plans_dir: str) -> dict:
    from perfbench.trace import Tracer

    sc = spark.sparkContext
    tracer = Tracer(spark)                  # reads the thread's job group

    def noop():
        fn(spark, data_dir).write.format("noop").mode("overwrite").save()

    noop()                                  # discarded warm-up
    walls = []
    try:
        for i in range(RUNS):
            tracer.rid = f"scale-{name}-{i}-{time.monotonic_ns()}"
            sc.setJobGroup(tracer.rid, f"scale {name}")
            t0 = time.perf_counter()
            noop()
            walls.append(time.perf_counter() - t0)
        tracer.record_spark_counts()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    counts = tracer.spark_counts[tracer.rid]
    df = fn(spark, data_dir)
    plan = sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(),
                                                "formatted")
    with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
        f.write(plan)
    return {"name": name, "data_dir": data_dir,
            "cpus": sc.defaultParallelism,
            "wall_s": round(statistics.median(walls), 3),
            "spread_s": round(max(walls) - min(walls), 3),
            "rows": df.count(), **counts, "plan": plan_summary(plan)}


def run(spark, data_dir: str, names: list[str] | None = None) -> None:
    """Print one JSON line per registry query (see the module doc)."""
    from filodb_spark.driver_queries import all_queries

    queries, _ = all_queries()
    names = names or list(queries)
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    plans_dir = os.path.join(data_dir, "plans")
    os.makedirs(plans_dir, exist_ok=True)
    twin = os.path.join(data_dir, USERS_TWIN)
    for name in names:
        qdir = twin if name.startswith(TYPE_NAMED) and os.path.isdir(twin) \
            else data_dir
        try:
            rec = measure(spark, name, queries[name], qdir, plans_dir)
        except Exception as exc:
            rec = {"name": name, "data_dir": qdir,
                   "error": f"{type(exc).__name__}: {exc}"}
        print(json.dumps(rec), flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    g = sub.add_parser("gen", help="write an N-times replicated fixture")
    g.add_argument("out")
    g.add_argument("--mult", type=int, required=True)
    g.add_argument("--src", default="/root/testdata/sf0.1")
    r = sub.add_parser("run", help="time registry queries on a fixture")
    r.add_argument("dir")
    r.add_argument("names", nargs="*")
    args = ap.parse_args()

    import filodb_spark
    spark = filodb_spark.get_spark(f"scale-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "gen":
        print(json.dumps({"gen": args.out, "mult": args.mult,
                          "src": args.src,
                          **gen(spark, args.out, args.mult, args.src)}))
    else:
        run(spark, args.dir, args.names)


if __name__ == "__main__":
    main()
