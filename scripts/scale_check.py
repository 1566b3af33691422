"""Scaling probe: run the core windowing kernels on N-times-replicated
events data (series-id-shifted copies — more series, same time range,
the realistic growth axis) and report wall-clock vs multiplier.

Linear-ish growth here is the evidence that the grid-explode plan has no
super-linear term (no nested-loop join, bounded shuffle expansion).

Usage: python scripts/scale_check.py [sf_dir] [multipliers...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mults = [int(m) for m in sys.argv[2:]] or [1, 4, 8]

    import filodb_spark
    from pyspark.sql import functions as F
    from filodb_spark.kernels.aggregations import aggregate
    from filodb_spark.kernels.grid import grid_from_bounds
    from filodb_spark.kernels.range_fns import range_function
    from filodb_spark.tsdf import events_ts

    spark = filodb_spark.get_spark("scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    base = events_ts(spark, sf_dir, series_cols=("event_type", "user_id"))
    lo, hi = base.agg(F.min("ts"), F.max("ts")).first()
    grid = grid_from_bounds(lo, hi, 6 * 3600 * 1000)
    window = 24 * 3600 * 1000

    import shutil
    import tempfile

    results = []
    for m in mults:
        # materialize the replicated table to parquet first so the timed
        # query reads a realistic on-disk table, not an m-way union plan
        tmp = tempfile.mkdtemp(prefix="scale_check_")
        # replicate via crossJoin with a k-range: ONE plan node instead
        # of m-1 unions (a 1000-branch union spends minutes in plan
        # analysis before any data moves)
        ks = spark.range(m).select(F.col("id").alias("_k"))
        df = (base.crossJoin(ks)
              .withColumn("user_id",
                          F.col("user_id") + F.col("_k") * 1_000_000)
              .drop("_k"))
        (df.repartition(spark.sparkContext.defaultParallelism)
           .write.mode("overwrite").parquet(tmp))
        tbl = spark.read.parquet(tmp)
        n = tbl.count()
        # warm (codegen/file listing)
        range_function(tbl, "sum_over_time", ["event_type", "user_id"],
                       grid, window).count()
        t0 = time.time()
        r = range_function(tbl, "rate", ["event_type", "user_id"], grid, window)
        out = aggregate(r.where(~F.isnan("value")), "sum", ["event_type"])
        rows = out.count()
        dt = time.time() - t0
        shutil.rmtree(tmp, ignore_errors=True)
        results.append({"mult": m, "samples": n, "out_rows": rows,
                        "sum_rate_sec": round(dt, 2)})
        print(f"# x{m}: {n} samples -> {dt:.2f}s", file=sys.stderr)
    print(json.dumps(results))


if __name__ == "__main__":
    main()
