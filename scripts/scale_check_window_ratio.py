"""Scale probe: tiled vs explode shuffle volume at high window/step.

The dashboard shape rate(m[1h]) at a 15s step amplifies every sample
window/step + 1 = 241x in the grid-explode plan. The tiled two-level plan
(kernels/range_fns.py) groups samples by their exact (k_min, k_max) window
range first, so its explode operates on GROUPS (<= ~2*n_steps per series),
independent of sample density.

This probe replicates a 24h corpus at increasing scrape density and
reports, for both plans:
  - rows entering the final (series, t) combine (the shuffle amplification)
  - wall time of the full rate() query
Expected: explode rows grow ~linearly with density; tiled rows stay flat;
results stay value-identical.

Usage: python scripts/scale_check_window_ratio.py [densities...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import filodb_spark
from filodb_spark.kernels.grid import (StepGrid, drop_nan, explode_to_steps,
                                       step_bounds, with_prev_sample)
from filodb_spark.kernels.range_fns import range_function

STEP = 15_000            # 15s step
WINDOW = 3_600_000       # 1h window -> ratio 240
RANGE_MS = 24 * 3_600_000  # 24h of data
N_SERIES = 8


def corpus(spark, scrape_ms: int):
    """N_SERIES counters sampled every scrape_ms across 24h (jittered so
    samples do NOT all land on grid instants), with occasional resets."""
    n = RANGE_MS // scrape_ms
    return (spark.range(n * N_SERIES)
            .select((F.col("id") % N_SERIES).cast("string").alias("series"),
                    ((F.col("id") / N_SERIES).cast("long") * scrape_ms
                     + (F.col("id") * 7919) % scrape_ms).alias("ts"),
                    (F.pmod(F.col("id") * 1.7, F.lit(50_000.0))).alias("value")))


def rows_into_combine(df, grid, tiled: bool) -> int:
    if not tiled:
        return explode_to_steps(drop_nan(with_prev_sample(df, ["series"])),
                                grid, WINDOW).count()
    # mirror _tiled_range_function's two exploded streams
    d = drop_nan(with_prev_sample(df, ["series"]))
    k_min, k_max = step_bounds(grid, WINDOW, F.col("ts"))
    _, pk_max = step_bounds(grid, WINDOW, F.col("prev_ts"))
    s = (d.withColumn("_a", k_min).withColumn("_b", k_max)
         .where(F.col("_a") <= F.col("_b"))
         .groupBy("series", "_a", "_b").count()
         .select(F.sum(F.col("_b") - F.col("_a") + 1)).first()[0])
    p = (d.withColumn("_a", k_min).withColumn("_b", pk_max)
         .where(F.col("_a") <= F.col("_b"))
         .groupBy("series", "_a", "_b").count()
         .select(F.sum(F.col("_b") - F.col("_a") + 1)).first()[0])
    return int(s or 0) + int(p or 0)


def main():
    densities = [int(x) for x in sys.argv[1:]] or [60_000, 15_000, 5_000, 1_000]
    spark = filodb_spark.get_spark("scale-window-ratio", shuffle_partitions=32)
    grid = StepGrid(WINDOW, RANGE_MS, STEP)
    print(f"rate(m[{WINDOW//60000}m]) @ {STEP//1000}s step, ratio "
          f"{WINDOW//STEP}, {N_SERIES} series, 24h span, n_steps={grid.n_steps}")
    print(f"{'scrape':>8} {'samples':>10} | {'explode_rows':>12} {'t_explode':>9} "
          f"| {'tiled_rows':>10} {'t_tiled':>8} | {'equal':>5}")

    def vals(df_out):
        return {(r["series"], r["t"]): r["value"] for r in df_out.collect()}

    def eq(ca, cb):
        return set(ca) == set(cb) and all(
            math.isclose(ca[k], cb[k], rel_tol=1e-9, abs_tol=1e-12)
            or (math.isnan(ca[k]) and math.isnan(cb[k])) for k in ca)

    for scrape in densities:
        df = corpus(spark, scrape).cache()
        n = df.count()
        r_ex = rows_into_combine(df, grid, tiled=False)
        t0 = time.time()
        ca = vals(range_function(df, "rate", ["series"], grid, WINDOW,
                                 tiling=False))
        t_ex = time.time() - t0
        r_ti = rows_into_combine(df, grid, tiled=True)
        t0 = time.time()
        cb = vals(range_function(df, "rate", ["series"], grid, WINDOW,
                                 tiling=True))
        t_ti = time.time() - t0
        equal = eq(ca, cb)
        print(f"{scrape/1000:>7.0f}s {n:>10,} | {r_ex:>12,} {t_ex:>8.1f}s "
              f"| {r_ti:>10,} {t_ti:>7.1f}s | {str(equal):>5}")
        df.unpersist()


if __name__ == "__main__":
    main()
