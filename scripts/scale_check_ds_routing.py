"""Scale probe: per-metric-schema DS routing on a DUAL downsample
mount (r11 — TsStore.ds_schema_of + the raw/DS split).

The 100-TB story of the dual mount rests on three claims this probe
measures across a raw-density sweep:

1. **Pre-boundary instants read marker-compressed rows.** A
   boundary-crossing last_over_time on a counter metric evaluates its
   pre-boundary steps on the DS counter table (a ~periods+dips row
   subset), so its wall should stay FLAT as raw density grows — the
   raw side reads only the post-boundary slice, the DS side is
   density-independent.
2. **Raw-resident queries never touch DS tables or probes.** The
   split decision runs before schema resolution, so a recent-range
   query costs the same as on an unmounted store.
3. **Schema probes are one-time.** The first routed query pays two
   bounded existence probes (memoized per metric on the store); the
   second routed query must not.

Usage: python scripts/scale_check_ds_routing.py [n_series] [base_rows]
Prints one table row per density multiplier.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from filodb_spark.session import get_spark

N_SERIES = int(sys.argv[1]) if len(sys.argv) > 1 else 200
BASE = int(sys.argv[2]) if len(sys.argv) > 2 else 200   # rows/series at 1x
MIN = 60_000
T0 = 1_704_067_200_000


def main():
    from pyspark.sql import functions as F

    from filodb_spark.kernels.binary import canonical_labels
    from filodb_spark.promql.compiler import PromQLEngine, TsStore
    from filodb_spark.streaming.downsample import (downsample,
                                                   downsample_counter)
    spark = get_spark("scale-ds-routing", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{'density':>8} {'rows':>10} {'first_q_s':>9} {'routed_s':>9} "
          f"{'recent_s':>9} {'ds_rows':>9}")
    for mult in (1, 10, 100):
        per = BASE * mult
        scrape = max(MIN // mult, 1_000)
        n = N_SERIES * per
        base = spark.range(n).select(
            (F.col("id") % N_SERIES).alias("s"),
            (T0 + (F.col("id") / N_SERIES).cast("long") * scrape)
            .alias("ts"),
            ((F.col("id") / N_SERIES).cast("long") % 9973).cast("double")
            .alias("v"))
        span = per * scrape
        boundary = T0 + span // 2
        mk = lambda name: F.create_map(
            F.lit("__name__"), F.lit(name),
            F.lit("et"), F.concat(F.lit("s"), F.col("s")))
        g = base.select(mk("g").alias("labels"), "ts",
                        F.col("v").alias("value"))
        c = base.select(mk("ctr").alias("labels"), "ts",
                        F.col("v").alias("value"))
        raw = g.unionByName(c).where(F.col("ts") >= boundary)
        res = 5 * MIN
        ds = downsample(
            g.withColumn("_sk", canonical_labels(F.col("labels"))),
            ["labels"], res).drop("_sk").cache()
        dsc = downsample_counter(
            c.withColumn("_sk", canonical_labels(F.col("labels"))),
            ["_sk"], res).drop("_sk").cache()
        ds_rows = ds.count() + dsc.count()   # materialize (prod: parquet)
        raw = raw.cache()
        raw.count()
        store = TsStore(raw, ds_df=ds, ds_counter_df=dsc,
                        raw_retention_start_ms=boundary,
                        ds_resolution_ms=res)
        eng = PromQLEngine(spark, store)
        step = max(span // 20, MIN)
        # boundary-crossing instant query on the counter metric: first
        # run pays the (memoized) schema probes
        t0 = time.monotonic()
        eng.query_range("last_over_time(ctr[30m])", T0 + step,
                        T0 + span - scrape, step).count()
        first_q = time.monotonic() - t0
        t0 = time.monotonic()
        eng.query_range("last_over_time(ctr[30m])", T0 + step,
                        T0 + span - scrape, step).count()
        routed = time.monotonic() - t0
        # raw-resident range: must not probe or touch DS frames
        t0 = time.monotonic()
        eng.query_range("last_over_time(ctr[30m])",
                        boundary + 30 * MIN + step, T0 + span - scrape,
                        step).count()
        recent = time.monotonic() - t0
        print(f"{mult:>8}x {n:>9} {first_q:>9.2f} {routed:>9.2f} "
              f"{recent:>9.2f} {ds_rows:>9}")
        # the store took over the inputs' caches (series layout)
        store.df.unpersist()
        store.ds_df.unpersist()
        store.ds_counter_df.unpersist()


if __name__ == "__main__":
    main()
