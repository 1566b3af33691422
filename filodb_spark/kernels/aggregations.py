"""Cross-series aggregations (per timestep), PromQL `sum by (...)` etc.

Reference: 3-phase map->reduce->present architecture in
``query/src/main/scala/filodb/query/exec/AggrOverRangeVectors.scala`` with
one RowAggregator per operator (``query/.../exec/aggregator/*.scala``).
Spark's partial/final hash aggregation IS that architecture — each
operator below is a single ``groupBy(group_cols, t).agg(...)``.

NaN discipline (reference: SumRowAggregator.scala etc.): NaN inputs are
skipped; a group whose inputs are ALL NaN yields NaN (not 0/null).

`topk`/`bottomk` present one row per member series (rank window over the
group — reference TopBottomKRowAggregator.scala:1-190 keeps a bounded
heap per timestep; Spark's window rank + filter is the distributed
equivalent).

`quantile` uses exact percentile (linear interpolation — upstream
Prometheus semantics). The reference approximates with t-digest
(QuantileRowAggregator.scala:1-89); exact is strictly more faithful to
PromQL and is what a SQL oracle computes.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def NAN() -> Column:
    return F.lit(float("nan"))


def _valid(v: Column) -> Column:
    return ~F.isnan(v) & v.isNotNull()


def _nan_skipping(agg_fn, v: Column) -> Column:
    return agg_fn(F.when(_valid(v), v))


def _finish(c: Column) -> Column:
    # all-NaN group -> NaN (Spark agg over all-null returns null)
    return F.when(c.isNull(), NAN()).otherwise(c)


def aggregate(df: DataFrame, op: str, group_cols: Sequence[str],
              params: tuple = ()) -> DataFrame:
    """PromQL aggregation over series, per timestep `t` of `value`.

    `group_cols` are the `by (...)` label columns (empty = aggregate all
    series). Output: group_cols + [t, value] (topk/bottomk and
    count_values, which keep/extend series identity, are their own
    functions).
    """
    v = F.col("value")
    keys = [*group_cols, "t"]

    # the whole presentation is folded INTO the aggregate expression
    # (r13 opt: the old groupBy().agg().select() chain paid one extra
    # eager plan analysis per query; `when` over two identical aggregate
    # functions costs nothing — Catalyst dedupes equal AggregateExprs),
    # so one .agg() call yields the final column order directly
    if op == "sum":
        val = _finish(_nan_skipping(F.sum, v))
    elif op == "min":
        val = _finish(_nan_skipping(F.min, v))
    elif op == "max":
        val = _finish(_nan_skipping(F.max, v))
    elif op == "avg":
        val = _finish(_nan_skipping(F.avg, v))
    elif op == "count":
        # CountRowAggregator: counts non-NaN series; all-NaN -> NaN
        val = F.when(F.count(F.when(_valid(v), v)) > 0,
                     F.count(F.when(_valid(v), v)).cast("double")) \
            .otherwise(NAN())
    elif op == "stddev":
        val = _finish(_nan_skipping(F.stddev_pop, v))
    elif op == "stdvar":
        val = _finish(_nan_skipping(F.var_pop, v))
    elif op == "group":
        val = F.when(F.count(F.when(_valid(v), v)) > 0, F.lit(1.0)) \
            .otherwise(NAN())
    elif op == "quantile":
        q = float(params[0])
        val = _finish(_nan_skipping(lambda c: F.percentile(c, F.lit(q)), v))
    else:
        raise ValueError(f"unknown aggregation: {op}")
    return df.groupBy(*keys).agg(val.alias("value"))


def topk(df: DataFrame, k: int, group_cols: Sequence[str],
         series_cols: Sequence[str], bottom: bool = False) -> DataFrame:
    """topk/bottomk: k member series per (group, t) by `value`, presented
    as series.

    Deterministic tie-break on the series identity columns.
    """
    v = F.col("value")
    order = [v.asc() if bottom else v.desc()] + [F.col(c) for c in series_cols]
    w = Window.partitionBy(*[F.col(c) for c in [*group_cols, "t"]]).orderBy(*order)
    return (df.where(_valid(v))
              .withColumn("_rk", F.row_number().over(w))
              .where(F.col("_rk") <= k)
              .drop("_rk"))


def salted_sum(df: DataFrame, group_cols: Sequence[str],
               salt_buckets: int = 32) -> DataFrame:
    """Two-phase salted sum of `value` for pathologically hot grouping
    keys.

    AQE's skew handling covers joins; for aggregations Spark's partial
    aggregation usually suffices, but when one group dominates an
    entire executor's input (e.g. a single giant tenant), salting
    splits the partial state across `salt_buckets` reducers before the
    final combine. Use for algebraic aggregates only.
    """
    salt = F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(),
                  F.lit(salt_buckets)).alias("_salt")
    v = F.col("value")
    partial = (df.select(*group_cols, v, salt)
                 .groupBy(*group_cols, "_salt")
                 .agg(F.sum(F.when(_valid(v), v)).alias("_ps")))
    return (partial.groupBy(*group_cols)
            .agg(_finish(F.sum("_ps")).alias("value")))


def count_values(df: DataFrame, group_cols: Sequence[str],
                 label: str) -> DataFrame:
    """count_values(label, v): count series per distinct `value` at each
    `t`, folding the value into a new label column
    (CountValuesRowAggregator.scala:1-139)."""
    v = F.col("value")
    keys = [*group_cols, "t"]
    return (df.where(_valid(v))
              .groupBy(*keys, v.alias(label))
              .agg(F.count(F.lit(1)).cast("double").alias("value")))
