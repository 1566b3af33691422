"""Step-grid windowing: the core of PromQL periodic sampling on Spark.

Reference semantics (filodb/FiloDB):
- ``PeriodicSamplesMapper`` evaluates a range function at instants
  ``t = start, start+step, ..., end``, each looking back over the window
  ``[t - window, t]`` (inclusive both ends by default —
  ``query/src/main/scala/filodb/query/exec/PeriodicSamplesMapper.scala:405-441``,
  ``filodb-defaults.conf: filodb.query.inclusive-range = true``).
- The reference implements this with per-chunk iterators
  (``ChunkedWindowIterator``) or a sliding row queue
  (``SlidingWindowIterator``). Those are physical details of a
  single-node engine.

Spark-first design — **grid explode, not a range join**:

For a regular step grid, the set of window-end instants a sample at
``ts`` contributes to is a contiguous index range computable in pure
integer arithmetic::

    t_k = start + k*step            (k = 0 .. n_steps-1)
    sample in window(k)  <=>  t_k - window <= ts <= t_k
    k_min = ceil((ts - start) / step)         (clamped to 0)
    k_max = floor((ts + window - start) / step)  (clamped to n-1)

So each sample is *exploded* to its (at most ``window/step + 1``) step
indices map-side, then a single hash aggregation per
``(series, k)`` computes the range function. Compared to a
grid-broadcast range join this:

- never materializes a nested-loop/theta join (Catalyst would pick
  BroadcastNestedLoopJoin for a pure range predicate);
- shuffles each sample at most ``ceil(window/step)+1`` times — for the
  common Prometheus shape (window == step, or window a small multiple
  of step) that's a 1-2x expansion, far below the cost of a shuffle
  per (sample x step) pair;
- is embarrassingly parallel and skew-free: the shuffle key includes
  the step index, so even one enormous series spreads over the grid.

Aggregates that need ordering inside the window (first/last sample,
counter-reset pairs) are expressed with ``min_by``/``max_by`` over the
sample timestamp plus *pre-computed lag columns* (previous sample's
ts/value per series), so every range function remains a single
JVM-side hash aggregation — no sorting per window, no Python in the
hot path.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from filodb_spark.memo import Memo

MS_PER_SEC = 1000
STALE_SAMPLE_AFTER_MS = 5 * 60 * 1000  # filodb-defaults.conf: stale-sample-after = 5 minutes


@dataclass(frozen=True)
class StepGrid:
    """Evaluation grid: instants start, start+step, ..., <= end (ms epoch)."""

    start: int
    end: int
    step: int

    @property
    def n_steps(self) -> int:
        return (self.end - self.start) // self.step + 1

    def aligned(self) -> "StepGrid":
        """Snap start up and end down to multiples of step (deterministic,
        reproducible in any engine — used for oracle parity)."""
        start = -((-self.start) // self.step) * self.step
        end = (self.end // self.step) * self.step
        return StepGrid(start, end, self.step)


def _floordiv(a: Column, b: int) -> Column:
    # exact floor division for possibly-negative bigints (pmod is always >= 0)
    return ((a - F.pmod(a, F.lit(b))) / F.lit(b)).cast("long")


def _ceildiv(a: Column, b: int) -> Column:
    return _floordiv(a + F.lit(b - 1), b)


def grid_from_bounds(min_ts: int, max_ts: int, step: int) -> StepGrid:
    return StepGrid(min_ts, max_ts, step).aligned()


def step_bounds(grid: StepGrid, window: int, ts: Column) -> tuple[Column, Column]:
    """Inclusive step-index range [k_min, k_max] of the windows
    ``[t_k - window, t_k]`` containing a sample at ``ts`` (clamped to the
    grid). Pure integer arithmetic — shared by the explode path and the
    tiled two-level path."""
    k_min = F.greatest(_ceildiv(ts - F.lit(grid.start), grid.step), F.lit(0))
    k_max = F.least(_floordiv(ts + F.lit(window) - F.lit(grid.start), grid.step),
                    F.lit(grid.n_steps - 1))
    return k_min, k_max


_EXPLODE_MEMO = Memo(64)
_PREV_MEMO = Memo(64)


def explode_to_steps(df: DataFrame, grid: StepGrid, window: int) -> DataFrame:
    """Explode samples onto the step grid.

    Adds column ``t`` (window-end instant, ms) to samples at ``ts``. A
    sample appears once per step window ``[t-window, t]`` containing it.
    Rows contributing to no step are dropped map-side (before any
    shuffle).

    The three derived columns are unresolved expressions depending only
    on (grid, window) — memoized per process: Column
    construction is driver-side py4j round-trips, ~2 ms each on a loaded
    driver, and every windowed query pays this builder (r13 driver-cost
    dissection).
    """
    def build():
        k_min, k_max = step_bounds(grid, window, F.col("ts"))
        # explode the window-end instants t = start + k*step DIRECTLY
        # (same long arithmetic as deriving k first): one Generate over
        # one select. sequence() DESCENDS when stop < start, so the
        # empty range is expressed as NULL, which explode drops — the
        # same rows the old `k_min <= k_max` filter removed.
        lo = (F.lit(grid.start) + k_min * F.lit(grid.step)).cast("long")
        hi = (F.lit(grid.start) + k_max * F.lit(grid.step)).cast("long")
        return F.explode(
            F.when(k_min <= k_max,
                   F.sequence(lo, hi, F.lit(grid.step).cast("long")))
        ).alias("t")
    return df.select("*", _EXPLODE_MEMO.get((grid, window), build))


def with_prev_sample(df: DataFrame, series_cols: Sequence[str]) -> DataFrame:
    """Attach previous-sample columns (per series, `ts`-ordered, of
    `value`).

    ``prev_ts``/``prev_value`` enable reset-correction and idelta/irate
    kernels as pure hash aggregations after the grid explode: a
    consecutive-pair statistic belongs to a window iff both endpoints'
    timestamps fall inside it, which the aggregation can test with the
    carried ``prev_ts``.

    One window-function shuffle per query that needs it; reused by all
    downstream steps. Callers holding a NaN-free frame partitioned the
    same way may precompute these columns once (e.g. at cache build) and
    pass ``prev_attached=True`` to :func:`range_fns.range_function`.
    """
    def build():
        w = Window.partitionBy(*[F.col(c) for c in series_cols]) \
            .orderBy(F.col("ts"))
        # sentinel-coalesced so downstream min_by/max_by never see NULLs
        # (their null-skipping rules differ across engines; a sentinel
        # keeps `prev_ts >= t - window` uniformly false instead)
        return (F.coalesce(F.lag("ts").over(w), F.lit(-(1 << 62)))
                .alias("prev_ts"),
                F.coalesce(F.lag("value").over(w), F.lit(0.0))
                .alias("prev_value"))
    prev_ts, prev_value = _PREV_MEMO.get(tuple(series_cols), build)
    return df.select("*", prev_ts, prev_value)


def drop_nan(df: DataFrame, value_col: str = "value") -> DataFrame:
    """NaN = explicitly stale/missing in the reference data model
    (SURVEY §1.2); every kernel skips NaN samples
    (reference: AggrOverTimeFunctions.scala:40-58)."""
    return df.where(~F.isnan(F.col(value_col)) & F.col(value_col).isNotNull())
