"""PromQL instant (scalar math) functions — pure column expressions.

Reference: ``InstantVectorFunctionMapper`` applying ``InstantFunctionId``
(``query/.../RangeVectorTransformer.scala:61-199``; impls
``rangefn/InstantFunction.scala:74-454``). All are 1:1 with built-in
``pyspark.sql.functions`` — JVM-side, codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

def NAN() -> Column:
    return F.lit(float("nan"))


def _nonfinite(v: Column) -> Column:
    return F.isnan(v) | (F.abs(v) == F.lit(float("inf")))


def _log_like(expr: Column, v: Column) -> Column:
    """scala.math log semantics: log(0) = -Inf, log(<0) = NaN, NaN -> NaN.

    Spark's log/log10/log2 return NULL for non-positive input
    (InstantFunctionSpec.scala:135-143 asserts the scala.math values).
    """
    return F.coalesce(
        expr,
        F.when(v == 0.0, F.lit(float("-inf"))).otherwise(NAN()))


def _pcol(p) -> Column:
    """Function parameter as a Column: dynamic scalars pass through,
    plan-time constants become literals."""
    return p if isinstance(p, Column) else F.lit(float(p))


def instant_fn_expr(fn: str, v: Column, params: tuple = (),
                    t_ms: Column | None = None) -> Column:
    """Expression for instant function `fn` over value column `v`.

    Date functions operate on the sample value interpreted as seconds
    since epoch UTC (InstantFunction.scala:300-454).
    """
    if fn == "abs":
        return F.abs(v)
    if fn == "ceil":
        # Spark ceil returns LONG: NaN -> 0, Inf -> Long.Max. scala.math
        # passes non-finite doubles through (InstantFunctionSpec.scala:124).
        return F.when(_nonfinite(v), v).otherwise(F.ceil(v).cast("double"))
    if fn == "floor":
        return F.when(_nonfinite(v), v).otherwise(F.floor(v).cast("double"))
    if fn == "exp":
        return F.exp(v)
    if fn == "ln":
        return _log_like(F.log(v), v)
    if fn == "log2":
        return _log_like(F.log2(v), v)
    if fn == "log10":
        return _log_like(F.log10(v), v)
    if fn == "sqrt":
        return F.sqrt(v)
    if fn == "sgn":
        return F.signum(v)
    if fn == "round":
        # round(v, to_nearest): nearest multiple, ties toward +Inf, NaN/Inf
        # passthrough — exact reference arithmetic: inv = 1/nearest,
        # floor(v*inv + 0.5)/inv (InstantFunction.scala RoundImpl;
        # InstantFunctionSpec.scala:157-178). Params may be Columns when
        # the query passes a dynamic scalar (ExecPlanFuncArgs).
        if params and isinstance(params[0], Column):
            inv = F.lit(1.0) / params[0]
        else:
            inv = F.lit(1.0 / float(params[0]) if params else 1.0)
        return F.when(_nonfinite(v), v).otherwise(
            F.floor(v * inv + 0.5) / inv)
    if fn == "clamp_max":
        # Spark least/greatest order NaN as the largest double;
        # scala.math.min(NaN, x) is NaN (InstantFunctionSpec NaN battery)
        return F.when(F.isnan(v), v).otherwise(F.least(v, _pcol(params[0])))
    if fn == "clamp_min":
        return F.when(F.isnan(v), v).otherwise(
            F.greatest(v, _pcol(params[0])))
    if fn == "clamp":
        if not (isinstance(params[0], Column) or isinstance(params[1], Column)):
            lo, hi = float(params[0]), float(params[1])
            if lo > hi:
                return NAN()
            return F.when(F.isnan(v), v).otherwise(
                F.least(F.greatest(v, F.lit(lo)), F.lit(hi)))
        lo, hi = _pcol(params[0]), _pcol(params[1])
        # dynamic bounds: the lo > hi rule becomes per-row
        return F.when(lo > hi, NAN()).otherwise(
            F.when(F.isnan(v), v).otherwise(F.least(F.greatest(v, lo), hi)))
    if fn == "or_vector":
        # FiloDB extension: NaN -> default (InstantFunction.scala:151-156)
        return F.when(F.isnan(v), F.lit(float(params[0]))).otherwise(v)
    if fn in _TRIG:
        return _TRIG[fn](v)
    if fn in ("day_of_month", "day_of_week", "days_in_month", "hour",
              "minute", "month", "year"):
        ts = F.timestamp_seconds(v)
        if fn == "day_of_month":
            out = F.dayofmonth(ts).cast("double")
        elif fn == "day_of_week":
            out = (F.dayofweek(ts) - 1).cast("double")  # Prom: 0=Sunday
        elif fn == "days_in_month":
            out = F.dayofmonth(F.last_day(ts)).cast("double")
        elif fn == "hour":
            out = F.hour(ts).cast("double")
        elif fn == "minute":
            out = F.minute(ts).cast("double")
        elif fn == "month":
            out = F.month(ts).cast("double")
        else:
            out = F.year(ts).cast("double")
        # NaN (and unrepresentable, e.g. Inf) epochs stay NaN, not null
        # (InstantFunctionSpec.scala:416-435)
        return F.coalesce(out, NAN())
    raise ValueError(f"unknown instant function: {fn}")


# Prometheus 2.31+ trigonometric functions (promql/functions.go) — the
# reference predates them; included for dialect completeness. All are
# built-in JVM expressions.
_TRIG = {
    "sin": F.sin, "cos": F.cos, "tan": F.tan,
    "asin": F.asin, "acos": F.acos, "atan": F.atan,
    "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
    "deg": F.degrees, "rad": F.radians,
}

INSTANT_FUNCTIONS = (
    "abs ceil floor exp ln log2 log10 sqrt sgn round clamp clamp_max clamp_min "
    "or_vector day_of_month day_of_week days_in_month hour minute month year "
    "sin cos tan asin acos atan sinh cosh tanh deg rad"
).split()
