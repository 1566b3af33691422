"""AggLpOptimizationSpec goldens ported (reference:
coordinator/.../queryplanner/AggLpOptimizationSpec.scala, impl
query/lpopt/AggLpOptimization.scala) — which aggregate queries rewrite
onto pre-aggregated metrics, and onto WHICH rule.

Naming adaptation: the reference's aggregated-column selector
`foo:::agg::count` is this engine's `foo:::agg:count` metric (the
producer publishes sum on the bare suffix and :count/:min/:max
companions — streaming/preagg.py). Cases exercising `::col` selectors
on RAW metrics and the preagg `_type_` schemas are out of scope (no
such storage column concept here). The reference's "optimize join only
if both sides can be optimized" planner rule is deliberately not
mirrored: the per-side rewrite is value-safe here because the
freshness watermark gates both sides on the same query range.
"""

from __future__ import annotations

import pytest

from filodb_spark.kernels.grid import StepGrid
from filodb_spark.promql.compiler import AggRule, PromQLEngine, TsStore
from filodb_spark.promql.parser import parse

GRID = StepGrid(15_000_000, 30_000_000, 2_000)

EXCLUDE_RULES_1 = (
    AggRule("agg1_1", exclude=frozenset({"instance", "pod"}),
            effective_from_ms=10_000_000),
    AggRule("agg1_2", exclude=frozenset({"instance", "pod", "container"}),
            effective_from_ms=10_000_000),
    AggRule("agg1_2",
            exclude=frozenset({"instance", "pod", "container", "guid"}),
            effective_from_ms=16_000_000),
    AggRule("agg1_2",
            exclude=frozenset({"instance", "pod", "container", "port"}),
            effective_from_ms=17_000_000),
)

INCLUDE_RULES_1 = (
    AggRule("agg1_1", include=frozenset({"dc", "service"}),
            effective_from_ms=10),
    AggRule("agg1_2", include=frozenset({"dc", "service", "region"}),
            effective_from_ms=10),
    AggRule("agg1_2", include=frozenset({"dc", "service", "region", "guid"}),
            effective_from_ms=12),
    AggRule("agg1_2", include=frozenset({"dc", "service", "region", "port"}),
            effective_from_ms=13),
)


def _engine(spark, rules):
    df = spark.createDataFrame(
        [({"__name__": "foo"}, 0, 0.0)],
        "labels map<string,string>, ts long, value double")
    return PromQLEngine(spark, TsStore(df, agg_rules={"foo": tuple(rules)}))


def _rewrite(spark, rules, query):
    eng = _engine(spark, rules)
    out = eng._maybe_preagg_rewrite(parse(query), GRID)
    return out


def assert_opt(spark, rules, cases):
    """testOptimization: parse(query) rewritten == parse(expected)."""
    for query, expected in cases:
        got = _rewrite(spark, rules, query)
        want = parse(expected)
        assert got == want, f"{query!r} -> {got!r}, want {expected!r}"


F = '{_ws_="demo",_ns_="localNs"}'


def test_exclude_pick_rule_with_necessary_labels(spark):
    # container is needed -> only agg1_1 retains it
    assert_opt(spark, EXCLUDE_RULES_1, [
        (f'sum(rate(foo{F}[300s])) by (container)',
         f'sum(rate(foo:::agg1_1{F}[300s])) by (container)'),
        (f'sum(increase(foo{F}[300s])) by (container)',
         f'sum(increase(foo:::agg1_1{F}[300s])) by (container)'),
    ])


def test_exclude_regex_type_filter_not_optimized(spark):
    q = f'sum(rate(foo{{_ws_="demo",_ns_="localNs",x=~"gaug.*"}}[300s])) by (container)'
    assert _rewrite(spark, EXCLUDE_RULES_1, parse(q) and q) == parse(q)


def test_exclude_picks_rule_excluding_more_labels(spark):
    assert_opt(spark, EXCLUDE_RULES_1, [
        (f'sum(rate(foo{F}[300s]))', f'sum(rate(foo:::agg1_2{F}[300s]))'),
    ])


def test_exclude_filter_on_excluded_label_blocks(spark):
    # "cannot be optimized since one side has excluded label" — the
    # pod="foo" matcher touches an excluded tag in every rule
    q = f'sum(rate(foo{{_ws_="demo",_ns_="localNs",pod="foo"}}[300s])) by (container)'
    assert _rewrite(spark, EXCLUDE_RULES_1, q) == parse(q)


def test_exclude_changes_fn_and_column(spark):
    assert_opt(spark, EXCLUDE_RULES_1, [
        (f'sum(count_over_time(foo{F}[300s])) by (container)',
         f'sum(sum_over_time(foo:::agg1_1:count{F}[300s])) by (container)'),
        (f'sum(sum_over_time(foo{F}[300s])) by (container)',
         f'sum(sum_over_time(foo:::agg1_1{F}[300s])) by (container)'),
    ])


def test_exclude_minmax_columns(spark):
    assert_opt(spark, EXCLUDE_RULES_1, [
        (f'min(min_over_time(foo{F}[300s])) by (container)',
         f'min(min_over_time(foo:::agg1_1:min{F}[300s])) by (container)'),
        (f'max(max_over_time(foo{F}[300s])) by (container)',
         f'max(max_over_time(foo:::agg1_1:max{F}[300s])) by (container)'),
    ])


def test_exclude_reoptimize_to_higher_level(spark):
    # already-aggregated metrics move to the level excluding more labels
    assert_opt(spark, EXCLUDE_RULES_1, [
        (f'min(min_over_time(foo:::agg1_1:min{F}[300s]))',
         f'min(min_over_time(foo:::agg1_2:min{F}[300s]))'),
        (f'sum(sum_over_time(foo:::agg1_1{F}[300s]))',
         f'sum(sum_over_time(foo:::agg1_2{F}[300s]))'),
        (f'sum(sum_over_time(foo:::agg1_1:count{F}[300s]))',
         f'sum(sum_over_time(foo:::agg1_2:count{F}[300s]))'),
        (f'sum(rate(foo:::agg1_1{F}[300s]))',
         f'sum(rate(foo:::agg1_2{F}[300s]))'),
    ])


def test_reoptimize_refuses_count_over_time(spark):
    # count_over_time over a preagg selector counts that LEVEL's samples
    # (series count differs per level), so moving levels would silently
    # change the value. The reference only optimizes CountOverTime on a
    # raw metric — rewritten to SumOverTime on ::count (level-invariant) —
    # and refuses it on already-aggregated selectors
    # (AggLpOptimization.scala getAggOpForRangeFunction).
    for q in (f'sum(count_over_time(foo:::agg1_1{F}[300s]))',
              f'sum(count_over_time(foo:::agg1_1:count{F}[300s]))'):
        assert _rewrite(spark, EXCLUDE_RULES_1, q) == parse(q)


def test_exclude_group_without(spark):
    # without(container): container excluded by agg1_2 in EVERY version
    assert_opt(spark, EXCLUDE_RULES_1, [
        (f'sum(rate(foo{F}[300s])) without (container)',
         f'sum(rate(foo:::agg1_2{F}[300s])) without (container)'),
    ])


def test_exclude_version_missing_label_blocks(spark):
    # only agg1_2's versions: guid is excluded in one version but not
    # all -> without(guid) unroutable; by(guid) touches an excluded tag
    rules = EXCLUDE_RULES_1[1:]
    for q in (f'sum(rate(foo{F}[300s])) without (guid)',
              f'sum(rate(foo{F}[300s])) by (guid)'):
        assert _rewrite(spark, rules, q) == parse(q)


def test_exclude_by_nonexcluded_label_blocks(spark):
    # dc is not excluded by any rule -> without(dc) unroutable
    q = f'sum(rate(foo{F}[300s])) without (dc)'
    assert _rewrite(spark, EXCLUDE_RULES_1, q) == parse(q)


def test_inactive_version_blocks_suffix(spark):
    rules = (
        AggRule("agg1_1", exclude=frozenset({"instance", "pod"}),
                effective_from_ms=10_000_000),
        AggRule("agg1_1", exclude=frozenset({"instance", "pod", "guid"}),
                effective_from_ms=13_000_000, active=False),
    )
    q = f'sum(rate(foo{F}[300s])) by (dc)'
    assert _rewrite(spark, rules, q) == parse(q)


def test_rule_effective_after_query_start_blocks(spark):
    rules = (AggRule("agg1_1", exclude=frozenset({"instance"}),
                     effective_from_ms=GRID.start + 1),)
    q = f'sum(rate(foo{F}[300s]))'
    assert _rewrite(spark, rules, q) == parse(q)


def test_include_picks_rule_with_needed_labels(spark):
    assert_opt(spark, INCLUDE_RULES_1, [
        (f'sum(rate(foo{F}[300s])) by (region)',
         f'sum(rate(foo:::agg1_2{F}[300s])) by (region)'),
        (f'sum(increase(foo{F}[300s])) by (region)',
         f'sum(increase(foo:::agg1_2{F}[300s])) by (region)'),
        # both levels routable for dc -> fewer included labels wins
        (f'sum(rate(foo{F}[300s])) by (dc)',
         f'sum(rate(foo:::agg1_1{F}[300s])) by (dc)'),
    ])


def test_include_shard_key_filters_exempt(spark):
    # _ws_/_ns_ matchers are always retained — they must not disqualify
    # an include rule that doesn't list them
    # (ruleRetainsNeededLabels: filterTags -- shardKeys)
    assert_opt(spark, INCLUDE_RULES_1, [
        (f'sum(rate(foo{{_ws_="demo",_ns_="x",dc="d1"}}[300s])) by (dc)',
         f'sum(rate(foo:::agg1_1{{_ws_="demo",_ns_="x",dc="d1"}}[300s])) by (dc)'),
    ])


def test_include_without_never_routes(spark):
    q = f'sum(rate(foo{F}[300s])) without (guid)'
    assert _rewrite(spark, INCLUDE_RULES_1, q) == parse(q)


def test_nested_aggregation_rewrites_inner(spark):
    # min(sum(rate(foo)) by (container)) — the inner aggregate routes
    eng = _engine(spark, EXCLUDE_RULES_1)
    inner = parse(f'sum(rate(foo{F}[300s])) by (container)')
    got = eng._maybe_preagg_rewrite(inner, GRID)
    assert got == parse(f'sum(rate(foo:::agg1_1{F}[300s])) by (container)')


def test_rewritten_routing_still_answers(spark):
    """End-to-end: the upgraded router still fires on real data and
    falls back identically (regression for the rewrite rework)."""
    import pyspark.sql.functions as F_
    rows = []
    for job, inst in (("w", "1"), ("w", "2"), ("d", "3")):
        for i in range(5):
            rows.append(({"__name__": "m", "job": job, "inst": inst},
                         1_000_000 + i * 10_000, 1.0))
    raw = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    pre = spark.createDataFrame(
        [({"__name__": "m:::agg", "job": "w"}, 1_040_000, 100.0),
         ({"__name__": "m:::agg", "job": "d"}, 1_040_000, 50.0)],
        "labels map<string,string>, ts long, value double")
    store = TsStore(raw.unionByName(pre),
                    agg_rules={"m": (AggRule("agg",
                                             include=frozenset({"job"})),)},
                    preagg_ready_until_ms=2_000_000)
    eng = PromQLEngine(spark, store)
    t = 1_040_000
    routed = eng.query_range("sum by (job) (sum_over_time(m[50s]))",
                             t, t, 10_000).collect()
    assert {r["labels"]["job"]: r["value"] for r in routed} == \
        {"w": 100.0, "d": 50.0}  # preagg values, not raw 10/5
    raw_ans = eng.query_range(
        "no_optimize(sum by (job) (sum_over_time(m[50s])))",
        t, t, 10_000).collect()
    assert {r["labels"]["job"]: r["value"] for r in raw_ans} == \
        {"w": 10.0, "d": 5.0}


def test_weird_wrong_column_cases_not_optimized(spark):
    # "should not optimize wierd cases where query already has a column
    # that is not the right aggregation column" (:197-210) — expressible
    # subset (raw-metric ::col selectors don't exist here)
    for q in (f'sum(rate(foo:::agg1_1:min{F}[300s])) by (container)',
              f'min(rate(foo:::agg1_1:sum{F}[300s])) by (container)',
              f'min(rate(foo:::agg1_1{F}[300s]))',
              f'max(sum_over_time(foo:::agg1_1:count{F}[300s]))'):
        assert _rewrite(spark, EXCLUDE_RULES_1, q) == parse(q), q


@pytest.mark.slow
def test_join_one_side_optimizable_diverges_from_reference(spark):
    """DIVERGENCE TEST for the one deliberate planner deviation: the
    reference optimizes a BinaryJoin ONLY when BOTH sides are
    optimizable (LogicalPlan.scala:671-683 — raw and preagg datasets
    can have different retention periods, so a one-sided rewrite could
    produce results "not explainable easily to the user"). This engine
    rewrites each aggregation independently, join or not: value-safe
    here because both sides read the SAME store and the
    preagg_ready_until_ms watermark gates routing on the same query
    range for both sides. Pinned here:
      (1) the plan divergence — with only the lhs metric ruled, the
          lhs routes to the preagg metric while the rhs stays raw
          (poisoned preagg values prove the route; the reference would
          have evaluated both sides raw);
      (2) value parity — with HONEST preagg rollups the optimized join
          equals the no_optimize evaluation exactly, so the divergence
          is plan-level only."""
    import pyspark.sql.functions as F_
    rows = []
    for m, v in (("m", 1.0), ("n", 2.0)):
        for job, inst in (("w", "1"), ("w", "2"), ("d", "3")):
            for i in range(5):
                rows.append(({"__name__": m, "job": job, "inst": inst},
                             1_000_000 + i * 10_000, v))
    raw = spark.createDataFrame(
        rows, "labels map<string,string>, ts long, value double")
    rules = {"m": (AggRule("agg", include=frozenset({"job"})),)}
    t = 1_040_000
    join_q = ("sum by (job) (sum_over_time(m[50s])) + "
              "sum by (job) (sum_over_time(n[50s]))")

    # (1) poisoned preagg: the answer carries the preagg lhs + raw rhs
    poisoned = spark.createDataFrame(
        [({"__name__": "m:::agg", "job": "w"}, t, 100.0),
         ({"__name__": "m:::agg", "job": "d"}, t, 50.0)],
        "labels map<string,string>, ts long, value double")
    eng = PromQLEngine(spark, TsStore(
        raw.unionByName(poisoned), agg_rules=rules,
        preagg_ready_until_ms=2_000_000))
    got = {r["labels"]["job"]: r["value"]
           for r in eng.query_range(join_q, t, t, 10_000).collect()}
    # lhs from preagg (100/50), rhs from raw (n: 2 insts x 5 x 2 = 20 /
    # 1 inst x 5 x 2 = 10). The REFERENCE would answer {w: 30, d: 15}
    # (both sides raw) — that is exactly its no_optimize answer:
    assert got == {"w": 120.0, "d": 60.0}
    ref = {r["labels"]["job"]: r["value"]
           for r in eng.query_range(f"no_optimize({join_q})",
                                    t, t, 10_000).collect()}
    assert ref == {"w": 30.0, "d": 15.0}

    # (2) honest preagg rollups: optimized == raw, exactly
    honest = raw.where(F_.col("labels")["__name__"] == "m").groupBy(
        F_.col("labels")["job"].alias("job"), "ts").agg(
        F_.sum("value").alias("value")).select(
        F_.create_map(F_.lit("__name__"), F_.lit("m:::agg"),
                      F_.lit("job"), F_.col("job")).alias("labels"),
        "ts", "value")
    eng2 = PromQLEngine(spark, TsStore(
        raw.unionByName(honest), agg_rules=rules,
        preagg_ready_until_ms=2_000_000))
    opt = {r["labels"]["job"]: r["value"]
           for r in eng2.query_range(join_q, t, t, 10_000).collect()}
    no_opt = {r["labels"]["job"]: r["value"]
              for r in eng2.query_range(f"no_optimize({join_q})",
                                        t, t, 10_000).collect()}
    assert opt == no_opt == {"w": 30.0, "d": 15.0}
