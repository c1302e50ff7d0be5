"""Physical-plan quality guards: the scale properties the 100 TB
design depends on, asserted against the actual planner output so a
refactor that silently loses pushdown / broadcast / MV substitution /
bounded-cross-join discipline fails CI, not the next scale rehearsal.
"""

from __future__ import annotations

import re

import pytest

from serverless_smurf_etl_and_analytics_spark.plans import registry

from conftest import SF_DIR

# The ONLY plans allowed to contain a nested-loop/cartesian join: the
# dense dates x stores grid family (both sides bounded dimensions,
# SURVEY J5), t8's broadcast attach of the scalar corpus doc count,
# and rj1's range join whose broadcast side is the top-10 bounded
# interval set (the binned equi-join strategy is the at-scale path,
# law-tested equal in test_timejoin.py).
ALLOWED_NESTED_LOOP = {
    "j5_dense_date_store_grid",
    "j5_wide_pivot_timeseries",
    "j5_wide_serialized",
    "t8_doc_frequency",
    "tf1_tfidf_keywords",  # same broadcast scalar-count attach as t8
    "t10_familiarity",  # same broadcast scalar-count attach as t8
    "rj1_busy_window_events",
    # sk3's (store_a < store_b) pair join: both sides are the
    # |stores|-bounded KMV sketch table (<= k-element arrays), never
    # facts — the |stores|^2 pair space IS the operator's output grain
    "sk3_kmv_set_overlap",
}


def _plan(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_unexpected_cross_or_nested_loop_joins(spark):
    offenders = {}
    for name in registry.QUERIES:
        plan = _plan(spark, name)
        kinds = [
            k
            for k in ("CartesianProduct", "BroadcastNestedLoopJoin")
            if k in plan
        ]
        if kinds:
            offenders[name] = kinds
    assert set(offenders) <= ALLOWED_NESTED_LOOP, (
        f"unexpected cross/nested-loop joins: "
        f"{ {k: v for k, v in offenders.items() if k not in ALLOWED_NESTED_LOOP} }"
    )
    # and none of them may be a true CartesianProduct (the allowed ones
    # broadcast a bounded side)
    assert not [n for n, k in offenders.items() if "CartesianProduct" in k]


@pytest.mark.parametrize("name", ["p3_point_lookup", "p4_range_filter_daily"])
def test_predicate_pushdown_reaches_scan(spark, name):
    plan = _plan(spark, name)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed, f"{name}: no parquet scan with PushedFilters in plan"
    assert any(p.strip() for p in pushed), (
        f"{name}: PushedFilters empty — predicate not reaching the scan"
    )


def test_dimension_join_broadcasts(spark):
    df = registry.QUERIES["j3_brand_revenue"](spark, SF_DIR)
    df.count()  # let AQE finalize strategy
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shared_store_day_mv_substitutes(spark):
    # any transactions-consuming query must read the cached store-day
    # MV, not rescan the fact table (plans/shared.py contract)
    plan = _plan(spark, "a1_store_day_metrics")
    assert "InMemoryTableScan" in plan


def test_asof_join_has_no_join_operator(spark):
    """aj1's as-of is the union+window form: the physical plan must
    contain a window over ONE keyed shuffle and NO join operator at
    all (a naive as-of via join+filter+argmax would show a join and
    an extra aggregation over exploded pairs)."""
    plan = _plan(spark, "aj1_event_order_asof")
    assert "Window" in plan
    for kind in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert kind not in plan, f"aj1 plan unexpectedly contains {kind}"


def test_kmv_plans_avoid_sort_merge_join(spark):
    """sk1/sk2 attach the exact-count audit via broadcast of the
    k-bounded sketch side — a SortMergeJoin would mean the bounded
    side got shuffled like a fact table."""
    for name in ("sk1_kmv_distinct_skus", "sk2_kmv_range_merge"):
        plan = _plan(spark, name)
        assert "SortMergeJoin" not in plan, name


def test_quantiles_scan_prunes_columns(spark):
    """q1 touches only payment_method (l_returnflag) and line_cents
    (l_extendedprice): column pruning must reach the parquet scan —
    reading l_partkey/l_quantity etc. for a 2-column rollup is
    exactly the waste the declarative plan is supposed to avoid."""
    plan = _plan(spark, "q1_payment_quantiles")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas, "no parquet ReadSchema in q1 plan"
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"l_returnflag", "l_extendedprice"}, cols


def test_profile_plan_has_no_expand(spark):
    # dq1's contract: distinct counts WITHOUT the Expand operator that
    # replicates every fact row once per distinct-aggregate
    plan = _plan(spark, "dq1_profile_columns")
    assert "Expand" not in plan, plan[:2000]


@pytest.mark.parametrize(
    ("name", "max_exchanges"),
    [
        # stacked same-partitioning windows over the store-day MV:
        # since r13 the MV is persisted already clustered by store_id
        # and sorted by (store_id, sale_date), so the consumer side of
        # the plan — everything ABOVE the cached relation, whose own
        # build internals are excluded from the count — must add NO
        # store_id exchange at all; a couple of tiny post-agg
        # exchanges are tolerated, the guard is against reverting to
        # one-shuffle-per-median chains
        ("cp1_cusum_changepoint", 2),
        ("z1_robust_zscore", 2),
        ("ewma1_smoothed_sales", 2),
    ],
)
def test_quality_windows_stay_on_few_exchanges(spark, name, max_exchanges):
    plan = _plan(spark, name).split("InMemoryRelation")[0]
    n = plan.count("Exchange hashpartitioning")
    assert n <= max_exchanges, f"{name}: {n} hash exchanges\n{plan[:1500]}"


def test_store_day_windows_reuse_mv_layout(spark):
    """The store-day MV is persisted hash-clustered by store_id and
    sorted by (store_id, sale_date) (history.store_daily_cents, r13):
    the trailing-window consumers must plan their Window directly over
    the cached relation — zero Exchange and zero Sort above the
    InMemoryTableScan (the whole point of emitting the MV in its
    consumers' layout, guide §2.4). The layout is only visible to the
    planner once the cache is materialized (a not-yet-built cached
    relation reports unknown partitioning, so the session's FIRST
    consumer conservatively keeps its own exchange), hence the
    materializing count before the plan reads."""
    registry.QUERIES["a7_trailing_7day"](spark, SF_DIR).count()
    for name in ("a7_trailing_7day", "a10_deviation_vs_trailing"):
        plan = _plan(spark, name)
        assert "InMemoryTableScan" in plan, name
        top = plan.split("InMemoryRelation")[0]
        assert "Exchange" not in top, f"{name}:\n{top[:1500]}"
        assert "+- Sort" not in top, f"{name}:\n{top[:1500]}"


def test_store_daily_cents_prunes_the_partial(spark):
    """history.store_daily_cents is a projection of the one store-day
    partial (metrics.store_day_partial): column pruning must drop the
    partial's countDistinct, so the optimized plan carries no
    count(DISTINCT) and no Expand. Built over an in-memory fact frame,
    so no persisted MV stands in for the plan."""
    from serverless_smurf_etl_and_analytics_spark.operators import history

    facts = spark.createDataFrame(
        [("0001", "2001-01-01", 7, 1250, 50, 2)],
        "store_id string, sale_date string, transaction_id long, "
        "line_cents long, discount_cents long, quantity long",
    )
    plan = history.store_daily_cents(facts)._jdf.queryExecution()
    optimized = plan.optimizedPlan().toString()
    assert "Aggregate" in optimized
    assert "count(distinct" not in optimized.lower(), optimized
    assert "Expand" not in optimized, optimized


def test_heavy_hitters_single_fact_scan(spark):
    """hh1's r4 shape (re-agg + broadcast join back) planned the
    per-SKU aggregation twice — two parquet scans, zero ReusedExchange
    and a measured 1.48x bench regression. The window-over-partial
    rewrite must keep it at ONE scan; this pins that."""
    # counted on the cache-stripped plan (ADVICE r13): if hh1 ever
    # consumes a persisted subtree, the raw string would count the
    # materialized relation's stored plan as phantom scans
    plan = _strip_cached_subplans(_plan(spark, "hh1_heavy_hitters"))
    assert plan.count("Scan parquet") == 1, plan[:1500]


@pytest.mark.parametrize("name", ["t10_familiarity", "tf1_tfidf_keywords"])
def test_token_stream_tokenizes_once(spark, name):
    """t10/tf1's tf subtree feeds both the vocabulary-df branch and
    the probe branch; the nullif-guarded df count (plus, for t10, the
    explicit isnotnull(doc_id) filter) keeps both branches canonically
    identical, so AQE reuses ONE shuffle stage and the dominant
    tokenize+explode pass runs once (r7: t10 sf10 cold 20.2s ->
    8.1s). A refactor that lets Catalyst prune the branches apart
    re-tokenizes the corpus — this pins the executed (final adaptive)
    plan."""
    df = registry.QUERIES[name](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Generate posexplode") == 1, final[:2500]
    assert "Reused" in final, final[:2500]


def _strip_cached_subplans(plan: str) -> str:
    """Drop every InMemoryRelation's STORED child plan from a plan
    string: once a cached relation has materialized under AQE its
    toString prints the stored plan twice (own Final + Initial Plan
    sections), so substring-counting "Scan parquet" over the raw
    string counts phantom scans that never execute (the reader is the
    InMemoryTableScan). Keeps the relation line itself.

    Depth is measured after normalizing the tree-drawing characters
    (':', '+', '-') to spaces (ADVICE r13): Spark renders non-last
    join branches with ':'-prefixed lines at CONSTANT leading-space
    depth, so raw leading-space indent would end the skip early for
    an InMemoryRelation inside a ':' branch. Blank lines inside a
    skipped body no longer reset the skip either — only a line at or
    above the relation's depth does."""
    out = []
    skip_indent = None

    def depth(ln: str) -> int:
        norm = ln.replace(":", " ").replace("+", " ").replace("-", " ")
        return len(norm) - len(norm.lstrip())

    for line in plan.splitlines():
        if skip_indent is not None:
            if not line.strip() or depth(line) > skip_indent:
                continue
            skip_indent = None
        if "InMemoryRelation" in line:
            skip_indent = depth(line)
        out.append(line)
    return "\n".join(out)


def test_sketch_drift_reads_no_facts_twice_per_window(spark):
    """qr2 answers from the per-day sketch layer: each window derives
    its sketches from the ONE persisted daily-sketch table, so the
    executed plan must read the fact table at most twice (once per
    window) outside cached-relation bodies — never the 4+ scans a
    naive est+exact-per-window plan would cost. Counted on the
    cache-stripped plan so the assertion is invariant to whether the
    shared daily table has already materialized this session."""
    plan = _strip_cached_subplans(_plan(spark, "qr2_cardinality_drift"))
    assert plan.count("Scan parquet") <= 2, plan[:1500]
