"""Additivity laws for the co-purchase partial layer (r8): per-
order_date partials merge to EXACTLY the direct co1 answer, shards
are a disjoint partition of the pair multiset, and a range merge
answers the "orders started in [a, b]" question without rescanning
facts — the kmv/hll/hist daily-materialize pattern extended to the
item-item CF matrix. The sharding key is the ORDER's min sale_date
(lines of one order ship on several dates, so pair counts are only
additive over a partition of orders — see co_pair_daily docstring).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from serverless_smurf_etl_and_analytics_spark import tables
from serverless_smurf_etl_and_analytics_spark.operators import artifacts, joins

from conftest import SF_DIR


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _order_dates(txns):
    return txns.groupBy("transaction_id").agg(
        F.min("sale_date").alias("order_date")
    )


def test_co_merge_over_all_shards_equals_direct(spark):
    # the direct (basket-count, no daily grain) form is the law's
    # comparison side — co1 itself rides the merge form since r13
    txns = tables.transactions(spark, SF_DIR)
    daily = joins.co_pair_daily(txns)
    got = _rows(joins.co_merge_topk(daily, 3))
    assert got == _rows(joins._sku_copurchase_direct(txns, 3))
    assert got == _rows(joins.sku_copurchase_topk(txns, 3))
    assert got, "empty co table"


def test_co_range_merge_equals_direct_over_qualifying_orders(spark):
    """Filtering partials by order_date must equal co1 computed over
    exactly the orders starting in the range (ALL their lines kept,
    whatever date they ship)."""
    txns = tables.transactions(spark, SF_DIR)
    od = _order_dates(txns)
    mid = sorted(r["order_date"] for r in od.collect())[
        od.count() // 2
    ]
    daily = joins.co_pair_daily(txns)
    got = _rows(
        joins.co_merge_topk(
            daily.filter(F.col("order_date") <= F.lit(mid)), 3
        )
    )
    qualifying = txns.join(
        od.filter(F.col("order_date") <= F.lit(mid)).select(
            "transaction_id"
        ),
        "transaction_id",
    )
    assert got == _rows(joins.sku_copurchase_topk(qualifying, 3))
    assert got, "empty sub-range co table"


def test_co_shards_are_disjoint_union(spark):
    """co_pair_daily over order-split halves unions to the full
    table — one order's rows live in exactly one shard, so a day's
    partial appends without touching prior days."""
    txns = tables.transactions(spark, SF_DIR)
    od = _order_dates(txns)
    mid = sorted(r["order_date"] for r in od.collect())[
        od.count() // 2
    ]
    early = txns.join(
        od.filter(F.col("order_date") <= F.lit(mid)).select(
            "transaction_id"
        ),
        "transaction_id",
    )
    late = txns.join(
        od.filter(F.col("order_date") > F.lit(mid)).select(
            "transaction_id"
        ),
        "transaction_id",
    )
    a = joins.co_pair_daily(early)
    b = joins.co_pair_daily(late)
    assert _rows(a.unionByName(b)) == _rows(joins.co_pair_daily(txns))


def test_triangles_from_merged_partials_equal_direct(spark):
    """tri1's census over the daily-layer-derived top-k equals the
    fact-derived form — the wedge join never needs facts once the
    partials exist (the same reuse that makes co2 O(partials))."""
    from serverless_smurf_etl_and_analytics_spark.operators import graph

    txns = tables.transactions(spark, SF_DIR)
    daily = joins.co_pair_daily(txns)
    via_merge = _rows(
        graph.triangles_from_topk(joins.co_merge_topk(daily, 3))
    )
    assert via_merge == _rows(graph.copurchase_triangles(txns))
    assert via_merge, "empty triangle census"


def test_co_artifact_gate_keeps_inline_plan_below_min(spark):
    """Below _CO_ARTIFACT_MIN fact rows (every driver scale, the
    pinned bench), co_range_topk(cache='auto') must build the EXACT
    inline composition — no fingerprint scan, no artifact."""
    txns = tables.transactions(spark, SF_DIR)
    assert txns.count() < joins._CO_ARTIFACT_MIN
    auto = joins.co_range_topk(txns, "2000-01-01", "2001-12-31")
    inline = joins.co_merge_topk(
        joins.co_pair_daily(txns).filter(
            F.col("order_date").between("2000-01-01", "2001-12-31")
        ),
        3,
    )
    assert (
        auto._jdf.queryExecution().analyzed().semanticHash()
        == inline._jdf.queryExecution().analyzed().semanticHash()
    )


def test_co_artifact_explicit_root_and_advance_laws(spark, tmp_path):
    """Explicit root: the partial table persists under co_v1_*, and
    the artifact-backed range merge equals the inline answer. Advance:
    a new ORDER shard appends O(shard) under the grown corpus's key
    (hard-linked old files), and consumers re-aggregate the repeated
    (date, sku, partner) keys to exactly the full-corpus answer."""
    import os

    txns = tables.transactions(spark, SF_DIR)
    od = _order_dates(txns)
    mid = sorted(r["order_date"] for r in od.collect())[od.count() // 2]
    early = txns.join(
        od.filter(F.col("order_date") <= F.lit(mid)).select(
            "transaction_id"
        ),
        "transaction_id",
    )
    late = txns.join(
        od.filter(F.col("order_date") > F.lit(mid)).select(
            "transaction_id"
        ),
        "transaction_id",
    )
    root = str(tmp_path)
    fp_early = artifacts.corpus_fingerprint(early, artifacts.TXN_COLS)
    fp_full = artifacts.corpus_fingerprint(txns, artifacts.TXN_COLS)

    got = _rows(joins.co_range_topk(early, "1990-01-01", "2099-01-01",
                                    cache=root, fingerprint=fp_early))
    assert got == _rows(joins.sku_copurchase_topk(early, 3))
    old_dir = next(
        os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("co_v1_")
    )

    assert joins.CO_DAILY.advance(late, fp_early, fp_full, root)
    new_dir = next(
        os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("co_v1_") and n != os.path.basename(old_dir)
    )
    old_inodes = {
        os.stat(os.path.join(old_dir, f)).st_ino
        for f in os.listdir(old_dir)
        if not f.startswith(("_", "."))
    }
    new_inodes = {
        os.stat(os.path.join(new_dir, f)).st_ino
        for f in os.listdir(new_dir)
        if not f.startswith(("_", "."))
    }
    assert old_inodes <= new_inodes and len(new_inodes) > len(old_inodes)
    # full-corpus query now hits the advanced key and re-aggregates
    # the unioned shard rows to the direct answer
    got_full = _rows(
        joins.co_range_topk(txns, "1990-01-01", "2099-01-01",
                            cache=root, fingerprint=fp_full)
    )
    assert got_full == _rows(joins.sku_copurchase_topk(txns, 3))


def test_txn_fingerprint_matches_ledger(spark, tmp_path):
    """The transaction scan fingerprint == the tablelog ledger pair over
    the same columns, so a maintained fact table feeds co2/tri2's
    artifact gate with zero scans."""
    from serverless_smurf_etl_and_analytics_spark.sources import tablelog

    cols = ["transaction_id", "item_sku", "sale_date"]
    txns = tables.transactions(spark, SF_DIR).select(*cols)
    t = str(tmp_path / "txns")
    half_a = txns.filter(F.col("transaction_id") % 2 == 0)
    half_b = txns.filter(F.col("transaction_id") % 2 == 1)
    tablelog.commit_version(
        spark, t, half_a, mode="overwrite", fingerprint_cols=cols
    )
    tablelog.commit_version(
        spark, t, half_b, mode="append", fingerprint_cols=cols
    )
    assert tablelog.ledger_fingerprint(
        t, cols
    ) == artifacts.corpus_fingerprint(tablelog.read_version(spark, t), cols)
