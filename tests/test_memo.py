"""Laws for the r14 session memos: gate scalars are computed once per
(application, plan), distinct plans never share an entry (a hash
collision included), one-shot consumers pin no cache, and the x6
manifest's shared-source row counts equal the real dataset counts."""

from __future__ import annotations

from serverless_smurf_etl_and_analytics_spark import tables
from serverless_smurf_etl_and_analytics_spark.operators import export, memo
from serverless_smurf_etl_and_analytics_spark.plans.registry import (
    R_END,
    R_START,
)

SF_DIR = "/root/testdata/sf0.001"


def test_plan_scalar_computes_once_per_plan(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    calls = []

    def compute():
        calls.append(1)
        return docs.count()

    a = memo.plan_scalar(docs, "test_kind", compute)
    b = memo.plan_scalar(docs, "test_kind", compute)
    assert a == b == docs.count()
    assert len(calls) == 1  # second call served from the memo
    # an equal plan built independently hits the same entry
    docs2 = tables.load(spark, SF_DIR, "documents")
    c = memo.plan_scalar(docs2, "test_kind", lambda: calls.append(1) or -1)
    assert c == a and len(calls) == 1


def test_plan_scalar_distinguishes_plans_and_kinds(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    emb = tables.load(spark, SF_DIR, "embeddings")
    assert memo.memoized_count(docs) == docs.count()
    assert memo.memoized_count(emb) == emb.count()
    # a filtered plan is a different key, not a stale hit
    half = docs.filter("doc_id % 2 = 0")
    assert memo.memoized_count(half) == half.count()
    # same plan, different kind -> independent entries
    assert (
        memo.plan_scalar(docs, "other_kind", lambda: "x") == "x"
    )


def test_plan_scalar_recomputes_on_a_planted_hash_collision(spark):
    """Two plans that share a semantic hash never share a value: an
    entry under the caller's key whose stored plan differs is
    recomputed and replaced, not served."""
    docs = tables.load(spark, SF_DIR, "documents")
    other = docs.filter("doc_id % 2 = 0")
    plan = docs._jdf.queryExecution().analyzed()
    key = (spark.sparkContext.applicationId, "collide", plan.semanticHash())
    memo._MEMO[key] = (other._jdf.queryExecution().analyzed(), "stale")
    calls = []
    got = memo.plan_scalar(
        docs, "collide", lambda: calls.append(1) or "fresh"
    )
    assert got == "fresh" and calls == [1]
    assert memo._MEMO[key][1] == "fresh"
    # the replaced entry now serves its own plan
    assert memo.plan_scalar(docs, "collide", lambda: "again") == "fresh"


def test_one_shot_consumers_pin_no_cache(spark):
    """A single-output insight or export entry point builds only the
    frame it returns and persists nothing; render_report releases the
    frames it persisted for its three insight sections."""
    from serverless_smurf_etl_and_analytics_spark.operators import (
        insights,
        report,
    )

    txns = tables.transactions(spark, SF_DIR)
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for df in (
        insights.classify_anomalies(txns),
        insights.trend_insights(txns),
        insights.recommendations(txns),
        export.export_anomalies(txns),
    ):
        assert df.collect()
    assert cache_manager.isEmpty()
    assert "ANOMALIES DETECTED" in report.render_report(
        txns, "2001-11-04", expected_stores=10
    )
    assert cache_manager.isEmpty()


def test_pq3_residual_pins_no_cache(spark):
    """pq3 persists its residual frame only while training reads it
    several times, and releases it once training has consumed it."""
    from serverless_smurf_etl_and_analytics_spark.operators import (
        clustering,
    )

    emb = tables.load(spark, SF_DIR, "embeddings")
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    codes, _ = clustering.pq_train_encode_residual(emb)
    assert codes.collect()
    assert cache_manager.isEmpty()


def test_table_loaders_memoized_per_path(spark):
    """r14: the testdata loaders hand back ONE constructed frame per
    (application, directory[, table]) — repeat calls skip the parquet
    listing/schema/mapping assembly — and distinct directories never
    share an entry."""
    txns = tables.transactions(spark, SF_DIR)
    assert tables.transactions(spark, SF_DIR) is txns
    assert tables.transactions(spark, "/root/testdata/sf0.01") is not txns
    docs = tables.load(spark, SF_DIR, "documents")
    assert tables.load(spark, SF_DIR, "documents") is docs
    assert tables.load(spark, SF_DIR, "embeddings") is not docs


def test_manifest_counts_match_real_datasets(spark):
    """x6's row counts come from shared persisted sources (the daily
    MV, the anomaly set, the shared rank rows) — each a row-preserving
    step away from its dataset plan. This pins the equality against
    the REAL dataset frames, so a restructure that breaks
    row-preservation fails here before it can drift the manifest."""
    txns = tables.transactions(spark, SF_DIR)
    manifest = {
        r["dataset"]: (r["row_count"], r["column_count"])
        for r in export.export_manifest(txns, R_START, R_END).collect()
    }
    ds = export.export_datasets(txns, R_START, R_END)
    assert set(manifest) == set(ds)
    for name, df in ds.items():
        assert manifest[name] == (df.count(), len(df.columns)), name


def test_clear_operator_caches_frees_memos_and_gather_broadcast(
    spark, tmp_path
):
    """A memoized loader frame pins its directory's file listing; after
    ``session.clear_operator_caches`` the next load sees a part file
    added since, the live near-dup gather broadcast is released, and
    the next registry query persists the shared store-day MVs again."""
    from pyspark.storagelevel import StorageLevel

    from serverless_smurf_etl_and_analytics_spark import session
    from serverless_smurf_etl_and_analytics_spark.operators import (
        metrics,
        similarity,
    )
    from serverless_smurf_etl_and_analytics_spark.plans import registry

    registry.QUERIES["a1_store_day_metrics"](spark, SF_DIR).collect()
    path = str(tmp_path / "t.parquet")
    spark.range(3).write.parquet(path)
    assert tables.load(spark, str(tmp_path), "t").count() == 3
    spark.range(10, 15).coalesce(1).write.mode("append").parquet(path)
    # the memoized frame still lists the old file set
    assert tables.load(spark, str(tmp_path), "t").count() == 3
    emb = tables.load(spark, SF_DIR, "embeddings")
    similarity._build_gather_bc(
        similarity.band_bits(emb, 8).select("vec_id", "n2", "embedding")
    )
    assert similarity._GATHER_BC

    session.clear_operator_caches(spark)

    assert tables.load(spark, str(tmp_path), "t").count() == 8
    assert similarity._GATHER_BC == []
    app = spark.sparkContext.applicationId
    assert not any(k[0] == app for k in memo._MEMO)
    registry.QUERIES["a1_store_day_metrics"](spark, SF_DIR).collect()
    mv = metrics.store_day_metrics(tables.transactions(spark, SF_DIR))
    assert mv.storageLevel == StorageLevel.MEMORY_AND_DISK
