"""Laws for the ledger-maintained corpus layer (``corpus.py`` —
VERDICT r9 tasks 2+5): artifacts are maintained AT INGEST TIME
(built on the first shard, advanced in O(shard) on every later one),
and a cold query session afterwards runs with ZERO corpus scans and
ZERO artifact builds — the cache key comes from the commit ledger,
the artifact from the cache, and the only Spark work is the artifact
read plus the query's own aggregation. Results must equal the inline
full-corpus plans exactly."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serverless_smurf_etl_and_analytics_spark import corpus, tables
from serverless_smurf_etl_and_analytics_spark.operators import (
    artifacts,
    clustering,
    dedup,
    export,
    history,
    joins,
    memo,
    metrics,
    similarity,
    textops,
)
from serverless_smurf_etl_and_analytics_spark.sources import tablelog

from conftest import SF_DIR


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _ban_scans_and_builds(monkeypatch, spark):
    """From here on: any corpus-scan job (count, fingerprint
    aggregate) or any artifact BUILD (atomic_write_parquet on a
    missing path) fails the test. Artifact reads and result collects
    stay allowed — a maintained-corpus cold query is exactly those.
    This application's memoized gate scalars are dropped first, so a
    count or fingerprint memoized before the ban cannot stand in for
    the ledger pair."""

    def boom(*a, **k):
        raise AssertionError(
            "corpus scan during maintained-corpus cold query"
        )

    app = spark.sparkContext.applicationId
    for key in [k for k in memo._MEMO if k[0] == app]:
        monkeypatch.delitem(memo._MEMO, key)
    monkeypatch.setattr(DataFrame, "count", boom)
    monkeypatch.setattr(artifacts, "corpus_fingerprint", boom)

    real_write = artifacts.atomic_write_parquet

    def hit_only(df, path):
        assert os.path.exists(path), (
            f"artifact BUILD during maintained-corpus cold query: {path}"
        )
        return real_write(df, path)

    monkeypatch.setattr(artifacts, "atomic_write_parquet", hit_only)


def _open_gates(monkeypatch):
    """Drop the query-side 'auto' size gates so the sf0.001 corpora
    exercise the artifact lookup path the production scales use (the
    gates exist to keep tiny inline plans byte-identical, not to
    protect correctness — law-tested elsewhere)."""
    for kind in artifacts.KINDS.values():
        monkeypatch.setattr(kind, "floor", 0)


def test_document_corpus_ingest_then_zero_scan_queries(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "cache")
    monkeypatch.setenv("SMURF_ARTIFACT_CACHE", root)
    t = str(tmp_path / "docs")
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)

    # inline expectations over the FULL corpus, before any banning
    d4_inline = _rows(
        dedup.minhash_neardup_pairs(docs, 0.5).select("doc_a", "doc_b")
    )
    d6_inline = _rows(dedup.simhash_neardup_pairs(docs, 6, 128))
    wn1_inline = _rows(textops.winnow_overlap(docs, min_shared=2))

    # ingest: first shard builds every family, second advances them
    s1 = corpus.ingest_documents(spark, t, a)
    s2 = corpus.ingest_documents(spark, t, b)
    assert [s1[f] for f in corpus.DOC_FAMILIES] == ["built"] * 4
    assert [s2[f] for f in corpus.DOC_FAMILIES] == ["advanced"] * 4
    # the recorded ledger pair equals the scan pair over the table
    assert s2["fingerprint"] == artifacts.corpus_fingerprint(
        corpus.snapshot_documents(spark, t)[0], artifacts.DOC_COLS
    )

    _open_gates(monkeypatch)
    _ban_scans_and_builds(monkeypatch, spark)
    assert _rows(
        corpus.minhash_neardup(spark, t, 0.5).select("doc_a", "doc_b")
    ) == d4_inline
    assert _rows(corpus.simhash_neardup(spark, t, 6)) == d6_inline
    assert (
        _rows(corpus.winnow_overlap_pairs(spark, t, min_shared=2))
        == wn1_inline
    )


def test_embedding_corpus_ingest_then_zero_scan_query(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "cache")
    monkeypatch.setenv("SMURF_ARTIFACT_CACHE", root)
    t = str(tmp_path / "emb")
    emb = tables.load(spark, SF_DIR, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)

    sim2_inline = _rows(
        similarity.cosine_neardup_pairs(emb, 0.3, band_cache=None)
    )

    s1 = corpus.ingest_embeddings(spark, t, a)
    s2 = corpus.ingest_embeddings(spark, t, b)
    assert s1["band"] == "built" and s2["band"] == "advanced"

    _open_gates(monkeypatch)
    _ban_scans_and_builds(monkeypatch, spark)
    assert _rows(corpus.cosine_neardup(spark, t, 0.3)) == sim2_inline


def test_transaction_corpus_ingest_then_zero_scan_copurchase(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "cache")
    monkeypatch.setenv("SMURF_ARTIFACT_CACHE", root)
    t = str(tmp_path / "txns")
    txns = tables.transactions(spark, SF_DIR).select(
        "transaction_id", "item_sku", "sale_date"
    )
    # shards must be partitions of ORDERS (complete baskets)
    a = txns.filter(F.col("transaction_id") % 2 == 0)
    b = txns.filter(F.col("transaction_id") % 2 == 1)
    start, end = "1992-01-01", "1998-12-31"

    co2_inline = _rows(joins.co_range_topk(txns, start, end, cache=None))

    s1 = corpus.ingest_transactions(spark, t, a)
    s2 = corpus.ingest_transactions(spark, t, b)
    assert s1["co_pair_daily"] == "built"
    assert s2["co_pair_daily"] == "advanced"

    _open_gates(monkeypatch)
    _ban_scans_and_builds(monkeypatch, spark)
    assert (
        _rows(corpus.copurchase_range_topk(spark, t, start, end))
        == co2_inline
    )


def test_transaction_corpus_daily_artifact_feeds_insight_exports(
    spark, tmp_path, monkeypatch
):
    """r12 (VERDICT r11 task 8): the maintained store-day daily
    artifact answers the x3/x4 insight-export chains with zero fact
    scans, exactly equal to the inline plans — under an ADVERSARIAL
    shard split (odd/even transaction ids, so shards share (store,
    day) groups and the advanced artifact holds partial rows per key;
    sum/count decomposability is the claim under test)."""
    root = str(tmp_path / "cache")
    monkeypatch.setenv("SMURF_ARTIFACT_CACHE", root)
    t = str(tmp_path / "txns")
    txns = tables.transactions(spark, SF_DIR)
    a = txns.filter(F.col("transaction_id") % 2 == 0)
    b = txns.filter(F.col("transaction_id") % 2 == 1)

    start, end = "1992-01-01", "1998-12-31"
    # inline expectations over the FULL corpus, before any banning
    x1_inline = _rows(export.export_store_summaries(txns, start, end))
    x2_inline = _rows(export.export_top_products(txns, start, end))
    x3_inline = _rows(export.export_anomalies(txns))
    x4_inline = _rows(export.export_trends(txns))
    x5_inline = _rows(export.export_recommendations(txns))
    daily_inline = _rows(history.store_daily_cents(txns))

    s1 = corpus.ingest_transactions(spark, t, a)
    s2 = corpus.ingest_transactions(spark, t, b)
    assert s1["store_daily"] == "built"
    assert s2["store_daily"] == "advanced"
    assert s1["product_daily"] == "built"
    assert s2["product_daily"] == "advanced"

    # the advanced artifacts' keys must be present (the queries below
    # would otherwise silently fall back to the inline aggregation)
    n, h = s2["fingerprint"]
    assert os.path.isdir(os.path.join(root, f"sdc_v2_n{n}_h{h}"))
    assert os.path.isdir(os.path.join(root, f"psd_v1_n{n}_h{h}"))

    _open_gates(monkeypatch)
    _ban_scans_and_builds(monkeypatch, spark)
    assert _rows(corpus.store_daily(spark, t)) == daily_inline
    assert (
        _rows(corpus.export_store_summaries(spark, t, start, end))
        == x1_inline
    )
    assert (
        _rows(corpus.export_top_products(spark, t, start, end))
        == x2_inline
    )
    assert _rows(corpus.export_anomalies(spark, t)) == x3_inline
    assert _rows(corpus.export_trends(spark, t)) == x4_inline
    assert _rows(corpus.export_recommendations(spark, t)) == x5_inline


def test_keys_only_transaction_shard_skips_daily_family(
    spark, tmp_path, monkeypatch
):
    """A corpus ingested from fingerprint-keys-only shards (the co
    family needs nothing more) must still commit cleanly — the daily
    family is skipped with an explicit stat, never a crash or an
    empty artifact under a valid key."""
    monkeypatch.setenv("SMURF_ARTIFACT_CACHE", str(tmp_path / "cache"))
    t = str(tmp_path / "txns")
    txns = tables.transactions(spark, SF_DIR).select(
        "transaction_id", "item_sku", "sale_date"
    )
    s1 = corpus.ingest_transactions(spark, t, txns)
    assert s1["store_daily"].startswith("skipped")
    assert s1["product_daily"].startswith("skipped")
    assert s1["co_pair_daily"] == "built"


def test_failed_family_build_is_recorded_not_claimed(
    spark, tmp_path, monkeypatch
):
    """ADVICE r12: when a family's lookup returns None (the artifact
    lookup falls back to None on environmental errors), the ingest stats
    must record ``build-failed`` — never claim ``built`` for an
    artifact that was not published."""
    monkeypatch.setenv("SMURF_ARTIFACT_CACHE", str(tmp_path / "cache"))
    t = str(tmp_path / "txns")
    txns = tables.transactions(spark, SF_DIR)
    monkeypatch.setattr(
        history.STORE_DAILY, "lookup", lambda *a, **k: None
    )
    s1 = corpus.ingest_transactions(spark, t, txns)
    assert s1["store_daily"] == "build-failed"
    assert s1["co_pair_daily"] == "built"
    assert s1["product_daily"] == "built"


def test_banned_lookup_failure_propagates(spark, tmp_path, monkeypatch):
    """ADVICE r12: an AssertionError raised INSIDE the cached lookup
    (the suite's scan/build ban hooks patch atomic_write_parquet and
    the fingerprint aggregate inside ``artifacts.Kind.lookup``) must
    propagate, not degrade to the silent inline fallback — for every
    artifact kind."""
    import pytest

    monkeypatch.setenv("SMURF_ARTIFACT_CACHE", str(tmp_path / "cache"))
    txns = tables.transactions(spark, SF_DIR)
    docs = tables.load(spark, SF_DIR, "documents")
    emb = tables.load(spark, SF_DIR, "embeddings")

    def boom(*a, **k):
        raise AssertionError("banned build")

    monkeypatch.setattr(artifacts, "atomic_write_parquet", boom)
    root = str(tmp_path / "cache")
    with pytest.raises(AssertionError, match="banned build"):
        history.STORE_DAILY.lookup(txns, root)
    with pytest.raises(AssertionError, match="banned build"):
        metrics.PRODUCT_DAILY.lookup(txns, root)
    with pytest.raises(AssertionError, match="banned build"):
        joins.CO_DAILY.lookup(txns, root)
    with pytest.raises(AssertionError, match="banned build"):
        dedup.shingle_rows(docs, 2, cache=root)
    with pytest.raises(AssertionError, match="banned build"):
        dedup.minhash_signatures(docs, cache=root)
    with pytest.raises(AssertionError, match="banned build"):
        dedup.simhash(docs, 128, cache=root)
    with pytest.raises(AssertionError, match="banned build"):
        textops.winnow_fingerprints(docs, cache=root)
    with pytest.raises(AssertionError, match="banned build"):
        similarity.cosine_neardup_pairs(emb, 0.3, band_cache=root)
    with pytest.raises(AssertionError, match="banned build"):
        clustering.kmeans_train(emb, cache=root)
    with pytest.raises(AssertionError, match="banned build"):
        clustering.pq_train_encode(emb, cache=root)


def test_ingest_advance_survives_nondeterministic_shard(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10 (medium): every artifact advance must derive from
    the commit's own staged files — never from re-evaluating the
    caller's shard plan, which a nondeterministic source would let
    drift from what the ledger fingerprint hashed. Proven two ways:
    (a) the advance input reads ONLY files inside the table dir that
    the parent version does not list; (b) end-to-end — the shard's
    SOURCE is destroyed before the advances run, yet the maintained
    queries still equal the inline full-corpus results."""
    import shutil

    monkeypatch.setenv("SMURF_ARTIFACT_CACHE", str(tmp_path / "cache"))
    t = str(tmp_path / "docs")
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    d4_inline = _rows(
        dedup.minhash_neardup_pairs(docs, 0.5).select("doc_a", "doc_b")
    )

    corpus.ingest_documents(spark, t, a)
    v0_files = set(tablelog.read_version(spark, t, 0).inputFiles())

    # shard b arrives via a scratch source that VANISHES post-commit
    scratch = str(tmp_path / "scratch")
    b.write.mode("overwrite").parquet(scratch)
    shard = spark.read.parquet(scratch)

    seen: dict = {}
    real_advance = dedup.SHINGLE.advance

    def capture_then_mutate(new_docs, *args, **kw):
        seen["files"] = new_docs.inputFiles()
        shutil.rmtree(scratch)  # the caller's plan is now unreadable
        return real_advance(new_docs, *args, **kw)

    monkeypatch.setattr(dedup.SHINGLE, "advance", capture_then_mutate)
    s2 = corpus.ingest_documents(spark, t, shard)
    assert [s2[f] for f in corpus.DOC_FAMILIES] == ["advanced"] * 4

    # (a) the advance consumed committed bytes, not the scratch source
    files = set(seen["files"])
    assert files and not (files & v0_files)
    assert all(os.path.realpath(f.replace("file:", "")).startswith(
        os.path.realpath(t)
    ) for f in files)

    # (b) the maintained query over the advanced artifacts is exact
    _open_gates(monkeypatch)
    _ban_scans_and_builds(monkeypatch, spark)
    assert _rows(
        corpus.minhash_neardup(spark, t, 0.5).select("doc_a", "doc_b")
    ) == d4_inline


def test_custom_root_corpus_queries_hit_without_rebuild(
    spark, tmp_path, monkeypatch
):
    """ADVICE r10: ``cache=`` on ingest_* must pair with a ``cache=``
    on the query wrappers — ingesting into a custom root then querying
    it must HIT the maintained artifacts (zero scans, zero builds),
    not silently rebuild. The env root points elsewhere to prove the
    custom root is the one consulted."""
    monkeypatch.setenv(
        "SMURF_ARTIFACT_CACHE", str(tmp_path / "env_root")
    )
    root = str(tmp_path / "custom_root")
    t = str(tmp_path / "docs")
    te = str(tmp_path / "emb")
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    emb = tables.load(spark, SF_DIR, "embeddings").select(
        "vec_id", "label", "embedding"
    )

    d4_inline = _rows(
        dedup.minhash_neardup_pairs(docs, 0.5).select("doc_a", "doc_b")
    )
    d6_inline = _rows(dedup.simhash_neardup_pairs(docs, 6, 128))
    wn1_inline = _rows(textops.winnow_overlap(docs, min_shared=2))
    sim2_inline = _rows(
        similarity.cosine_neardup_pairs(emb, 0.3, band_cache=None)
    )

    corpus.ingest_documents(
        spark, t, docs.filter(F.col("doc_id") % 2 == 0), cache=root
    )
    corpus.ingest_documents(
        spark, t, docs.filter(F.col("doc_id") % 2 == 1), cache=root
    )
    corpus.ingest_embeddings(
        spark, te, emb.filter(F.col("vec_id") % 2 == 0), cache=root
    )
    corpus.ingest_embeddings(
        spark, te, emb.filter(F.col("vec_id") % 2 == 1), cache=root
    )

    _open_gates(monkeypatch)
    _ban_scans_and_builds(monkeypatch, spark)
    assert _rows(
        corpus.minhash_neardup(spark, t, 0.5, cache=root).select(
            "doc_a", "doc_b"
        )
    ) == d4_inline
    assert _rows(
        corpus.simhash_neardup(spark, t, 6, cache=root)
    ) == d6_inline
    assert _rows(
        corpus.winnow_overlap_pairs(spark, t, min_shared=2, cache=root)
    ) == wn1_inline
    assert _rows(
        corpus.cosine_neardup(spark, te, 0.3, cache=root)
    ) == sim2_inline
