"""Laws for the r8 dedup-stage corpus artifacts (shingles, MinHash
signatures, SimHash signatures) — the per-doc pure stages of d2-d6,
d8, d10-d12 and src2, persisted across sessions like the LSH band
bits and winnow fingerprints. Each artifact must be (a) mergeable
shard-by-shard, (b) a row-identical stand-in for the inline plan, and
(c) gate-safe: "auto" caching below _DOC_ARTIFACT_MIN docs must build
the EXACT inline plan (driver scales and the pinned bench rely on it).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from serverless_smurf_etl_and_analytics_spark import tables
from serverless_smurf_etl_and_analytics_spark.operators import dedup

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return tables.load(spark, SF_DIR, "documents")


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_shingle_artifact_merge_and_equivalence(spark, docs, tmp_path):
    root = str(tmp_path)
    inline = _rows(dedup._shingle_rows_inline(docs, 2))
    cached = _rows(dedup.shingle_rows(docs, 2, cache=root))
    assert cached == inline and len(cached) > 0
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    path = dedup.SHINGLE.materialize(a, root, g=2)
    dedup.SHINGLE.append(b, path, g=2)
    assert _rows(spark.read.parquet(path)) == inline


def test_minhash_signature_artifact_equivalence(spark, docs, tmp_path):
    """Cached signature table == inline, INCLUDING the null rows for
    shingle-less docs (the artifact stores the complete per-doc
    table), and the chained build leaves both the signature and the
    shingle artifact in the cache (a cold miss never re-tokenizes)."""
    root = str(tmp_path)
    inline = _rows(
        dedup._minhash_signatures_from(
            docs, dedup._shingle_rows_inline(docs, 2), dedup.N_MINHASH
        )
    )
    cached = _rows(dedup.minhash_signatures(docs, cache=root))
    assert cached == inline and len(cached) == docs.count()
    names = os.listdir(root)
    assert any(n.startswith("mh_") for n in names)
    assert any(n.startswith("sh_") for n in names)


def test_minhash_artifact_merge_law(spark, docs, tmp_path):
    root = str(tmp_path)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    dedup.minhash_signatures(a, cache=root).count()
    path = next(
        os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("mh_")
    )
    dedup.MINHASH.append(b, path, k=dedup.N_MINHASH)
    merged = _rows(spark.read.parquet(path))
    direct = _rows(
        dedup._minhash_signatures_from(
            docs, dedup._shingle_rows_inline(docs, 2), dedup.N_MINHASH
        )
    )
    assert merged == direct


def test_simhash_artifact_equivalence_and_merge(spark, docs, tmp_path):
    root = str(tmp_path)
    for bits in (32, 128):
        inline = _rows(dedup._simhash_inline(docs, bits))
        cached = _rows(dedup.simhash(docs, bits, cache=root))
        assert cached == inline and len(cached) == docs.count(), bits
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    dedup.simhash(a, 32, cache=root).count()
    path = next(
        os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("simh_") and n.endswith("_b32")
    )
    dedup.SIMHASH.append(b, path, bits=32)
    assert _rows(spark.read.parquet(path)) == _rows(
        dedup._simhash_inline(docs, 32)
    )


def test_auto_gate_builds_inline_plan_below_min(spark, docs):
    """Below _DOC_ARTIFACT_MIN docs, cache="auto" must produce the
    EXACT inline plan (no artifact read, no fingerprint scan in the
    executed plan) — the property that keeps every driver-verified
    scale and the pinned sf0.1 bench byte-identical to r7."""
    auto = dedup.shingle_rows(docs, 2, cache="auto")
    inline = dedup._shingle_rows_inline(docs, 2)
    assert (
        auto._jdf.queryExecution().analyzed().semanticHash()
        == inline._jdf.queryExecution().analyzed().semanticHash()
    )


def test_d4_and_d6_pipelines_unchanged_by_gate(spark, docs, tmp_path):
    """End-to-end: the registered d4/d6 shapes produce identical pair
    sets whether the stage tables come from artifacts (explicit root)
    or the gated-off inline path."""
    root = str(tmp_path)
    inline_pairs = _rows(
        dedup.minhash_neardup_pairs(docs, 0.5).select("doc_a", "doc_b")
    )
    # force artifacts by pre-building, then lower the gate
    import serverless_smurf_etl_and_analytics_spark.operators.dedup as dd

    doc_kinds = (dd.SHINGLE, dd.MINHASH, dd.SIMHASH)

    def set_floor(floor):
        for kind in doc_kinds:
            kind.floor = floor

    old = dd._DOC_ARTIFACT_MIN
    os.environ["SMURF_ARTIFACT_CACHE"] = root
    try:
        set_floor(0)
        arte_pairs = _rows(
            dedup.minhash_neardup_pairs(docs, 0.5).select(
                "doc_a", "doc_b"
            )
        )
        inline_d6 = None
        set_floor(10**9)
        inline_d6 = _rows(dedup.simhash_neardup_pairs(docs, 6, 128))
        set_floor(0)
        arte_d6 = _rows(dedup.simhash_neardup_pairs(docs, 6, 128))
    finally:
        set_floor(old)
        del os.environ["SMURF_ARTIFACT_CACHE"]
    assert arte_pairs == inline_pairs and len(inline_pairs) > 0
    assert arte_d6 == inline_d6 and len(inline_d6) > 0


def test_unwritable_cache_root_falls_back_inline(spark, docs, tmp_path):
    """The artifact layer is an optimization, never a failure mode: an
    unwritable cache root makes shingle_rows / winnow_fingerprints /
    cosine_neardup_pairs silently build their inline plans."""
    from serverless_smurf_etl_and_analytics_spark.operators import (
        similarity,
        textops,
    )

    ro = tmp_path / "ro"
    ro.mkdir()
    os.chmod(ro, 0o555)
    bad = str(ro / "cache")
    try:
        assert _rows(dedup.shingle_rows(docs, 2, cache=bad)) == _rows(
            dedup._shingle_rows_inline(docs, 2)
        )
        assert (
            textops.winnow_fingerprints(docs, cache=bad).count()
            == textops._winnow_fps_inline(docs, 4, 4).count()
        )
        emb = tables.load(spark, SF_DIR, "embeddings")
        assert (
            similarity.cosine_neardup_pairs(
                emb, 0.3, band_cache=bad
            ).count()
            == similarity.cosine_neardup_pairs(
                emb, 0.3, band_cache=None
            ).count()
        )
    finally:
        os.chmod(ro, 0o755)
