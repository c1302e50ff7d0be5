"""Laws for the r9 artifact key-ADVANCE path: when a corpus grows, the
ingest pipeline advances each fingerprint-keyed artifact to the new
corpus key in O(shard) — hard-linked old files + appended shard rows —
so the next session's find-or-build HITS instead of rebuilding
O(corpus). Three laws per stage:

1. content: the advanced artifact's rows == the full-corpus inline
   build (the append merge law through the advance path);
2. O(delta): the advanced dir HARD-LINKS the old dir's data files
   (shared inodes — zero bytes of old data copied or recomputed);
3. immutability: the old artifact still reads exactly the old
   corpus's rows (a session pinned to the old corpus is unaffected).

Plus the end-to-end pipeline shape: tablelog commits provide both
fingerprints (ledger before/after the shard commit), and the grown
corpus's gated query hits the advanced artifact with zero corpus
scans.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serverless_smurf_etl_and_analytics_spark import tables
from serverless_smurf_etl_and_analytics_spark.operators import (
    artifacts,
    dedup,
    similarity,
    textops,
)
from serverless_smurf_etl_and_analytics_spark.sources import tablelog

from conftest import SF_DIR


def _doc_fp(df):
    return artifacts.corpus_fingerprint(df, artifacts.DOC_COLS)


def _emb_fp(df):
    return artifacts.corpus_fingerprint(df, artifacts.EMB_COLS)


def _rows(df):
    return {
        tuple(tuple(v) if isinstance(v, list) else v for v in r)
        for r in df.collect()
    }


def _inodes(path):
    return {
        os.stat(os.path.join(path, f)).st_ino
        for f in os.listdir(path)
        if not f.startswith(("_", "."))
    }


@pytest.fixture(scope="module")
def split_docs(spark):
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    return (
        docs,
        docs.filter(F.col("doc_id") % 3 != 0),  # old corpus
        docs.filter(F.col("doc_id") % 3 == 0),  # new shard
    )


def _check_advance(old_path, new_path, old_rows, full_rows, read):
    assert new_path is not None, "advance missed the old artifact"
    # law 2: shared inodes — old data files were linked, not rebuilt
    assert _inodes(old_path) <= _inodes(new_path)
    assert len(_inodes(new_path)) > len(_inodes(old_path))
    # law 1 + 3
    assert _rows(read(new_path)) == full_rows
    assert _rows(read(old_path)) == old_rows


def test_shingle_advance_laws(spark, split_docs, tmp_path):
    docs, old_docs, shard = split_docs
    root = str(tmp_path)
    fp_old = _doc_fp(old_docs)
    fp_full = _doc_fp(docs)
    old_path = dedup.SHINGLE.materialize(old_docs, root, g=2)
    new_path = dedup.SHINGLE.advance(shard, fp_old, fp_full, root, g=2)
    _check_advance(
        old_path,
        new_path,
        _rows(dedup._shingle_rows_inline(old_docs, 2)),
        _rows(dedup._shingle_rows_inline(docs, 2)),
        lambda p: spark.read.parquet(p),
    )
    # the grown corpus's find-or-build now HITS the advanced key with
    # zero corpus scans (ledger-fed), and returns full-corpus rows
    def boom(*a, **k):
        raise AssertionError("corpus scan on advanced-artifact hit")

    import unittest.mock as mock

    with mock.patch.object(DataFrame, "count", boom), mock.patch.object(
        artifacts, "corpus_fingerprint", boom
    ):
        got = _rows(
            dedup.shingle_rows(docs, 2, cache=root, fingerprint=fp_full)
        )
    assert got == _rows(dedup._shingle_rows_inline(docs, 2))


def test_minhash_and_simhash_advance_laws(spark, split_docs, tmp_path):
    docs, old_docs, shard = split_docs
    root = str(tmp_path)
    fp_old = _doc_fp(old_docs)
    fp_full = _doc_fp(docs)

    dedup.minhash_signatures(old_docs, cache=root).count()
    mh_old = next(
        os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("mh_")
    )
    mh_new = dedup.MINHASH.advance(
        shard, fp_old, fp_full, root, k=dedup.N_MINHASH
    )
    _check_advance(
        mh_old,
        mh_new,
        _rows(
            dedup._minhash_signatures_from(
                old_docs,
                dedup._shingle_rows_inline(old_docs, 2),
                dedup.N_MINHASH,
            )
        ),
        _rows(
            dedup._minhash_signatures_from(
                docs, dedup._shingle_rows_inline(docs, 2), dedup.N_MINHASH
            )
        ),
        lambda p: spark.read.parquet(p),
    )

    dedup.simhash(old_docs, 32, cache=root).count()
    sx_old = next(
        os.path.join(root, n)
        for n in os.listdir(root)
        if n.startswith("simh_")
    )
    sx_new = dedup.SIMHASH.advance(shard, fp_old, fp_full, root, bits=32)
    _check_advance(
        sx_old,
        sx_new,
        _rows(dedup._simhash_inline(old_docs, 32)),
        _rows(dedup._simhash_inline(docs, 32)),
        lambda p: spark.read.parquet(p),
    )


def test_winnow_advance_laws(spark, split_docs, tmp_path):
    docs, old_docs, shard = split_docs
    root = str(tmp_path)
    fp_old = _doc_fp(old_docs)
    fp_full = _doc_fp(docs)
    old_path = textops.WINNOW.materialize(old_docs, root, k=4, w=4)
    new_path = textops.WINNOW.advance(shard, fp_old, fp_full, root, k=4, w=4)
    _check_advance(
        old_path,
        new_path,
        _rows(textops._winnow_fps_inline(old_docs, 4, 4)),
        _rows(textops._winnow_fps_inline(docs, 4, 4)),
        lambda p: spark.read.parquet(p),
    )


def test_band_advance_laws_and_width_carry(spark, tmp_path):
    emb = tables.load(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    old_emb = emb.filter(F.col("vec_id") % 2 == 0)
    shard = emb.filter(F.col("vec_id") % 2 == 1)
    root = str(tmp_path)
    fp_old = _emb_fp(old_emb)
    fp_full = _emb_fp(emb)
    old_path = similarity.BAND.materialize(
        old_emb, root, fp_old, n_planes=64
    )
    # a crashed builder's leftover tmp dir is not a stored width
    os.makedirs(old_path.replace("_p64", "_p96") + ".tmp-deadbeef")
    new_path = similarity.BAND.advance(shard, fp_old, fp_full, root)
    assert new_path and similarity.artifact_n_planes(new_path) == 64
    _check_advance(
        old_path,
        new_path,
        _rows(similarity.band_bits(old_emb, 64)),
        _rows(similarity.band_bits(emb, 64)),
        lambda p: similarity.BAND.read(spark.read.parquet(p)),
    )
    # the grown corpus's near-dup pairs off the advanced artifact ==
    # the inline build (first-matching-band pipeline end to end)
    got = _rows(
        similarity.cosine_neardup_pairs(
            emb, 0.3, band_cache=root, fingerprint=fp_full
        )
    )
    assert got == _rows(
        similarity.cosine_neardup_pairs(emb, 0.3, band_cache=None)
    )
    assert got


def test_advance_without_old_artifact_returns_none(spark, split_docs, tmp_path):
    _, old_docs, shard = split_docs
    fp_old = _doc_fp(old_docs)
    assert (
        dedup.SHINGLE.advance(
            shard, fp_old, (fp_old[0] + 1, fp_old[1]), str(tmp_path), g=2
        )
        is None
    )


def test_pipeline_ledger_to_advance_end_to_end(spark, tmp_path):
    """The full maintained-pipeline loop: commit shard A (ledger pair
    A), build artifact; commit shard B (ledger pair B), advance the
    artifact A->B in O(shard); a fresh query session reads the table,
    takes the ledger pair, and its gated stage hits the advanced
    artifact — zero corpus scans, rows == inline full corpus."""
    import unittest.mock as mock

    t = str(tmp_path / "docs")
    root = str(tmp_path / "cache")
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    cols = ["doc_id", "text"]

    tablelog.commit_version(
        spark, t, a, mode="overwrite", fingerprint_cols=cols
    )
    fp_a = tablelog.ledger_fingerprint(t, cols)
    dedup.shingle_rows(
        tablelog.read_version(spark, t), 2, cache=root, fingerprint=fp_a
    ).count()

    tablelog.commit_version(
        spark, t, b, mode="append", fingerprint_cols=cols
    )
    fp_b = tablelog.ledger_fingerprint(t, cols)
    assert dedup.SHINGLE.advance(b, fp_a, fp_b, root, g=2)

    current = tablelog.read_version(spark, t)

    def boom(*x, **k):
        raise AssertionError("corpus scan in maintained-pipeline query")

    with mock.patch.object(DataFrame, "count", boom), mock.patch.object(
        artifacts, "corpus_fingerprint", boom
    ):
        got = _rows(
            dedup.shingle_rows(current, 2, cache=root, fingerprint=fp_b)
        )
    assert got == _rows(dedup._shingle_rows_inline(docs, 2))


def test_advance_failure_returns_none_and_cleans_tmp(tmp_path):
    """A failing append_fn — ANY exception class, not just OSError
    (Spark writes surface Py4JJavaError/AnalysisException) — must
    honor the documented contract: return None (caller falls back to
    a full build) and leave no half-built .tmp-* dir of hard-linked
    files in the cache (ADVICE r10)."""
    import os

    root = str(tmp_path)
    old = os.path.join(root, "stage_n1_h1")
    os.makedirs(old)
    with open(os.path.join(old, "part-0.parquet"), "w") as f:
        f.write("x")

    class FakeSparkError(Exception):
        pass

    def bad_append(path):
        # tmp dir exists and holds the hard-linked file at this point
        assert os.path.exists(os.path.join(path, "part-0.parquet"))
        raise FakeSparkError("py4j analysis boom")

    assert (
        artifacts.advance(
            root, "stage_n{n}_h{h}", (1, 1), (2, 2), bad_append
        )
        is None
    )
    leftovers = [n for n in os.listdir(root) if ".tmp-" in n]
    assert leftovers == []
    # the old artifact is untouched (immutability contract)
    assert os.path.exists(os.path.join(old, "part-0.parquet"))
