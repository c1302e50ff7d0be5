"""Laws for the ledger-carried corpus fingerprint (VERDICT r8 task 4):
the commit log's cumulative (count, xxhash64-sum mod 2^64) pair must
equal the full-scan fingerprint after any append/overwrite/merge
sequence, and a cold artifact-cache HIT fed the ledger pair must run
with ZERO corpus scans (no count job, no fingerprint aggregate) —
at 100 TB the per-session fingerprint scan is otherwise the dominant
cost of a "cached" query."""

from __future__ import annotations

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

DOC_COLS = ["doc_id", "text"]
EMB_COLS = ["vec_id", "embedding"]


def _doc_fp(df):
    return artifacts.corpus_fingerprint(df, DOC_COLS)


def _emb_fp(df):
    return artifacts.corpus_fingerprint(df, EMB_COLS)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_ledger_fingerprint_equals_scan_across_commits(spark, tmp_path):
    """append + append + overwrite + merge, checked against the scan
    pair at every head — the modular-sum merge law end-to-end."""
    t = str(tmp_path / "docs")
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    )
    a = docs.filter(F.col("doc_id") % 3 == 0)
    b = docs.filter(F.col("doc_id") % 3 == 1)
    c = docs.filter(F.col("doc_id") % 3 == 2)

    tablelog.commit_version(
        spark, t, a, mode="overwrite", fingerprint_cols=DOC_COLS
    )
    assert tablelog.ledger_fingerprint(
        t, DOC_COLS
    ) == _doc_fp(a)

    tablelog.commit_version(
        spark, t, b, mode="append", fingerprint_cols=DOC_COLS
    )
    tablelog.commit_version(
        spark, t, c, mode="append", fingerprint_cols=DOC_COLS
    )
    current = tablelog.read_version(spark, t)
    assert tablelog.ledger_fingerprint(
        t, DOC_COLS
    ) == _doc_fp(current)

    # merge (row-level upsert) commits as overwrite: recomputed pair
    updates = a.limit(5).withColumn("text", F.concat("text", F.lit(" x")))
    tablelog.merge_upsert(
        spark, t, updates, "doc_id", fingerprint_cols=DOC_COLS
    )
    merged = tablelog.read_version(spark, t)
    assert tablelog.ledger_fingerprint(
        t, DOC_COLS
    ) == _doc_fp(merged)

    # time travel: old versions keep their own recorded pair
    assert tablelog.ledger_fingerprint(t, DOC_COLS, version=0) == (
        _doc_fp(a)
    )


def test_ledger_fingerprint_embedding_cols_match_similarity_scan(
    spark, tmp_path
):
    """The same ledger pair, over the embedding corpus and checked
    against the embedding scan fingerprint (the band-artifact key)."""
    t = str(tmp_path / "emb")
    emb = tables.load(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    tablelog.commit_version(
        spark, t, half_a, mode="overwrite", fingerprint_cols=EMB_COLS
    )
    tablelog.commit_version(
        spark, t, half_b, mode="append", fingerprint_cols=EMB_COLS
    )
    assert tablelog.ledger_fingerprint(
        t, EMB_COLS
    ) == _emb_fp(tablelog.read_version(spark, t))


def test_ledger_fingerprint_unknowable_cases_return_none(
    spark, tmp_path
):
    """No silent wrong answers: a head without a recorded pair, a
    column-list mismatch, or an append onto an unfingerprinted head
    all answer None (callers fall back to the scan)."""
    t = str(tmp_path / "plain")
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    )
    tablelog.commit_version(spark, t, docs, mode="overwrite")
    assert tablelog.ledger_fingerprint(t, DOC_COLS) is None
    # append WITH cols onto an unfingerprinted head: cumulative pair
    # is unknowable — record none rather than a shard-only lie
    tablelog.commit_version(
        spark, t, docs.limit(3), mode="append", fingerprint_cols=DOC_COLS
    )
    assert tablelog.ledger_fingerprint(t, DOC_COLS) is None
    # fingerprints resume at the next overwrite
    tablelog.commit_version(
        spark, t, docs, mode="overwrite", fingerprint_cols=DOC_COLS
    )
    assert tablelog.ledger_fingerprint(
        t, DOC_COLS
    ) == _doc_fp(docs)
    # column-list mismatch (xxhash64 is positional)
    assert tablelog.ledger_fingerprint(t, ["text", "doc_id"]) is None


def _ban_corpus_scans(monkeypatch):
    """Fail the test if anything scans a corpus from here on:
    DataFrame.count and the fingerprint aggregate raise. Artifact
    parquet reads and collect() of results stay allowed — the law is
    about PRE-read work, and the collected frames read only the
    artifact."""

    def boom(*a, **k):
        raise AssertionError("corpus scan during ledger-fed cache hit")

    monkeypatch.setattr(DataFrame, "count", boom)
    monkeypatch.setattr(artifacts, "corpus_fingerprint", boom)


def test_ledger_fed_cache_hit_runs_zero_corpus_scans(
    spark, tmp_path, monkeypatch
):
    """The point of the ledger pair: with fingerprint= provided, a
    cache hit on shingles / minhash / simhash / winnow forms its key,
    passes its gate, and returns artifact-backed rows without ONE
    job over the corpus."""
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    root = str(tmp_path)
    # pre-build artifacts (the maintained-pipeline warm state)
    fp = _doc_fp(docs)
    inline_sh = _rows(dedup.shingle_rows(docs, 2, cache=root))
    dedup.minhash_signatures(docs, cache=root).count()
    dedup.simhash(docs, 32, cache=root).count()
    inline_wn = _rows(textops._winnow_fps_inline(docs, 4, 4))
    textops.winnow_fingerprints(docs, cache=root).unpersist()

    # cold-session shape: same corpus, ledger-provided pair, NO scans
    _ban_corpus_scans(monkeypatch)
    assert _rows(
        dedup.shingle_rows(docs, 2, cache=root, fingerprint=fp)
    ) == inline_sh
    assert dedup.minhash_signatures(
        docs, cache=root, fingerprint=fp
    ).select("doc_id").limit(1).collect()
    assert dedup.simhash(
        docs, 32, cache=root, fingerprint=fp
    ).select("doc_id").limit(1).collect()
    wn = textops.winnow_fingerprints(
        docs, cache=root, fingerprint=fp
    )
    try:
        assert _rows(wn) == inline_wn
    finally:
        wn.unpersist()


def test_ledger_fed_band_cache_hit_runs_zero_corpus_scans(
    spark, tmp_path, monkeypatch
):
    """Same zero-scan law for the embedding side: cosine_neardup_pairs
    with a ledger pair neither counts nor fingerprints the corpus —
    the adaptive config takes n from the pair and the band table comes
    off the artifact."""
    emb = tables.load(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )
    root = str(tmp_path)
    fp = _emb_fp(emb)
    expected = _rows(
        similarity.cosine_neardup_pairs(emb, 0.3, band_cache=root)
    )
    _ban_corpus_scans(monkeypatch)
    got = _rows(
        similarity.cosine_neardup_pairs(
            emb, 0.3, band_cache=root, fingerprint=fp
        )
    )
    assert got == expected and got


def test_ledger_fed_composites_run_zero_plan_time_scans(
    spark, tmp_path, monkeypatch
):
    """The d4/d6/wn1 COMPOSITES accept the ledger pair and pass it to
    every inner stage, so the whole registered shapes run ledger-fed:
    no plan-time count, no fingerprint aggregate — and the results
    equal the inline forms."""
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "text"
    )
    root = str(tmp_path)
    import os

    os.environ["SMURF_ARTIFACT_CACHE"] = root
    try:
        fp = _doc_fp(docs)
        d4_inline = _rows(
            dedup.minhash_neardup_pairs(docs, 0.5).select(
                "doc_a", "doc_b"
            )
        )
        d6_inline = _rows(dedup.simhash_neardup_pairs(docs, 6, 128))
        wn1_inline = _rows(textops.winnow_overlap(docs, min_shared=2))
        # pre-build every stage artifact (explicit root bypasses gates)
        dedup.minhash_signatures(docs, cache=root).count()
        dedup.simhash(docs, 128, cache=root).count()
        textops.winnow_fingerprints(docs, cache=root).unpersist()

        _ban_corpus_scans(monkeypatch)
        # cache="auto" resolves to SMURF_ARTIFACT_CACHE = root; the
        # provided pair answers every gate and key without a scan
        assert _rows(
            dedup.minhash_neardup_pairs(docs, 0.5, fp).select(
                "doc_a", "doc_b"
            )
        ) == d4_inline
        assert (
            _rows(dedup.simhash_neardup_pairs(docs, 6, 128, fp))
            == d6_inline
        )
        assert (
            _rows(textops.winnow_overlap(docs, min_shared=2, fingerprint=fp))
            == wn1_inline
        )
    finally:
        del os.environ["SMURF_ARTIFACT_CACHE"]


def test_fingerprint_cols_inherited_on_default_commits(spark, tmp_path):
    """One writer leaving ``fingerprint_cols`` at its None default on a
    fingerprint-maintained table must NOT break the ledger chain
    (ADVICE r9): append, merge_upsert-at-default, and compact all
    inherit the head's columns, and the cumulative pair still equals
    the full scan afterwards. The chain genuinely ends only when an
    overwrite drops a fingerprint column from the schema."""
    t = str(tmp_path / "docs")
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    )
    a = docs.filter(F.col("doc_id") % 3 == 0)
    b = docs.filter(F.col("doc_id") % 3 == 1)
    tablelog.commit_version(
        spark, t, a, mode="overwrite", fingerprint_cols=DOC_COLS
    )
    # forgetful append: no fingerprint_cols kwarg
    tablelog.commit_version(spark, t, b, mode="append")
    assert tablelog.ledger_fingerprint(
        t, DOC_COLS
    ) == _doc_fp(tablelog.read_version(spark, t))
    # merge_upsert at its None default inherits too
    updates = a.limit(4).withColumn("text", F.concat("text", F.lit(" y")))
    tablelog.merge_upsert(spark, t, updates, "doc_id")
    assert tablelog.ledger_fingerprint(
        t, DOC_COLS
    ) == _doc_fp(tablelog.read_version(spark, t))
    # compact rewrites content unchanged: pair carries through
    tablelog.compact(spark, t, n_files=1)
    assert tablelog.ledger_fingerprint(
        t, DOC_COLS
    ) == _doc_fp(tablelog.read_version(spark, t))
    # restore: byte-identical content, fingerprint carried verbatim
    v_before = tablelog.latest_version(t)
    tablelog.commit_version(
        spark, t, a.limit(2), mode="overwrite", fingerprint_cols=DOC_COLS
    )
    tablelog.restore(spark, t, v_before)
    assert tablelog.ledger_fingerprint(t, DOC_COLS) == (
        tablelog.ledger_fingerprint(t, DOC_COLS, version=v_before)
    )
    # schema losing a fingerprint column ends the chain (None, not a
    # crash and not a wrong pair)
    tablelog.commit_version(
        spark, t, docs.select("doc_id"), mode="overwrite"
    )
    assert tablelog.ledger_fingerprint(t, DOC_COLS) is None


def test_stream_batches_keep_ledger_chain(spark, tmp_path):
    """Micro-batch commits onto a fingerprint-maintained table inherit
    the chain — a stream sink must not degrade later ledger-fed cold
    sessions to corpus scans."""
    t = str(tmp_path / "stream")
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    )
    tablelog.commit_version(
        spark, t, docs.filter(F.col("doc_id") % 2 == 0),
        mode="overwrite", fingerprint_cols=DOC_COLS,
    )
    odd = docs.filter(F.col("doc_id") % 2 == 1)
    tablelog.commit_stream_batch(spark, t, odd.limit(5), batch_id=0)
    tablelog.commit_stream_batch(
        spark, t, odd.subtract(odd.limit(5)), batch_id=1
    )
    # replay of a committed batch is a no-op for the chain too
    assert tablelog.commit_stream_batch(
        spark, t, odd.limit(5), batch_id=0
    ) is None
    assert tablelog.ledger_fingerprint(
        t, DOC_COLS
    ) == _doc_fp(tablelog.read_version(spark, t))


def test_read_snapshot_pins_one_head(spark, tmp_path):
    """read_snapshot's rows, fingerprint, and version all come from
    the SAME head — and stay self-consistent even when a commit lands
    immediately after (the unpinned two-call race, ADVICE r9)."""
    t = str(tmp_path / "snap")
    docs = tables.load(spark, SF_DIR, "documents").select(
        "doc_id", "text"
    )
    a = docs.filter(F.col("doc_id") % 2 == 0)
    tablelog.commit_version(
        spark, t, a, mode="overwrite", fingerprint_cols=DOC_COLS
    )
    df, fp, version = tablelog.read_snapshot(spark, t, DOC_COLS)
    assert version == 0
    assert fp == _doc_fp(a)
    # a commit after the snapshot: the pinned triple still agrees with
    # itself (df is version-0 rows, fp is version-0's pair)
    tablelog.commit_version(
        spark, t, docs.limit(7), mode="append"
    )
    assert fp == _doc_fp(df)
    assert df.count() == a.count()
