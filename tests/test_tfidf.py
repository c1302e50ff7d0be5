"""Structural laws for tf1 TF-IDF keyword extraction beyond the
registered oracle parity (test_parity.py)."""

from __future__ import annotations

from serverless_smurf_etl_and_analytics_spark import tables
from serverless_smurf_etl_and_analytics_spark.operators import textops

from conftest import SF_DIR


def test_tfidf_rank_structure(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    out = textops.tfidf_keywords(docs).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= 3
        # scores non-increasing in rank; ties broken by token asc
        for a, b in zip(rows, rows[1:]):
            assert a["score"] > b["score"] or (
                a["score"] == b["score"] and a["tok"] < b["tok"]
            )


def test_tfidf_prefers_rare_tokens(spark):
    """A token unique to one document must outrank corpus-wide
    stopwords for that document (the whole point of IDF)."""
    docs = spark.createDataFrame(
        [
            (1, "the the zebra"),
            (2, "the cat"),
            (3, "the dog"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["rank"]): r["tok"]
        for r in textops.tfidf_keywords(docs).collect()
    }
    assert out[(1, 1)] == "zebra"  # df=1 beats tf=3 of df=3 'the'
    assert out[(2, 1)] == "cat"
    assert out[(3, 1)] == "dog"


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_winnow_coverage_guarantee(spark):
    """The winnowing locality property (Schleimer et al. 2003): two
    documents sharing a run of >= k + w - 1 tokens MUST share at least
    one fingerprint — the shared run contains a full gram window, and
    winnowing picks that window's minimum identically on both sides."""
    run = " ".join(f"shared{i}" for i in range(7))  # k + w - 1 = 7
    docs = _docs_df(
        spark,
        [
            (1, "en", "aa bb cc " + run + " dd ee"),
            (2, "en", "zz yy " + run + " xx ww vv uu"),
        ],
    )
    out = textops.winnow_overlap(docs, min_shared=1).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["n_shared"] >= 1
    assert 0 < r["overlap_pm"] <= 1000


def test_winnow_short_and_disjoint_docs_emit_nothing(spark):
    """Docs shorter than k + w - 1 tokens have no full window (no
    fingerprints at all); disjoint docs share none — either way the
    pair report is empty."""
    fps = textops.winnow_fingerprints(
        _docs_df(spark, [(1, "en", "a b c d e f")])  # 6 < 7
    ).collect()
    assert fps == []
    docs = _docs_df(
        spark,
        [
            (1, "en", " ".join(f"l{i}" for i in range(20))),
            (2, "en", " ".join(f"r{i}" for i in range(20))),
        ],
    )
    assert textops.winnow_overlap(docs, min_shared=1).collect() == []


def test_winnow_stop_gram_cap_drops_boilerplate(spark):
    """A fingerprint present in more than max_df documents is dropped
    before pairing: with max_df=2 a 3-way-shared run produces no
    pairs, while a 2-way-shared run still does."""
    run = " ".join(f"b{i}" for i in range(7))
    tail = lambda j: " ".join(f"t{j}_{i}" for i in range(8))
    docs = _docs_df(
        spark, [(j, "en", run + " " + tail(j)) for j in (1, 2, 3)]
    )
    assert (
        textops.winnow_overlap(docs, max_df=2, min_shared=1).collect() == []
    )
    docs2 = _docs_df(
        spark, [(j, "en", run + " " + tail(j)) for j in (1, 2)]
    )
    out = textops.winnow_overlap(docs2, max_df=2, min_shared=1).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(1, 2)]


def test_winnow_decontaminate_catches_copied_run(spark):
    """wn2's guarantee: a training doc containing a >= k + w - 1 = 7
    token run copied verbatim from a benchmark doc (doc_id 19 is in
    the md5 'bench|' 1/8 split; 1 and 2 are not) is flagged; a clean
    training doc is not. The benchmark doc itself never appears in the
    output (only training docs are reported)."""
    leak = " ".join(f"secret{i}" for i in range(7))
    docs = _docs_df(
        spark,
        [
            (19, "en", "bench preamble " + leak + " bench tail words"),
            (1, "en", "train text with " + leak + " embedded inside it"),
            (2, "en", " ".join(f"clean{i}" for i in range(15))),
        ],
    )
    out = textops.winnow_decontaminate(docs).collect()
    assert [r["doc_id"] for r in out] == [1]
    r = out[0]
    assert r["n_hit"] >= 1 and 0 < r["hit_pm"] <= 1000


def test_winnow_artifact_merge_and_cache_laws(spark, tmp_path):
    """r8 winnow artifact laws, mirroring the LSH band artifact:
    (a) merge — materialize shard A, append shard B, loaded table
    equals the one-shot inline build row-for-row (per-doc pure
    function => union merge); (b) cached wn1 output is byte-identical
    to the inline form; (c) same corpus reuses the one artifact, a
    changed corpus misses to a fresh key."""
    import os

    from pyspark.sql import functions as F

    docs = tables.load(spark, "/root/testdata/sf0.001", "documents")
    root = str(tmp_path)
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    path = textops.WINNOW.materialize(a, root, k=4, w=4)
    textops.WINNOW.append(b, path, k=4, w=4)
    merged = {
        (r["doc_id"], r["fp"])
        for r in spark.read.parquet(path).collect()
    }
    direct = {
        (r["doc_id"], r["fp"])
        for r in textops._winnow_fps_inline(docs, 4, 4).collect()
    }
    assert merged == direct and len(merged) > 0

    got_cached = {
        (r["doc_id"], r["fp"])
        for r in textops.winnow_fingerprints(docs, cache=root).collect()
    }
    assert got_cached == direct
    n_before = len(os.listdir(root))
    textops.winnow_fingerprints(docs, cache=root).count()
    assert len(os.listdir(root)) == n_before
    shrunk = docs.filter(F.col("doc_id") != 0)
    textops.winnow_fingerprints(shrunk, cache=root).count()
    assert len(os.listdir(root)) == n_before + 1


def test_winnow_auto_gate_builds_inline_plan_below_min(spark):
    """ADVICE r9 medium: below _WINNOW_ARTIFACT_MIN docs,
    cache="auto" must produce the EXACT inline plan — no eager
    fingerprint scan, no artifact write into the shared default cache
    root — matching the dedup/band/model artifact gates. Explicit
    roots bypass the gate (covered by the artifact-law tests)."""
    docs = tables.load(spark, SF_DIR, "documents")
    assert docs.count() < textops._WINNOW_ARTIFACT_MIN
    auto = textops.winnow_fingerprints(docs, cache="auto")
    inline = textops._winnow_fps_inline(docs, 4, 4)
    try:
        assert (
            auto._jdf.queryExecution().analyzed().semanticHash()
            == inline._jdf.queryExecution().analyzed().semanticHash()
        )
    finally:
        auto.unpersist()


def test_winnow_explicit_root_bypasses_gate(spark, tmp_path):
    """A tiny corpus with an explicit cache root still goes through
    the artifact path (the law tests depend on this), and the cached
    rows equal the inline rows."""
    import os

    docs = tables.load(spark, SF_DIR, "documents")
    root = str(tmp_path)
    cached = textops.winnow_fingerprints(docs, cache=root)
    try:
        got = {tuple(r) for r in cached.collect()}
        assert any(n.startswith("wn_") for n in os.listdir(root))
        assert got == {
            tuple(r)
            for r in textops._winnow_fps_inline(docs, 4, 4).collect()
        }
        assert got
    finally:
        cached.unpersist()
