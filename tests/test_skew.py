"""Adversarial-skew tests for the band self-joins (VERDICT r2 item 4).

The d3/d6/sim2 scale designs hash-partition candidate generation on
band values; their worst case is a corpus where one band value holds a
large clique (mass-duplicated documents / embeddings), which piles the
entire candidate explosion onto one key. These fixtures build exactly
that — hundreds of identical and near-identical items on top of real
corpus rows — and assert the operators complete with EXACT output:
the guaranteed subset (identical pairs) is fully present, precision
stays perfect against brute force, and the first-matching-band dedup
emits each pair exactly once even when every band matches.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from serverless_smurf_etl_and_analytics_spark import tables
from serverless_smurf_etl_and_analytics_spark.operators import (
    dedup,
    similarity,
)

SF_DIR = "/root/testdata/sf0.001"
BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while the merchant "
    "counts daily sales and the analyst reviews store metrics before "
    "the nightly export runs to completion"
)


@pytest.fixture(scope="module")
def skew_docs(spark):
    """150 byte-identical docs + 150 one-token variants (all 300 land
    in one MinHash/SimHash band clique) + 200 real corpus docs."""
    rows = []
    for i in range(150):
        rows.append((1_000_000 + i, BASE_TEXT, "en", "skew", len(BASE_TEXT)))
    toks = BASE_TEXT.split()
    for i in range(150):
        t = list(toks)
        t[10] = f"variant{i}"
        text = " ".join(t)
        rows.append((2_000_000 + i, text, "en", "skew", len(text)))
    real = tables.load(spark, SF_DIR, "documents").filter(
        F.col("doc_id") < 200
    )
    return real.unionByName(
        spark.createDataFrame(rows, schema=real.schema)
    )


@pytest.fixture(scope="module")
def skew_emb(spark):
    """150 identical copies of one vector + 150 near-copies (~0.9995
    cosine) + 200 real vectors: every copy shares ALL 8 sign-LSH band
    buckets, so one (band, bucket) key carries the full clique."""
    real = tables.load(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") < 200
    )
    base = np.asarray(
        real.filter(F.col("vec_id") == 0).collect()[0]["embedding"],
        dtype=np.float64,
    )
    rng = np.random.default_rng(11)
    rows = []
    for i in range(150):
        rows.append(
            (1_000_000 + i, [float(x) for x in base.astype(np.float32)], 1)
        )
    for i in range(150):
        jit = base + rng.standard_normal(base.shape) * (
            0.01 * np.abs(base).mean()
        )
        rows.append(
            (2_000_000 + i, [float(x) for x in jit.astype(np.float32)], 1)
        )
    return real.unionByName(
        spark.createDataFrame(rows, schema=real.schema)
    )


def test_d3_band_join_survives_duplicate_clique(spark, skew_docs):
    """All C(300,2)=44850 clique pairs share band values, piling the
    candidate explosion onto two band keys; the join must complete and
    emit every identical pair exactly once."""
    pairs = dedup.lsh_candidate_pairs(skew_docs).collect()
    seen = [(r["doc_a"], r["doc_b"]) for r in pairs]
    assert len(seen) == len(set(seen)), "duplicate candidate pairs"
    got = set(seen)
    # identical docs share the full signature -> guaranteed candidates
    for i in range(0, 150, 37):
        for j in range(i + 1, 150, 41):
            assert (1_000_000 + i, 1_000_000 + j) in got
    # the clique dominates: at least all-identical-pairs many rows
    assert len(got) >= 150 * 149 // 2


def test_d4_verify_exact_under_skew(spark, skew_docs):
    """Jaccard verification on the skewed candidate set: identical
    pairs report jaccard == 1.0; every reported pair meets the
    threshold (precision unharmed by skew)."""
    out = dedup.minhash_neardup_pairs(skew_docs, 0.5).collect()
    by_pair = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    assert len(by_pair) == len(out), "pair emitted twice"
    for i in range(0, 150, 53):
        for j in range(i + 1, 150, 59):
            assert by_pair[(1_000_000 + i, 1_000_000 + j)] == 1.0
    assert all(0.5 <= j <= 1.0 for j in by_pair.values())


def test_d6_pigeonhole_exact_under_skew(spark, skew_docs):
    """d6 under a one-band-value clique must still equal the all-pairs
    hamming<=6 set exactly (the pigeonhole guarantee is skew-blind),
    with each pair emitted once despite matching in EVERY band."""
    banded = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_neardup_pairs(skew_docs, 6).collect()
    }
    assert len(banded) >= 300 * 299 // 2  # whole clique qualifies
    s = dedup.simhash(skew_docs)
    a, b = s.alias("a"), s.alias("b")
    pos = F.sequence(F.lit(1), F.lit(32))
    hamming = F.size(
        F.filter(
            pos,
            lambda i: F.substring(F.col("a.simhash"), i, 1)
            != F.substring(F.col("b.simhash"), i, 1),
        )
    ).cast("long")
    brute = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    assert banded == brute


def test_sim2_band_join_survives_duplicate_clique(spark, skew_emb):
    """150 identical vectors share every band bucket: the
    first-matching-band predicate must emit each pair once (at band 0),
    the verify must report cosine 1.0 for identical pairs, and
    precision must stay exact against brute force on the skewed
    corpus."""
    out = similarity.cosine_neardup_pairs(skew_emb, 0.3).collect()
    by_pair = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in out}
    assert len(by_pair) == len(out), "pair emitted twice"
    for i in range(0, 150, 37):
        for j in range(i + 1, 150, 41):
            assert by_pair[(1_000_000 + i, 1_000_000 + j)] == 1.0
    # jittered copies collide in all bands with p ~ 1: the whole
    # 300-clique must be present
    clique = sum(
        1 for (a, b) in by_pair if a >= 1_000_000 and b >= 1_000_000
    )
    assert clique >= 300 * 299 // 2 - 10
    brute = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in similarity.cosine_neardup_allpairs(
            skew_emb, 0.3
        ).collect()
    }
    for pair, cos in by_pair.items():
        assert brute[pair] == cos


def test_salted_join_equals_plain_join_under_skew(spark):
    """layout.salted_join law: identical result to the plain join on a
    corpus where 90% of the big side hits ONE key, and the salt
    spreads that key across the full salt space."""
    from serverless_smurf_etl_and_analytics_spark.operators import layout

    rows = [(i, "hot" if i % 10 != 0 else f"k{i % 7}") for i in range(5000)]
    big = spark.createDataFrame(rows, "row_id long, k string")
    dim = spark.createDataFrame(
        [("hot", 1), ("k0", 2), ("k3", 3)], "k string, v long"
    )
    plain = big.join(dim, "k")
    salted = layout.salted_join(big, dim, "k", "row_id", n_salts=8)
    a = sorted(map(tuple, plain.select("k", "row_id", "v").collect()))
    b = sorted(map(tuple, salted.select("k", "row_id", "v").collect()))
    assert a == b and len(a) > 4000
    # the hot key really is spread: its rows occupy every salt value
    from pyspark.sql import functions as F

    n_salts = (
        big.filter(F.col("k") == "hot")
        .select(F.pmod(F.xxhash64("row_id"), F.lit(8)).alias("s"))
        .distinct()
        .count()
    )
    assert n_salts == 8


def test_pq_training_survives_duplicate_heavy_corpus(spark, monkeypatch):
    """PQ under mass duplication: 300 copies of one vector on top of
    the real corpus. Most subspace clusters go empty (the dup mass
    pins a few centroids); the empty-cluster carry-over must keep
    training deterministic, codes partition-invariant, and the
    duplicated vectors must all land on identical codes."""
    from serverless_smurf_etl_and_analytics_spark.operators import (
        clustering,
    )

    # force the DISTRIBUTED tier: partition invariance under skew is
    # exactly what the driver tier would satisfy vacuously
    monkeypatch.setattr(clustering, "_DRIVER_TIER_MAX", 0)
    emb = tables.load(spark, SF_DIR, "embeddings")
    base = emb.limit(1).collect()[0]
    dups = spark.createDataFrame(
        [(10_000 + i, base["embedding"], base["label"]) for i in range(300)],
        emb.schema,
    )
    corpus = emb.unionByName(dups)
    a, cb_a = clustering.pq_train_encode(corpus)
    b, cb_b = clustering.pq_train_encode(corpus.repartition(13))
    assert cb_a == cb_b
    pa = a.toPandas().sort_values("vec_id").reset_index(drop=True)
    pb = b.toPandas().sort_values("vec_id").reset_index(drop=True)
    assert pa["qerr"].tolist() == pb["qerr"].tolist()
    dup_codes = {
        tuple(r.codes)
        for r in pa[pa.vec_id >= 10_000].itertuples()
    }
    assert len(dup_codes) == 1  # identical vectors -> identical codes
