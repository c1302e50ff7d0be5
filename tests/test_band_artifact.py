"""Laws for the persisted LSH band artifact (VERDICT r7 item 2): the
across-session form of the sim2/d7/d9 candidate pipeline's most
expensive stage. The artifact must be (a) mergeable shard-by-shard,
(b) a byte-identical stand-in for the inline projection at ANY config
its stored width covers, and (c) staleness-proof (fingerprint-keyed:
a changed corpus can never silently reuse old bits).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from serverless_smurf_etl_and_analytics_spark import tables
from serverless_smurf_etl_and_analytics_spark.operators import similarity

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return tables.load(spark, SF_DIR, "embeddings")


def _rows(df):
    return {
        (r["vec_id"], r["n2"], r["bits"]) for r in df.collect()
    }


def test_band_artifact_merge_law(spark, emb, tmp_path):
    """band_bits(A ∪ B) == band_bits(A) ∪ band_bits(B): materialize
    shard A, append shard B, and the loaded artifact must equal the
    one-shot build row-for-row — the property that keeps 100 TB
    maintenance proportional to the delta."""
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    path = similarity.BAND.materialize(a, str(tmp_path), n_planes=64)
    similarity.BAND.append(b, path, n_planes=64)
    merged = _rows(similarity.BAND.read(spark.read.parquet(path)))
    direct = _rows(similarity.band_bits(emb, 64))
    assert merged == direct and len(merged) > 0


def test_cached_pairs_equal_inline_pairs(spark, emb, tmp_path):
    """The cached plan is an exact stand-in: cosine_neardup_pairs via
    the artifact cache yields byte-identical pairs to the inline
    (recompute-every-session) form."""
    cached = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in similarity.cosine_neardup_pairs(
            emb, 0.3, band_cache=str(tmp_path)
        ).collect()
    }
    inline = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in similarity.cosine_neardup_pairs(
            emb, 0.3, band_cache=None
        ).collect()
    }
    assert cached == inline and len(cached) > 0


def test_prefix_slice_covers_narrower_configs(spark, emb, tmp_path):
    """One stored bit string serves every config its width covers:
    slicing (8, 8) buckets out of a 96-plane artifact equals the
    inline band_table at (8, 8) — the md5 plane stream is
    prefix-stable, so sim3's single band and sim2's adaptive bands
    read the SAME artifact."""
    path = similarity.BAND.materialize(emb, str(tmp_path), n_planes=96)
    sliced = similarity._explode_bands(
        similarity.BAND.read(spark.read.parquet(path)), 8, 8
    )
    inline = similarity.band_table(emb, 8, 8)
    cols = ["vec_id", "band_idx", "bucket"]
    assert {tuple(r) for r in sliced.select(*cols).collect()} == {
        tuple(r) for r in inline.select(*cols).collect()
    }
    sliced.unpersist()
    inline.unpersist()


def test_cache_hit_reuses_and_stale_corpus_misses(spark, emb, tmp_path):
    """Second contact with the same corpus reuses the one artifact
    (no rebuild); ANY content change — here one dropped vector —
    changes the fingerprint and builds a fresh artifact rather than
    silently reusing stale bits."""
    root = str(tmp_path)
    similarity.BAND.lookup(emb, root, n_bands=8, band_planes=8).count()
    assert len(os.listdir(root)) == 1
    first = os.listdir(root)[0]
    similarity.BAND.lookup(emb, root, n_bands=8, band_planes=8).count()
    assert os.listdir(root) == [first]
    # wider-config request treated as a miss only when not covered:
    # the default build width (>= 64 planes) covers (1, 8) too
    similarity.BAND.lookup(emb, root, n_bands=1, band_planes=8).count()
    assert os.listdir(root) == [first]
    shrunk = emb.filter(F.col("vec_id") != 0)
    similarity.BAND.lookup(shrunk, root, n_bands=8, band_planes=8).count()
    assert len(os.listdir(root)) == 2
    # and the stale artifact's rows were not mixed in
    n_art = similarity.BAND.lookup(
        shrunk, root, n_bands=8, band_planes=8
    ).count()
    assert n_art == shrunk.count()


def test_artifact_dirname_encodes_width(tmp_path, emb):
    path = similarity.BAND.materialize(emb, str(tmp_path), n_planes=64)
    assert similarity.artifact_n_planes(path) == 64
    assert glob.glob(os.path.join(str(tmp_path), "band_v1_n*_h*_p64"))


def test_gather_and_wide_verify_tiers_identical(spark, emb, monkeypatch):
    """The two verification tiers of cosine_neardup_pairs are exact
    stand-ins for each other: forcing the broadcast-gather tier (by
    dropping its corpus-size floor to 0) yields byte-identical pairs
    to the default wide (embedding-riding) join at this scale — both
    are the same int64 fixed-point dot, only the transport differs."""
    wide = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in similarity.cosine_neardup_pairs(
            emb, 0.3, band_cache=None
        ).collect()
    }
    monkeypatch.setattr(similarity, "_GATHER_VERIFY_MIN", 0)
    gathered = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in similarity.cosine_neardup_pairs(
            emb, 0.3, band_cache=None
        ).collect()
    }
    assert gathered == wide and len(gathered) > 0


def test_corpus_above_gather_bound_is_refused(emb, monkeypatch):
    """Past ``_GATHER_VERIFY_MAX`` no verify tier is left: the operator
    refuses at plan time with a message naming the bound, instead of
    running corpus-sized jobs toward a worker OOM."""
    monkeypatch.setattr(similarity, "_GATHER_VERIFY_MAX", 5)
    with pytest.raises(ValueError, match="5-vector bound"):
        similarity.cosine_neardup_pairs(emb, 0.3, band_cache=None)


def test_fixed_matrix_narrows_to_int32_only_when_exact():
    """ADVICE r10: the r10 int32 narrowing of the gather matrix must
    be GUARDED — a fixed-point value past int32 falls back to int64
    instead of wrapping silently. Boundary values survive exactly."""
    import numpy as np

    nm = similarity._narrowest_fixed_matrix
    m = nm(np.array([[0.4, -0.6], [float(2**31 - 2), 0.0]]))
    assert m.dtype == np.int32
    assert int(m[1, 0]) == 2**31 - 2
    big = nm(np.array([[float(2**31), -0.6]]))
    assert big.dtype == np.int64 and int(big[0, 0]) == 2**31
    neg = nm(np.array([[-float(2**31) - 10.0]]))
    assert neg.dtype == np.int64 and int(neg[0, 0]) == -(2**31) - 10
    assert nm(np.zeros((0, 4))).dtype == np.int32


def test_gather_dots_exact_for_out_of_unit_range_embeddings(spark):
    """End-to-end: a component at |v| = 250 (> 2^31/SCALE ~ 214.7,
    which the unguarded int32 cast would wrap) still yields the exact
    integer dot through the broadcast gather transport."""
    bt = spark.createDataFrame(
        [
            (1, [250.0, 0.5]),
            (2, [1.0, -0.25]),
        ],
        "vec_id long, embedding array<double>",
    ).withColumn(
        "n2",
        F.aggregate(
            F.transform(
                "embedding",
                lambda x: F.round(x * similarity.SCALE).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x * x,
        ),
    )
    cand = spark.createDataFrame(
        [(1, 2)], "vec_a long, vec_b long"
    )
    [row] = similarity._gather_dots(cand, bt).collect()
    # iv_1 = [2_500_000_000, 5_000_000], iv_2 = [10_000_000, -2_500_000]
    assert row["dot"] == (
        2_500_000_000 * 10_000_000 + 5_000_000 * (-2_500_000)
    )


def test_chunked_verify_identical_to_unchunked(spark, emb, monkeypatch):
    """r12: the fixed-size gather slices inside the verify kernel
    (the worker-memory bound added after the emb6m OOM) are a pure
    batching change — forcing a tiny chunk yields byte-identical
    pairs to the full-batch kernel. Both runs force the gather tier:
    the 20-vector fixture would otherwise take the riding join, which
    never reads the chunk size."""
    monkeypatch.setattr(similarity, "_GATHER_VERIFY_MIN", 0)
    base = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in similarity.cosine_neardup_pairs(
            emb, 0.3, band_cache=None
        ).collect()
    }
    monkeypatch.setattr(similarity, "_GATHER_CHUNK_ROWS", 3)
    chunked = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in similarity.cosine_neardup_pairs(
            emb, 0.3, band_cache=None
        ).collect()
    }
    assert chunked == base and len(chunked) > 0


def test_fixed_matrix_raises_on_possible_dot_overflow():
    """ADVICE r11: int32-representable components can still overflow
    the int64 dot accumulator (64 dims of |fixed| ~ 2e9 give dots
    ~2.6e20 > 2^63). The narrowing guard must RAISE on rows whose
    norm^2 exceeds int64 — never return silently-wrong cosines —
    while rows inside the bound keep working."""
    import numpy as np

    nm = similarity._narrowest_fixed_matrix
    # |v| = 200 -> |fixed| = 2e9: int32-clean, dot-unsafe at dim 64
    with pytest.raises(ValueError, match="overflow"):
        nm(np.full((1, 64), 200.0 * similarity.SCALE))
    # |v| = 30 at dim 64: norm^2 = 64 * 9e16 = 5.76e18 < int64max
    safe = nm(np.full((2, 64), 30.0 * similarity.SCALE))
    assert safe.dtype == np.int32 and int(safe[0, 0]) == 300_000_000
