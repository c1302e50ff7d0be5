"""k-means trainer tests: exact parity against a numpy reference
implementation of the same fixed-point Lloyd spec, determinism across
runs, and the monotone-cost guarantee."""

from __future__ import annotations

import numpy as np
import pytest

from serverless_smurf_etl_and_analytics_spark import tables
from serverless_smurf_etl_and_analytics_spark.operators import clustering
from serverless_smurf_etl_and_analytics_spark.operators.similarity import SCALE

from conftest import SF_DIR

K, ITERS = 8, 4


def _fixed(m):
    m = m.astype(np.float64) * SCALE
    return np.where(m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5)).astype(
        np.int64
    )


def _reference(vec_ids, mat, k, n_iter):
    iv = _fixed(mat)
    order = np.argsort(vec_ids)
    cent = iv[order[np.isin(vec_ids[order], np.arange(k))]].copy()

    def nearest(c):
        d2 = (
            (iv * iv).sum(axis=1, keepdims=True)
            - 2 * (iv @ c.T)
            + (c * c).sum(axis=1)[None, :]
        )
        a = np.argmin(d2, axis=1)
        return a, d2[np.arange(len(a)), a]

    costs = []
    for _ in range(n_iter):
        a, d2 = nearest(cent)
        costs.append(float(d2.sum(dtype=np.float64)))
        for cid in range(k):
            sel = iv[a == cid]
            if len(sel):
                q = sel.sum(axis=0).astype(np.float64) / len(sel)
                cent[cid] = np.where(
                    q >= 0, np.floor(q + 0.5), np.ceil(q - 0.5)
                ).astype(np.int64)
    a, d2 = nearest(cent)
    return a, d2, cent, costs


@pytest.mark.parametrize(
    "tier_max", [0, clustering._DRIVER_TIER_MAX],
    ids=["distributed", "driver"],
)
def test_kmeans_matches_numpy_reference(spark, monkeypatch, tier_max):
    monkeypatch.setattr(clustering, "_DRIVER_TIER_MAX", tier_max)
    emb = tables.load(spark, SF_DIR, "embeddings")
    adf, cent, costs = clustering.kmeans_train(emb, K, ITERS)
    got = (
        adf.toPandas().sort_values("vec_id").reset_index(drop=True)
    )

    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    vec_ids = np.array([r["vec_id"] for r in rows])
    mat = np.vstack([np.asarray(r["embedding"]) for r in rows])
    ref_a, ref_d2, ref_cent, ref_costs = _reference(
        vec_ids, mat, K, ITERS
    )

    assert got["vec_id"].tolist() == vec_ids.tolist()
    assert got["cluster_id"].tolist() == ref_a.tolist()
    assert got["dist2"].tolist() == ref_d2.tolist()
    assert cent == ref_cent.tolist()
    # exact int state => identical trajectories; float cost may differ
    # only in summation order, compare loosely
    assert np.allclose(costs, ref_costs, rtol=1e-9)


def test_kmeans_deterministic_and_monotone(spark, monkeypatch):
    # force the DISTRIBUTED tier: this test proves partition
    # invariance of the cluster loop, which the driver tier (one
    # collect, no partitions) would satisfy vacuously
    monkeypatch.setattr(clustering, "_DRIVER_TIER_MAX", 0)
    emb = tables.load(spark, SF_DIR, "embeddings")
    a1, c1, costs1 = clustering.kmeans_train(emb, K, ITERS)
    a2, c2, costs2 = clustering.kmeans_train(
        emb.repartition(7), K, ITERS
    )
    assert c1 == c2  # partitioning cannot change the model
    p1 = a1.toPandas().sort_values("vec_id").reset_index(drop=True)
    p2 = a2.toPandas().sort_values("vec_id").reset_index(drop=True)
    assert p1.equals(p2)
    assert all(
        b <= a + 1e-6 for a, b in zip(costs1, costs1[1:])
    ), f"cost not monotone: {costs1}"


def test_kmeans_rows_sit_in_nearest_cluster(spark):
    emb = tables.load(spark, SF_DIR, "embeddings")
    adf, cent, _ = clustering.kmeans_train(emb, K, ITERS)
    c = np.asarray(cent, dtype=np.int64)
    pdf = adf.toPandas()
    rows = emb.select("vec_id", "embedding").collect()
    by_id = {r["vec_id"]: np.asarray(r["embedding"]) for r in rows}
    sample = pdf.sample(n=min(50, len(pdf)), random_state=0)
    for r in sample.itertuples():
        iv = _fixed(by_id[r.vec_id][None, :])[0]
        d2 = ((iv[None, :] - c) ** 2).sum(axis=1)
        assert d2.min() == r.dist2
        assert d2.argmin() == r.cluster_id or d2[r.cluster_id] == d2.min()


# ---- product quantization (pq1/pq2) --------------------------------------


def test_pq_codes_partition_invariant(spark, monkeypatch):
    # force the DISTRIBUTED tier (see test_kmeans_deterministic_...)
    monkeypatch.setattr(clustering, "_DRIVER_TIER_MAX", 0)
    emb = tables.load(spark, SF_DIR, "embeddings")
    a, cb_a = clustering.pq_train_encode(emb)
    b, cb_b = clustering.pq_train_encode(emb.repartition(13))
    assert cb_a == cb_b  # identical trained codebooks
    pa = a.toPandas().sort_values("vec_id").reset_index(drop=True)
    pb = b.toPandas().sort_values("vec_id").reset_index(drop=True)
    assert pa["qerr"].tolist() == pb["qerr"].tolist()
    assert [list(c) for c in pa["codes"]] == [list(c) for c in pb["codes"]]


def test_pq_training_reduces_quantization_error(spark):
    # Lloyd monotonicity carried through the product structure:
    # trained codebooks quantize no worse than the raw seeds
    emb = tables.load(spark, SF_DIR, "embeddings")
    untrained, _ = clustering.pq_train_encode(emb, n_iter=0)
    trained, _ = clustering.pq_train_encode(emb, n_iter=3)
    e0 = untrained.agg({"qerr": "sum"}).collect()[0][0]
    e3 = trained.agg({"qerr": "sum"}).collect()[0][0]
    assert e3 <= e0
    assert e3 > 0  # lossy by nature — a zero would mean a broken path


def test_pq_codes_reconstruct_within_bin_bounds(spark):
    # every vector's qerr equals the distance to its codes' centroids
    # — spot-check against a numpy recomputation
    emb = tables.load(spark, SF_DIR, "embeddings")
    codes_df, cb = clustering.pq_train_encode(emb)
    cent = np.asarray(cb, dtype=np.int64)  # (m, ksub, dsub)
    m, _, dsub = cent.shape
    by_id = {
        r["vec_id"]: np.asarray(r["embedding"])
        for r in emb.select("vec_id", "embedding").collect()
    }
    pdf = codes_df.toPandas().sample(n=40, random_state=0)
    for r in pdf.itertuples():
        iv = _fixed(by_id[r.vec_id][None, :])[0]
        expect = 0
        for s in range(m):
            sub = iv[s * dsub : (s + 1) * dsub]
            diff = sub - cent[s][r.codes[s]]
            expect += int((diff * diff).sum())
        assert expect == r.qerr


def test_pq_adc_finds_planted_duplicates(spark):
    # a planted exact duplicate shares the query's codes, so its ADC
    # distance is the global minimum (the query's own quantization
    # error) — it must appear at rank 1
    from pyspark.sql import functions as F

    emb = tables.load(spark, SF_DIR, "embeddings")
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    dups = (
        emb.filter(F.col("vec_id") < 8)
        .withColumn("vec_id", F.col("vec_id") + max_id + 1)
    )
    corpus = emb.unionByName(dups)
    top = clustering.pq_adc_topk(corpus, k=5, n_queries=8).collect()
    best = {}
    for r in top:
        if r["rank"] == 1:
            best[r["query_id"]] = r
    for q in range(8):
        assert best[q]["neighbor_id"] == q + max_id + 1, best[q]
        # ADC distance to the duplicate == the query's own qerr > 0
        assert best[q]["adc_d2"] > 0


def test_pq_adc_recall_beats_random(spark):
    from serverless_smurf_etl_and_analytics_spark.operators import (
        similarity,
    )

    emb = tables.load(spark, SF_DIR, "embeddings")
    adc: dict[int, set] = {}
    for r in clustering.pq_adc_topk(emb, k=5, n_queries=8).collect():
        adc.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    exact: dict[int, set] = {}
    for r in similarity.cosine_topk(emb, 5, 64).collect():
        if r["query_id"] < 8:
            exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(adc[q] & exact[q]) / len(exact[q]) for q in sorted(exact)
    ]
    mean = sum(recalls) / len(recalls)
    # 32-bit codes on 64-dim embeddings: measured ~0.2 vs the 0.025
    # random baseline (5 of ~200). Guard at 4x random — a register or
    # gather bug collapses this to the baseline.
    assert mean >= 0.1, recalls


def test_ivfpq_probe_all_equals_full_adc(spark):
    # with every list probed, IVF pruning is a no-op: the composition
    # must reproduce the plain ADC ranking exactly
    emb = tables.load(spark, SF_DIR, "embeddings")
    full = clustering.ivfpq_topk(
        emb, k=5, nprobe=16, coarse_k=16, n_queries=8
    )
    adc = clustering.pq_adc_topk(emb, k=5, n_queries=8)
    a = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["adc_d2"])
        for r in full.collect()
    )
    b = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["adc_d2"])
        for r in adc.collect()
    )
    assert a == b


def test_ivfpq_finds_planted_duplicates(spark):
    # an exact duplicate lands in the query's own nearest list (always
    # probed first) with identical codes -> retrieved at rank 1
    from pyspark.sql import functions as F

    emb = tables.load(spark, SF_DIR, "embeddings")
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    dups = (
        emb.filter(F.col("vec_id") < 8)
        .withColumn("vec_id", F.col("vec_id") + max_id + 1)
    )
    corpus = emb.unionByName(dups)
    top = clustering.ivfpq_topk(corpus, k=5, nprobe=4, n_queries=8)
    best = {r["query_id"]: r for r in top.collect() if r["rank"] == 1}
    for q in range(8):
        assert best[q]["neighbor_id"] == q + max_id + 1, best[q]


def test_residual_pq_reduces_quantization_error(spark):
    # the reason residual PQ exists: quantizing x - c(x) spends the
    # same 8-byte code budget on the small residual ball instead of
    # the whole space (measured ~10% lower aggregate qerr here)
    emb = tables.load(spark, SF_DIR, "embeddings")
    plain, _ = clustering.pq_train_encode(emb)
    resid, _ = clustering.pq_train_encode_residual(emb)
    e_plain = plain.agg({"qerr": "sum"}).collect()[0][0]
    e_resid = resid.agg({"qerr": "sum"}).collect()[0][0]
    assert e_resid < e_plain
    # and the residual path keeps the determinism contract
    resid2, cb2 = clustering.pq_train_encode_residual(
        emb.repartition(13)
    )
    _, cb1 = clustering.pq_train_encode_residual(emb)
    assert cb1 == cb2


def test_adc_rerank_recovers_recall_and_exact_distances(spark):
    """pq4 laws: (1) the re-ranked top-k's exact_d2 values equal a
    numpy recomputation of the int64 fixed-point distance; (2) recall
    vs the exact L2 top-k baseline is >= plain ADC top-k recall (the
    shortlist can only help); (3) every returned neighbor came from
    the ADC shortlist (adc_d2 present and consistent per pair)."""
    import numpy as np

    emb = tables.load(spark, SF_DIR, "embeddings")
    rows = sorted(
        emb.select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = _fixed(np.vstack([r["embedding"] for r in rows]))
    idx_of = {int(v): i for i, v in enumerate(ids)}

    def exact_topk(qid, k=5):
        qi = idx_of[qid]
        d = ((mat - mat[qi][None, :]) ** 2).sum(axis=1)
        order = np.lexsort((ids, d))
        return [int(ids[i]) for i in order if ids[i] != qid][:k]

    rr = clustering.pq_adc_rerank_topk(emb, k=5, shortlist=20,
                                       n_queries=8).collect()
    adc = clustering.pq_adc_topk(emb, k=5, n_queries=8).collect()
    got_rr: dict[int, set] = {}
    for r in rr:
        got_rr.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        qi, ni = idx_of[r["query_id"]], idx_of[r["neighbor_id"]]
        want = int(((mat[qi] - mat[ni]) ** 2).sum())
        assert r["exact_d2"] == want, (r, want)
    got_adc: dict[int, set] = {}
    for r in adc:
        got_adc.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    rec_rr, rec_adc = [], []
    for q in sorted(got_rr):
        truth = set(exact_topk(q))
        rec_rr.append(len(got_rr[q] & truth) / len(truth))
        rec_adc.append(len(got_adc[q] & truth) / len(truth))
    assert sum(rec_rr) >= sum(rec_adc), (rec_rr, rec_adc)
    assert sum(rec_rr) / len(rec_rr) >= 0.2, rec_rr


def test_model_artifacts_equal_inline_training(spark, tmp_path):
    """r8 model artifacts: the cached k-means and PQ models (explicit
    root bypasses the 10k gate) are value-identical to inline
    training — assignments/centroids/costs and codes/codebooks — and
    a second lookup is a pure hit (no new cache entries). The
    deterministic trainers make the artifact a faithful model store,
    so c1/pq1-pq4/ivfpq1 cold sessions skip every training pass."""
    import os

    emb = tables.load(spark, SF_DIR, "embeddings")
    root = str(tmp_path)
    ia, ic, icost = clustering._as_kmeans(
        *clustering._lloyd_train(emb, 1, 16, 5)
    )
    ca, cc, ccost = clustering.kmeans_train(emb, cache=root)
    assert ic == cc and icost == ccost
    assert {tuple(r) for r in ia.collect()} == {
        tuple(r) for r in ca.collect()
    }
    icodes, icb, _ = clustering._lloyd_train(emb, 8, 16, 3)
    ccodes, ccb = clustering.pq_train_encode(emb, cache=root)
    assert icb == ccb
    assert {
        (r["vec_id"], tuple(r["codes"]), r["qerr"])
        for r in icodes.collect()
    } == {
        (r["vec_id"], tuple(r["codes"]), r["qerr"])
        for r in ccodes.collect()
    }
    n_entries = len(os.listdir(root))
    _, cc2, _ = clustering.kmeans_train(emb, cache=root)
    assert cc2 == ic and len(os.listdir(root)) == n_entries


def test_model_artifact_gate_keeps_inline_below_min(spark):
    """cache="auto" below _MODEL_ARTIFACT_MIN must train inline —
    identical model, no artifact side effects (driver scales and the
    pinned bench rely on the unchanged plans)."""
    emb = tables.load(spark, SF_DIR, "embeddings")
    _, auto_c, _ = clustering.kmeans_train(emb, cache="auto")
    _, inline_c, _ = clustering._as_kmeans(
        *clustering._lloyd_train(emb, 1, 16, 5)
    )
    assert auto_c == inline_c


def test_failed_model_write_trains_once(spark, tmp_path, monkeypatch):
    """An OSError from the model-artifact write falls back to the model
    already trained: the trainer runs exactly once, and the result
    equals inline training."""
    from serverless_smurf_etl_and_analytics_spark.operators import artifacts

    emb = tables.load(spark, SF_DIR, "embeddings")
    ia, ic, icost = clustering._as_kmeans(
        *clustering._lloyd_train(emb, 1, 16, 5)
    )
    real_train = clustering._lloyd_train
    calls = []

    def counted_train(*a, **k):
        calls.append(1)
        return real_train(*a, **k)

    def failed_write(*a, **k):
        raise OSError("no space left on device")

    monkeypatch.setattr(clustering, "_lloyd_train", counted_train)
    monkeypatch.setattr(artifacts, "atomic_write_parquet", failed_write)
    ca, cc, ccost = clustering.kmeans_train(emb, cache=str(tmp_path))
    assert len(calls) == 1
    assert cc == ic and ccost == icost
    assert {tuple(r) for r in ca.collect()} == {
        tuple(r) for r in ia.collect()
    }


def test_driver_tier_equals_distributed_tier(spark, monkeypatch):
    """r13 tier law: the driver-numpy trainer tier (small corpora —
    one collect, in-process Lloyd) must produce BIT-IDENTICAL models,
    assignments, codes and qerr to the distributed loop, exactly like
    the connected-components small-graph tier. Float ``costs`` may
    differ only by summation order."""
    emb = tables.load(spark, SF_DIR, "embeddings")

    monkeypatch.setattr(clustering, "_DRIVER_TIER_MAX", 0)
    da, dc, dcosts = clustering.kmeans_train(emb, K, ITERS, cache=None)
    dpd = da.toPandas().sort_values("vec_id").reset_index(drop=True)
    dcodes, dcb = clustering.pq_train_encode(emb, cache=None)
    dcp = dcodes.toPandas().sort_values("vec_id").reset_index(drop=True)

    monkeypatch.setattr(clustering, "_DRIVER_TIER_MAX", 1_000_000)
    va, vc, vcosts = clustering.kmeans_train(emb, K, ITERS, cache=None)
    vpd = va.toPandas().sort_values("vec_id").reset_index(drop=True)
    vcodes, vcb = clustering.pq_train_encode(emb, cache=None)
    vcp = vcodes.toPandas().sort_values("vec_id").reset_index(drop=True)

    assert dc == vc
    assert dpd["cluster_id"].tolist() == vpd["cluster_id"].tolist()
    assert dpd["dist2"].tolist() == vpd["dist2"].tolist()
    assert np.allclose(dcosts, vcosts, rtol=1e-9)
    assert dcb == vcb
    assert [list(c) for c in dcp["codes"]] == [list(c) for c in vcp["codes"]]
    assert dcp["qerr"].tolist() == vcp["qerr"].tolist()
