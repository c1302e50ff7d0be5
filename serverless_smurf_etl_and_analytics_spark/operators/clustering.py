"""Distributed fixed-point Lloyd over the embeddings table: ONE trainer
serves k-means (c1, the IVF coarse quantizer — similarity.ivf_topk's
docstring: "a k-means training pass would swap in learned ones with no
structural change") and product quantization (pq1-pq4, ivfpq1).
k-means IS product quantization with one subspace (Jegou et al. 2011:
each PQ sub-quantizer is a k-means), so :func:`kmeans_train` is the
trainer with ``m=1`` projected to (vec_id, cluster_id, dist2) and
:func:`pq_train_encode` is the trainer with ``m`` subspaces.

Determinism: all assignment math is int64 fixed point (the
similarity.SCALE convention), partial sums are exact integers (sum
order cannot change them), centroid updates round half-away-from-zero
at integer scale — so codes and centroids are bit-identical across
runs, partitionings, tiers and engines. Only the reported float
``cost`` is summation-order sensitive (monitoring only, never fed back
into the model).

Scale design (Lloyd on Spark, the treeAggregate shape):
- each iteration is ONE map-side pass: an Arrow-batched mapInPandas
  computes per-batch, per-subspace nearest-centroid assignments (numpy
  matmul against the broadcast m x ksub x dim/m codebook tensor) and
  emits per-batch partial sums — at most m * ksub rows per batch,
  (subspace, cluster_id, n, sum vector, cost) — so the per-iteration
  shuffle is O(batches * ksub * dim) longs, independent of corpus
  size; all m codebooks train in the same pass;
- the final encode pass streams the codes back as a DataFrame (never
  collected);
- codebooks are a bounded model artifact (ksub * dim int64), the same
  class of broadcast as IVF's centroid rows / cosine_topk's query
  matrix. Iterations are driver-side loops over Spark jobs, which is
  how distributed Lloyd works everywhere (MLlib included).
- below ``_DRIVER_TIER_MAX`` vectors the corpus collects once and the
  same kernel runs in-process on one "batch" (the driver tier).

The closures are fully self-contained (helpers defined inside, imports
inside) so cloudpickle ships them by value — a module-path reference
would fail on workers when the driver runs from another cwd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from . import artifacts
from .similarity import SCALE

_PARTIAL_SCHEMA = StructType(
    [
        StructField("subspace", LongType()),
        StructField("cluster_id", LongType()),
        StructField("n", LongType()),
        StructField("s", ArrayType(LongType())),
        # monitoring-only per-cluster d2 sum: float64, NOT long — at
        # 100x vectors the summed squared fixed-point distances pass
        # 2^63 (the sf10 rehearsal hit ANSI ARITHMETIC_OVERFLOW here);
        # the exact int64 model state is the coordinate sums above,
        # whose bound is |vectors per cluster| x SCALE ~ 1e16 at 1e9
        # vectors — 3 decades of headroom
        StructField("cost", DoubleType()),
    ]
)

_CODE_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("codes", ArrayType(LongType())),
        StructField("qerr", LongType()),
    ]
)


def _make_helpers(scale: int):
    """Build the fixed-point kernel once: ``rnd`` (round half away from
    zero to int64), ``to_fixed`` (embedding column -> int64 matrix),
    and, over ``encode`` (per-subspace nearest centroid and its d2),
    ``partials`` (one batch's per-(subspace, cluster) sums) and
    ``frame`` (one batch's code rows). All are plain local functions,
    so closures capturing them pickle by value."""
    import numpy as np
    import pandas as pd

    def rnd(q):
        return np.where(
            q >= 0, np.floor(q + 0.5), np.ceil(q - 0.5)
        ).astype(np.int64)

    def to_fixed(col):
        return rnd(
            np.vstack(col.map(np.asarray).values).astype(np.float64)
            * scale
        )

    def encode(iv, cent):
        # cent = (m, ksub, dsub); per subspace
        # ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2, int64 throughout
        # (dim 64, |component| <= SCALE => max term ~2.6e14 << 2^63).
        # Ties break to the lowest id (argmin first-occurrence).
        m, _, dsub = cent.shape
        codes = np.empty((len(iv), m), dtype=np.int64)
        d2 = np.empty((len(iv), m), dtype=np.int64)
        rows = np.arange(len(iv))
        for s in range(m):
            x, c = iv[:, s * dsub : (s + 1) * dsub], cent[s]
            d = (
                (x * x).sum(axis=1, keepdims=True)
                - 2 * (x @ c.T)
                + (c * c).sum(axis=1)[None, :]
            )
            codes[:, s] = np.argmin(d, axis=1)
            d2[:, s] = d[rows, codes[:, s]]
        return codes, d2

    def partials(iv, cent):
        codes, d2 = encode(iv, cent)
        dsub = cent.shape[2]
        out = {"subspace": [], "cluster_id": [], "n": [], "s": [],
               "cost": []}
        for s in range(cent.shape[0]):
            x = iv[:, s * dsub : (s + 1) * dsub]
            for cid in np.unique(codes[:, s]):
                sel = codes[:, s] == cid
                out["subspace"].append(s)
                out["cluster_id"].append(int(cid))
                out["n"].append(int(sel.sum()))
                out["s"].append(x[sel].sum(axis=0).tolist())
                # per-cluster cost share, float64: monitoring only —
                # the int partial sums above are the exact model state
                # (see _PARTIAL_SCHEMA note)
                out["cost"].append(float(d2[sel, s].sum(dtype=np.float64)))
        return out

    def frame(ids, iv, cent):
        codes, d2 = encode(iv, cent)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "codes": [c.tolist() for c in codes],
                "qerr": d2.sum(axis=1),
            }
        )

    return rnd, to_fixed, partials, frame


# corpus-size floor for "auto" model-artifact caching of the trained
# models — same rationale and driver-scale safety as
# dedup._DOC_ARTIFACT_MIN (every driver-verified scale is below it, so
# the gated default changes no verified plan; explicit roots bypass).
_MODEL_ARTIFACT_MIN = 10_000

# corpus-size ceiling for the DRIVER tier of the Lloyd trainer: below
# it the whole corpus collects once and the n_iter x (scan + Arrow +
# shuffle + collect) distributed loop becomes a single numpy loop —
# the dedup.connected_components small-graph tier applied to training
# (r13, guide §2.6/§5: the per-iteration cost at small n is pure job
# scheduling + Python-worker round trips, not arithmetic). The math is
# the SAME int64 fixed-point kernel (the whole corpus is one batch of
# `partials`), partial sums are exact integers, so both tiers are
# bit-identical (law-tested in tests/test_clustering.py). 100k 64-dim
# vectors collect ~50 MB — far under the 4g driver result cap; above
# the ceiling the distributed loop runs. Every fixture and benchmark
# corpus (sf0.1: 2,000 vectors) selects the driver tier; the laws
# force the distributed one by setting this to 0.
_DRIVER_TIER_MAX = 100_000


def _collect_fixed(emb: DataFrame):
    """Collect (vec_id, embedding) sorted by vec_id as ``(ids, int64
    fixed-point matrix)``. Row order is deterministic (sorted ids), so
    every model and table built from it is reproducible."""
    import numpy as np
    import pandas as pd

    _, to_fixed, _, _ = _make_helpers(SCALE)
    rows = sorted(
        emb.select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    return ids, to_fixed(pd.Series([r["embedding"] for r in rows]))


def kmeans_train(
    emb: DataFrame,
    k: int = 16,
    n_iter: int = 5,
    cache: str | None = "auto",
    fingerprint: tuple[int, int] | None = None,
) -> tuple[DataFrame, list[list[int]], list[float]]:
    """Train k-means and return ``(assignments, centroids, costs)``:
    assignments = (vec_id, cluster_id, dist2) labeled against the
    FINAL centroids (so every row provably sits in its nearest
    cluster), centroids = k fixed-point vectors, costs = per-iteration
    sum of squared distance before that iteration's update (float,
    monitoring only).

    This is the Lloyd trainer with one subspace (``m=1``, ``ksub=k``):
    cluster_id is ``codes[0]`` and dist2 is ``qerr``. Init follows the
    IVF convention: the first ``k`` vec_ids are the seed centroids.
    Empty clusters keep their previous centroid. The model artifact
    rules are :func:`pq_train_encode`'s."""
    return _as_kmeans(*_train(emb, 1, k, n_iter, cache, fingerprint))


def _as_kmeans(codes_df: DataFrame, codebooks: list, costs: list):
    """Project a one-subspace model to k-means outputs."""
    return (
        codes_df.select(
            "vec_id",
            F.col("codes")[0].alias("cluster_id"),
            F.col("qerr").alias("dist2"),
        ),
        codebooks[0],
        costs,
    )


def pq_train_encode(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 3,
    cache: str | None = "auto",
    fingerprint: tuple[int, int] | None = None,
) -> tuple[DataFrame, list]:
    """pq1: product quantization — split each embedding into ``m``
    subvectors, train a ``ksub``-centroid codebook per subspace
    (fixed-point Lloyd, see the module docstring), and encode every
    vector as ``m`` one-byte codes. Returns ``(codes_df, codebooks)``
    where codes_df = (vec_id, codes array, qerr = total squared
    quantization error).

    PQ is the memory side of the ANN story the sim* family leaves
    open: IVF (sim4) prunes WHICH vectors to score, PQ compresses WHAT
    is scored — a 64-dim float32 vector becomes m=8 bytes (32x), so at
    100 TB the candidate set fits executor memory and ADC scans
    replace raw-vector reads (Jegou et al. 2011).

    Determinism: int64 fixed point end-to-end; ties to the lowest
    code (argmin first-occurrence); centroid updates round
    half-away-from-zero; empty clusters keep their centroid. Seeds
    follow the c1/IVF convention: the first ksub vec_ids, sliced per
    subspace.

    Deterministic => (r8) the trained model persists as the
    fingerprint-keyed ``MODEL`` artifact, and c1/pq1-pq4/ivfpq1 cold
    sessions read the model instead of re-running ``n_iter`` corpus
    passes; pq3's residual path composes (its input frame is
    fingerprinted like any corpus)."""
    codes_df, codebooks, _ = _train(emb, m, ksub, n_iter, cache, fingerprint)
    return codes_df, codebooks


class _ModelKind(artifacts.Kind):
    """The trained Lloyd model: three parquet dirs under one key
    (codes, codebooks, per-iteration costs). A half-written model
    self-heals: the trainer is deterministic, so re-writing any
    missing dir reproduces identical content and
    ``atomic_write_parquet`` keeps whatever already committed. A
    model does not merge by shard, so it is never advanced: a grown
    corpus trains under its new key."""

    def fetch(self, emb, root, fp, train, m, ksub, n_iter):
        import os

        spark = emb.sparkSession
        base = os.path.join(
            root, self.dirname(fp, m=m, ksub=ksub, n_iter=n_iter)
        )
        paths = (base + "_codes", base + "_cb", base + "_cost")
        if not all(os.path.exists(p) for p in paths):
            codes_df, cbs, costs = train()
            artifacts.atomic_write_parquet(codes_df, paths[0])
            artifacts.atomic_write_parquet(
                spark.createDataFrame(
                    [
                        (s, c, [int(x) for x in vec])
                        for s, book in enumerate(cbs)
                        for c, vec in enumerate(book)
                    ],
                    "subspace long, cluster_id long, c array<long>",
                ),
                paths[1],
            )
            artifacts.atomic_write_parquet(
                spark.createDataFrame(
                    [(i, float(c)) for i, c in enumerate(costs)],
                    "iter long, cost double",
                ),
                paths[2],
            )
        for p in paths:
            artifacts.touch(p)
        rows = sorted(
            spark.read.parquet(paths[1]).collect(),
            key=lambda r: (r["subspace"], r["cluster_id"]),
        )
        cbs = [
            [list(r["c"]) for r in rows if r["subspace"] == s]
            for s in range(m)
        ]
        costs = [
            r["cost"]
            for r in sorted(
                spark.read.parquet(paths[2]).collect(),
                key=lambda r: r["iter"],
            )
        ]
        codes_df = spark.read.parquet(paths[0]).select(
            "vec_id", "codes", "qerr"
        )
        return codes_df, cbs, costs


MODEL = _ModelKind(
    "pq_v2_n{n}_h{h}_m{m}_k{ksub}_i{n_iter}",
    _MODEL_ARTIFACT_MIN,
    artifacts.EMB_COLS,
    None,
)


def _train(
    emb: DataFrame,
    m: int,
    ksub: int,
    n_iter: int,
    cache: str | None,
    fingerprint: tuple[int, int] | None,
) -> tuple[DataFrame, list, list[float]]:
    """:func:`_lloyd_train` behind the ``MODEL`` artifact: at or above
    ``_MODEL_ARTIFACT_MIN`` vectors (or under an explicit ``cache``
    root) read the model, training and writing it first if missing
    (``artifacts.Kind.lookup``). Training runs at most once: when the
    artifact write or read-back fails after training, the fallback
    returns the model already trained."""
    trained: list = []

    def train():
        if not trained:
            trained.append(
                _lloyd_train(
                    emb, m, ksub, n_iter,
                    n=fingerprint[0] if fingerprint else None,
                )
            )
        return trained[0]

    model = MODEL.lookup(
        emb, cache, fingerprint, train=train, m=m, ksub=ksub, n_iter=n_iter
    )
    return model if model is not None else train()


def _lloyd_train(
    emb: DataFrame, m: int, ksub: int, n_iter: int, n: int | None = None
) -> tuple[DataFrame, list, list[float]]:
    """The m-subspace fixed-point Lloyd trainer (no artifact): returns
    ``(codes_df, codebooks, costs)`` — codes_df = (vec_id, codes,
    qerr) against the FINAL codebooks, codebooks = m x ksub x dim/m
    int64, costs[i] = iteration i's total squared distance before its
    update, summed over subspaces.

    Up to ``_DRIVER_TIER_MAX`` vectors the corpus collects once (sorted
    by vec_id) and every iteration is one in-process ``partials`` call;
    above it each iteration is one mapInPandas pass of the same kernel
    plus a grouped combine. Integer partial sums are order-free, so
    codes, codebooks and qerr are bit-identical across the tiers; the
    float ``costs`` may differ in the last ulp (summation order)."""
    import numpy as np

    if n is None:
        from .memo import memoized_count

        n = memoized_count(emb)
    driver = 0 < n <= _DRIVER_TIER_MAX
    rnd, to_fixed, partials, frame = _make_helpers(SCALE)
    vecs = emb.select("vec_id", "embedding")
    # the driver tier's one corpus pass, else just the seed rows
    ids, iv = _collect_fixed(
        vecs if driver else vecs.filter(F.col("vec_id") < ksub)
    )
    seeds = iv[ids < ksub]
    dsub = iv.shape[1] // m
    # codebook tensor: cent[s] = (ksub, dsub)
    cent = np.stack(
        [seeds[:, s * dsub : (s + 1) * dsub] for s in range(m)]
    )
    costs: list[float] = []

    for _ in range(n_iter):
        if driver:
            part = zip(*partials(iv, cent).values())
        else:

            def batch_partials(batches, c=cent, tf=to_fixed, pr=partials):
                import pandas as pd

                for pdf in batches:
                    if len(pdf):
                        yield pd.DataFrame(pr(tf(pdf["embedding"]), c))

            part = (
                vecs.mapInPandas(batch_partials, schema=_PARTIAL_SCHEMA)
                .groupBy("subspace", "cluster_id")
                .agg(
                    F.sum("n").alias("n"),
                    F.array(
                        *[
                            F.sum(F.try_element_at("s", F.lit(i + 1)))
                            for i in range(dsub)
                        ]
                    ).alias("s"),
                    F.sum("cost").alias("cost"),
                )
                .collect()
            )
        new_cent = cent.copy()
        cost = 0.0
        for s, cid, cnt, ssum, c in part:
            cost += c
            new_cent[s, cid] = rnd(
                np.asarray(ssum, dtype=np.int64).astype(np.float64) / cnt
            )
        costs.append(cost)
        cent = new_cent

    if driver:
        codes_df = emb.sparkSession.createDataFrame(
            frame(ids, iv, cent), schema=_CODE_SCHEMA
        )
    else:

        def encode(batches, c=cent, tf=to_fixed, fr=frame):
            for pdf in batches:
                if len(pdf):
                    yield fr(pdf["vec_id"].values, tf(pdf["embedding"]), c)

        codes_df = vecs.mapInPandas(encode, schema=_CODE_SCHEMA)
    return codes_df, cent.tolist(), costs


def _adc_tables(emb: DataFrame, codebooks: list, n_queries: int):
    """Collect the first ``n_queries`` vectors (sorted by vec_id) and
    build their ADC lookup tables, ``tables[qi, s, j] = ||q_s -
    c_sj||^2`` — the (queries x m x ksub) int64 tensor pq2 and ivfpq1
    ship in their scoring closures. Returns ``(qids, queries in fixed
    point, tables)``."""
    import numpy as np

    qids, qiv = _collect_fixed(emb.filter(F.col("vec_id") < n_queries))
    cent = np.asarray(codebooks, dtype=np.int64)  # (m, ksub, dsub)
    m, ksub, dsub = cent.shape
    tables = np.empty((len(qids), m, ksub), dtype=np.int64)
    for s in range(m):
        diff = qiv[:, None, s * dsub : (s + 1) * dsub] - cent[s][None]
        tables[:, s] = (diff * diff).sum(axis=2)
    return qids, qiv, tables


def _adc_rank(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` nearest by ``adc_d2`` (ties to the lowest
    neighbor id, the query itself dropped), with a 1-based ``rank``."""
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            *scored.columns, F.col("rn").cast("long").alias("rank")
        )
    )


def pq_adc_topk(
    emb: DataFrame, k: int = 5, m: int = 8, ksub: int = 16,
    n_iter: int = 3, n_queries: int = 8
) -> DataFrame:
    """pq2: asymmetric-distance (ADC) top-k — approximate nearest
    neighbors where the DATABASE side is PQ codes and only the QUERY
    stays full-precision. For each query q: build the m x ksub lookup
    table d2(q_s, centroid[s][j]) once, then every candidate's
    distance is m table lookups + adds — no raw vectors touched.

    Here the lookup tables for the (bounded) query set ship broadcast
    inside the closure and the scan is a single Arrow-batched pass
    over the code table: per batch, distances = sum of table gathers,
    a (n x m) integer gather + row-sum. At 100 TB the code table is
    32x smaller than the raw vectors and the pass is embarrassingly
    parallel; composing with the IVF list pruning (sim4) multiplies
    the two savings. Recall vs the exact brute-force baseline is
    law-tested in tests/test_clustering.py, mirroring the sim3/sim4
    planted-pair methodology.

    Determinism: the codes, tables and distance sums are all int64;
    top-k ties break to the lowest neighbor vec_id.
    """
    codes_df, codebooks = pq_train_encode(emb, m, ksub, n_iter)
    qids, _, tables = _adc_tables(emb, codebooks, n_queries)

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("adc_d2", LongType()),
        ]
    )

    def score(batches, tables=tables, qids=qids):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["codes"].map(np.asarray).values)
            n, m_ = codes.shape
            out = []
            for qi, qid in enumerate(qids):
                # gather: d[i] = sum_s tables[qi, s, codes[i, s]]
                d = tables[qi][np.arange(m_)[None, :], codes].sum(axis=1)
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": pdf["vec_id"].values,
                            "adc_d2": d,
                        }
                    )
                )
            yield pd.concat(out)

    return _adc_rank(codes_df.mapInPandas(score, schema=schema), k)


def ivfpq_topk(
    emb: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    coarse_k: int = 16,
    coarse_iters: int = 3,
    m: int = 8,
    ksub: int = 16,
    pq_iters: int = 3,
    n_queries: int = 8,
) -> DataFrame:
    """ivfpq1: the production ANN pipeline — IVF coarse quantization
    prunes WHICH vectors are scored (only the ``nprobe`` lists nearest
    each query), PQ codes compress WHAT is scored (ADC table lookups,
    no raw vectors). Composes :func:`kmeans_train` (the c1 trainer)
    with :func:`pq_train_encode` (pq1); the non-residual variant
    (codes computed on raw vectors, not list residuals) keeps one code
    table valid across all lists, so the probe filter is a plain
    column predicate — the residual variant would need per-list
    re-encoding and is the documented next step, not a different plan
    shape.

    Scale: the database side is (vec_id, codes, list_id) — 8 bytes of
    code + 1 of list per vector; scoring is one Arrow-batched pass
    with the (queries x m x ksub) distance tables and per-query probe
    sets broadcast in the closure. Each batch gathers only rows whose
    list is probed — at nprobe/coarse_k = 1/4 that is ~75% of the ADC
    work skipped before a single add, multiplying with PQ's 32x
    memory saving. Determinism: probe lists order by (distance,
    centroid id); top-k ties break to the lowest neighbor id.
    """
    import numpy as np

    # the coarse quantizer and the PQ codebooks are INDEPENDENT
    # training loops over the same corpus — run them from two driver
    # threads so each loop's per-iteration jobs back-fill the
    # executors idled by the other loop's collect barriers (guide
    # §2.6 "overlap independent jobs"; Lloyd iterations are
    # inherently sequential WITHIN a loop, so this is the only
    # parallelism the composition admits). Models are deterministic
    # int64 fixed point, so concurrent training is bit-identical to
    # sequential.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_km = pool.submit(kmeans_train, emb, coarse_k, coarse_iters)
        f_pq = pool.submit(pq_train_encode, emb, m, ksub, pq_iters)
        assignments, coarse_cent, _ = f_km.result()
        codes_df, codebooks = f_pq.result()
    db = codes_df.join(
        assignments.select("vec_id", F.col("cluster_id").alias("list_id")),
        "vec_id",
    )

    cc = np.asarray(coarse_cent, dtype=np.int64)  # (coarse_k, dim)
    qids, qiv, tables = _adc_tables(emb, codebooks, n_queries)

    # probe sets: the nprobe coarse lists nearest each query, ties to
    # the lower centroid id (lexsort is stable on the secondary key)
    probes = {}
    for qi in range(len(qids)):
        d2 = ((qiv[qi][None, :] - cc) ** 2).sum(axis=1)
        order = np.lexsort((np.arange(len(d2)), d2))
        probes[int(qids[qi])] = set(order[:nprobe].tolist())

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("neighbor_id", LongType()),
            StructField("list_id", LongType()),
            StructField("adc_d2", LongType()),
        ]
    )

    def score(batches, tables=tables, qids=qids, probes=probes, m=m):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["codes"].map(np.asarray).values)
            lists = pdf["list_id"].values
            vec_ids = pdf["vec_id"].values
            out = []
            for qi, qid in enumerate(qids):
                mask = np.isin(lists, list(probes[int(qid)]))
                if not mask.any():
                    continue
                cs = codes[mask]
                d = tables[qi][np.arange(m)[None, :], cs].sum(axis=1)
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": vec_ids[mask],
                            "list_id": lists[mask],
                            "adc_d2": d,
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    return _adc_rank(db.mapInPandas(score, schema=schema), k)


def pq_adc_rerank_topk(
    emb: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 3,
    n_queries: int = 8,
) -> DataFrame:
    """pq4: two-stage retrieval — the recall-recovery pattern every
    production ANN system ships: stage 1 scores the WHOLE corpus
    cheaply on compressed codes (:func:`pq_adc_topk`, 8 bytes/vector,
    table-lookup adds) and keeps a ``shortlist`` (>= k) of candidates;
    stage 2 re-ranks ONLY the shortlist on raw vectors with the exact
    int64 fixed-point distance. Quantization error can demote a true
    neighbor a few places but rarely out of a 4x shortlist, so the
    re-rank recovers most of PQ's recall loss while touching
    ``n_queries x shortlist`` raw vectors instead of the corpus
    (law-tested: pq4 recall >= pq2 recall vs the exact baseline).

    Scale: stage 2's raw-vector fetch is a broadcast of the bounded
    shortlist against the vectors table — the big side is scanned
    once, filtered to shortlist rows map-side; the exact distance is
    the same Arrow-batched ``_dot_fixed_point`` matmul sim1 uses.
    Determinism: both stages break ties to the lowest neighbor id.
    """
    from pyspark.sql import Window as W

    from .similarity import _dot_fixed_point

    short = pq_adc_topk(
        emb, k=shortlist, m=m, ksub=ksub,
        n_iter=n_iter, n_queries=n_queries,
    ).drop("rank")
    vecs = emb.select("vec_id", "embedding")
    qv = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
    )
    shortq = short.join(F.broadcast(qv), "query_id")
    j = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("ne"),
    ).join(F.broadcast(shortq), "neighbor_id")
    exact_d2 = (
        _dot_fixed_point(F.col("qe"), F.col("qe"))
        - 2 * _dot_fixed_point(F.col("qe"), F.col("ne"))
        + _dot_fixed_point(F.col("ne"), F.col("ne"))
    )
    w = W.partitionBy("query_id").orderBy("exact_d2", "neighbor_id")
    return (
        j.withColumn("exact_d2", exact_d2)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_d2",
            "exact_d2",
            F.col("rn").cast("long").alias("rank"),
        )
    )


def pq_train_encode_residual(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    n_iter: int = 3,
    coarse_k: int = 16,
    coarse_iters: int = 3,
) -> tuple[DataFrame, list]:
    """pq3: residual product quantization — the by_residual=true
    variant ivfpq1's docstring names as the next step: quantize
    x - c(x) (each vector minus its coarse centroid) instead of x, so
    the PQ codebooks spend their 2^(8m) cells on the small residual
    ball around each list's centroid rather than the whole embedding
    space. The law test shows the aggregate quantization error drops
    vs the non-residual pq1 on the same budget; the cost is that ADC
    tables become per-(query, list) — the plumbing trade documented
    in ivfpq1.

    Residuals are computed per row (float64 subtract of the broadcast
    centroid, no accumulation) and re-enter the same fixed-point
    training path as pq1, so determinism and partition invariance
    carry over unchanged.
    """
    import numpy as np

    assignments, coarse_cent, _ = kmeans_train(emb, coarse_k, coarse_iters)
    cc = np.asarray(coarse_cent, dtype=np.int64)
    joined = emb.select("vec_id", "embedding").join(
        assignments.select("vec_id", "cluster_id"), "vec_id"
    )

    res_schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )

    def residuals(batches, c=cc, scale=SCALE):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.vstack(
                pdf["embedding"].map(np.asarray).values
            ).astype(np.float64)
            cent_f = c[pdf["cluster_id"].values].astype(np.float64) / scale
            r = x - cent_f
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].values, "embedding": list(r)}
            )

    # persist the residual frame: pq_train_encode re-reads its input
    # on every pass (size gate count, seed collect, one partial pass
    # per iteration, the final encode) — unpersisted, each pass
    # re-runs the kmeans label mapInPandas + join + residual subtract
    # chain (r13: ~5 redundant upstream recomputes inside pq3's
    # construction). Cached, the chain runs once (guide §5: reused
    # and expensive to recompute).
    # Released once training has consumed it: the driver tier's codes
    # are a local frame, and the distributed tier's lazy encode pass
    # re-derives the deterministic chain rather than pin the cache.
    from pyspark.storagelevel import StorageLevel

    res_df = joined.mapInPandas(residuals, schema=res_schema).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    codes_df, codebooks = pq_train_encode(res_df, m, ksub, n_iter)
    res_df.unpersist()
    return codes_df, codebooks
