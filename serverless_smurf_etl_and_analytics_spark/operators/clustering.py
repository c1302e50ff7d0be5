"""Distributed k-means (Lloyd) over the embeddings table — the
training pass that produces the IVF coarse quantizer
(similarity.ivf_topk's docstring: "a k-means training pass would swap
in learned ones with no structural change").

Determinism: all assignment math is int64 fixed point (the
similarity.SCALE convention), partial sums are exact integers (sum
order cannot change them), centroid updates round half-away-from-zero
at integer scale — so cluster assignments are bit-identical across
runs, partitionings and engines. Only the reported float ``cost`` is
summation-order sensitive (monitoring only, never fed back into the
model).

Scale design (Lloyd on Spark, the treeAggregate shape):
- each iteration is ONE map-side pass: an Arrow-batched mapInPandas
  computes per-batch nearest-centroid assignment (numpy matmul against
  the broadcast k x dim centroid matrix) and emits per-batch partial
  sums — at most k+1 rows per batch, (cluster_id, n, sum vector) — so
  the per-iteration shuffle is O(batches * k * dim) longs, independent
  of corpus size; the grouped combine output is k rows.
- the final labeling pass streams assignments back as a DataFrame
  (never collected);
- centroids are a bounded model artifact (k * dim int64), the same
  class of broadcast as IVF's centroid rows / cosine_topk's query
  matrix. Iterations are driver-side loops over Spark jobs, which is
  how distributed Lloyd works everywhere (MLlib included).

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

from .similarity import SCALE

_PARTIAL_SCHEMA = StructType(
    [
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

_ASSIGN_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("cluster_id", LongType()),
        StructField("dist2", LongType()),
    ]
)


def _make_helpers(scale: int):
    """Build the (to_fixed, nearest) pair once; both are plain local
    functions, so closures capturing them pickle by value."""
    import numpy as np

    def to_fixed(col):
        m = (
            np.vstack(col.map(np.asarray).values).astype(np.float64)
            * scale
        )
        return np.where(
            m >= 0, np.floor(m + 0.5), np.ceil(m - 0.5)
        ).astype(np.int64)

    def nearest(iv, cent):
        # ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2; int64 throughout
        # (dim 64, |component| <= SCALE => max term ~2.6e14 << 2^63).
        # Ties break to the lowest cluster id (argmin first-occurrence).
        d2 = (
            (iv * iv).sum(axis=1, keepdims=True)
            - 2 * (iv @ cent.T)
            + (cent * cent).sum(axis=1)[None, :]
        )
        a = np.argmin(d2, axis=1)
        return a, d2[np.arange(len(a)), a]

    return to_fixed, nearest


# corpus-size floor for "auto" model-artifact caching of the trained
# clustering/PQ models — same rationale and driver-scale safety as
# dedup._DOC_ARTIFACT_MIN (every driver-verified scale is below it, so
# the gated default changes no verified plan; explicit roots bypass).
_MODEL_ARTIFACT_MIN = 10_000

# corpus-size ceiling for the DRIVER tier of the Lloyd trainers: below
# it the whole corpus collects once and the n_iter x (scan + Arrow +
# shuffle + collect) distributed loop becomes a single numpy loop —
# the dedup.connected_components small-graph tier applied to training
# (r13, guide §2.6/§5: the per-iteration cost at small n is pure job
# scheduling + Python-worker round trips, not arithmetic). The math is
# the SAME int64 fixed-point kernel (to_fixed/nearest), partial sums
# are exact integers, so both tiers are bit-identical (law-tested in
# tests/test_clustering.py). 100k 64-dim vectors collect ~50 MB —
# far under the 4g driver result cap; above the ceiling the
# distributed loop runs unchanged.
_DRIVER_TIER_MAX = 100_000


def _collect_fixed(emb: DataFrame):
    """Collect (vec_id, embedding) sorted by vec_id and convert to the
    fixed-point matrix — the driver tier's one corpus pass. Row order
    is deterministic (sorted ids), so every downstream artifact is
    reproducible."""
    import numpy as np
    import pandas as pd

    to_fixed, nearest = _make_helpers(SCALE)
    rows = emb.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    ids = np.asarray([r["vec_id"] for r in rows], dtype=np.int64)
    iv = to_fixed(pd.Series([r["embedding"] for r in rows]))
    return ids, iv, nearest


def _model_paths_ok(*paths: str) -> bool:
    import os

    from .artifacts import touch

    if all(os.path.exists(p) for p in paths):
        for p in paths:
            touch(p)
        return True
    return False


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
    sum of squared distance (float, monitoring only).

    Init follows the IVF convention: the first ``k`` vec_ids are the
    seed centroids. Empty clusters keep their previous centroid.

    The trained model is DETERMINISTIC (int64 fixed point, documented
    tie rules), so (r8) it persists as a fingerprint-keyed MODEL
    artifact — three parquet dirs (assignments / centroids /
    per-iteration costs) under one ``km_*`` key — and c1/ivfpq1/pq3
    cold sessions read the model instead of re-running ``n_iter``
    corpus passes. Gate/staleness/fallback rules match the dedup
    artifacts; a half-written artifact self-heals (the trainer is
    deterministic, so re-writing any missing dir reproduces identical
    content and `atomic_write_parquet` keeps whatever already
    committed)."""
    n_known = fingerprint[0] if fingerprint else None
    if cache is not None:
        try:
            if n_known is None and cache == "auto":
                from .memo import memoized_count

                n_known = memoized_count(emb)
            if cache != "auto" or n_known >= _MODEL_ARTIFACT_MIN:
                import os

                from .artifacts import atomic_write_parquet, cache_root
                from .similarity import corpus_fingerprint

                root = cache_root(None if cache == "auto" else cache)
                from .memo import plan_scalar

                n, h = fingerprint or plan_scalar(
                    emb, "emb_fp", lambda: corpus_fingerprint(emb)
                )
                base = os.path.join(
                    root, f"km_v1_n{n}_h{h}_k{k}_i{n_iter}"
                )
                spark = emb.sparkSession
                paths = (base + "_asg", base + "_cent", base + "_meta")
                if not _model_paths_ok(*paths):
                    asg, cent, costs = _kmeans_train_inline(
                        emb, k, n_iter
                    )
                    atomic_write_parquet(asg, paths[0])
                    atomic_write_parquet(
                        spark.createDataFrame(
                            [
                                (i, [int(x) for x in c])
                                for i, c in enumerate(cent)
                            ],
                            "cluster_id long, c array<long>",
                        ),
                        paths[1],
                    )
                    atomic_write_parquet(
                        spark.createDataFrame(
                            [(i, float(c)) for i, c in enumerate(costs)],
                            "iter long, cost double",
                        ),
                        paths[2],
                    )
                asg = spark.read.parquet(paths[0]).select(
                    "vec_id", "cluster_id", "dist2"
                )
                cent = [
                    list(r["c"])
                    for r in sorted(
                        spark.read.parquet(paths[1]).collect(),
                        key=lambda r: r["cluster_id"],
                    )
                ]
                costs = [
                    r["cost"]
                    for r in sorted(
                        spark.read.parquet(paths[2]).collect(),
                        key=lambda r: r["iter"],
                    )
                ]
                return asg, cent, costs
        except Exception:
            pass
    return _kmeans_train_inline(emb, k, n_iter, n=n_known)


def _kmeans_train_driver(
    emb: DataFrame, k: int, n_iter: int
) -> tuple[DataFrame, list[list[int]], list[float]]:
    """Driver-numpy k-means tier: one collect, then the identical
    int64 Lloyd updates in-process. Seeds, assignment ties, partial
    sums and centroid rounding restate :func:`_kmeans_train_inline`'s
    math exactly (integer sums are order-free), so the model and
    assignments are bit-identical to the distributed loop; only the
    float monitoring ``costs`` may differ in the last ulp (summation
    order — never fed back, same caveat as the distributed form)."""
    import numpy as np
    import pandas as pd

    ids, iv, nearest = _collect_fixed(emb)
    cent = iv[ids < k].copy()
    costs: list[float] = []
    for _ in range(n_iter):
        a, d2 = nearest(iv, cent)
        costs.append(float(d2.sum(dtype=np.float64)))
        new_cent = cent.copy()
        for cid in np.unique(a):
            sel = iv[a == cid]
            q = sel.sum(axis=0).astype(np.float64) / sel.shape[0]
            new_cent[cid] = np.where(
                q >= 0, np.floor(q + 0.5), np.ceil(q - 0.5)
            ).astype(np.int64)
        cent = new_cent
    a, d2 = nearest(iv, cent)
    assignments = emb.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": ids,
                "cluster_id": a.astype("int64"),
                "dist2": d2.astype("int64"),
            }
        ),
        schema=_ASSIGN_SCHEMA,
    )
    return assignments, cent.tolist(), costs


def _kmeans_train_inline(
    emb: DataFrame, k: int, n_iter: int, n: int | None = None
) -> tuple[DataFrame, list[list[int]], list[float]]:
    """The inline (retrain) k-means plan — see :func:`kmeans_train`."""
    import numpy as np
    import pandas as pd

    if n is None:
        from .memo import memoized_count

        n = memoized_count(emb)
    if 0 < n <= _DRIVER_TIER_MAX:
        return _kmeans_train_driver(emb, k, n_iter)

    to_fixed, nearest = _make_helpers(SCALE)
    seed_rows = sorted(
        emb.filter(F.col("vec_id") < k)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    cent = to_fixed(pd.Series([r["embedding"] for r in seed_rows]))
    dim = cent.shape[1]
    vecs = emb.select("vec_id", "embedding")
    costs: list[float] = []

    for _ in range(n_iter):
        def partials(batches, c=cent, tf=to_fixed, nn=nearest):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                iv = tf(pdf["embedding"])
                a, d2 = nn(iv, c)
                rows = {"cluster_id": [], "n": [], "s": [], "cost": []}
                for cid in np.unique(a):
                    sel = iv[a == cid]
                    rows["cluster_id"].append(int(cid))
                    rows["n"].append(int(sel.shape[0]))
                    rows["s"].append(sel.sum(axis=0).tolist())
                    # per-cluster cost share, float64: monitoring
                    # only — the int partial sums above are the
                    # exact model state (see _PARTIAL_SCHEMA note)
                    rows["cost"].append(
                        float(d2[a == cid].sum(dtype=np.float64))
                    )
                yield pd.DataFrame(rows)

        part = (
            vecs.mapInPandas(partials, schema=_PARTIAL_SCHEMA)
            .groupBy("cluster_id")
            .agg(
                F.sum("n").alias("n"),
                F.array(
                    *[
                        F.sum(F.element_at("s", i + 1))
                        for i in range(dim)
                    ]
                ).alias("s"),
                F.sum("cost").alias("cost"),
            )
            .collect()
        )
        new_cent = cent.copy()
        cost = 0.0
        for r in part:
            cost += r["cost"]
            s = np.asarray(r["s"], dtype=np.int64)
            q = s.astype(np.float64) / r["n"]
            new_cent[r["cluster_id"]] = np.where(
                q >= 0, np.floor(q + 0.5), np.ceil(q - 0.5)
            ).astype(np.int64)
        costs.append(cost)
        cent = new_cent

    def label(batches, c=cent, tf=to_fixed, nn=nearest):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            iv = tf(pdf["embedding"])
            a, d2 = nn(iv, c)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "cluster_id": a.astype("int64"),
                    "dist2": d2.astype("int64"),
                }
            )

    assignments = vecs.mapInPandas(label, schema=_ASSIGN_SCHEMA)
    return assignments, cent.tolist(), costs


_PQ_PARTIAL_SCHEMA = StructType(
    [
        StructField("subspace", LongType()),
        StructField("cluster_id", LongType()),
        StructField("n", LongType()),
        StructField("s", ArrayType(LongType())),
    ]
)

_PQ_CODE_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("codes", ArrayType(LongType())),
        StructField("qerr", LongType()),
    ]
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
    (fixed-point Lloyd, same determinism contract as
    :func:`kmeans_train`), and encode every vector as ``m`` one-byte
    codes. Returns ``(codes_df, codebooks)`` where codes_df =
    (vec_id, codes array, qerr = total squared quantization error).

    PQ is the memory side of the ANN story the sim* family leaves
    open: IVF (sim4) prunes WHICH vectors to score, PQ compresses WHAT
    is scored — a 64-dim float32 vector becomes m=8 bytes (32x), so at
    100 TB the candidate set fits executor memory and ADC scans
    replace raw-vector reads (Jegou et al. 2011).

    Scale design: all m codebooks train in ONE pass per iteration —
    the Arrow-batched partial computes per-subspace nearest-centroid
    assignments against the broadcast (m x ksub x dim/m) codebook
    tensor and emits at most m * (ksub + 1) partial-sum rows per
    batch, so the per-iteration shuffle is O(batches * m * ksub *
    dim/m) = O(batches * ksub * dim) longs — corpus-size independent,
    identical to one kmeans_train iteration. Training m codebooks
    sequentially would cost m passes for the same arithmetic. The
    final encode pass streams (never collects) the code table.

    Determinism: int64 fixed point end-to-end; ties to the lowest
    code (argmin first-occurrence); centroid updates round
    half-away-from-zero; empty clusters keep their centroid. Seeds
    follow the c1/IVF convention: the first ksub vec_ids, sliced per
    subspace.

    Deterministic => (r8) the trained model persists as a
    fingerprint-keyed MODEL artifact (``pq_*_codes`` +
    ``pq_*_cb`` parquet dirs), exactly like :func:`kmeans_train`;
    pq1/pq2/pq4/ivfpq1 cold sessions read codes + codebooks instead
    of retraining, and pq3's residual path composes (its input frame
    is fingerprinted like any corpus). Gate/fallback/self-healing
    rules match kmeans_train.
    """
    n_known = fingerprint[0] if fingerprint else None
    if cache is not None:
        try:
            if n_known is None and cache == "auto":
                from .memo import memoized_count

                n_known = memoized_count(emb)
            if cache != "auto" or n_known >= _MODEL_ARTIFACT_MIN:
                import os

                from .artifacts import atomic_write_parquet, cache_root
                from .similarity import corpus_fingerprint

                root = cache_root(None if cache == "auto" else cache)
                from .memo import plan_scalar

                n, h = fingerprint or plan_scalar(
                    emb, "emb_fp", lambda: corpus_fingerprint(emb)
                )
                base = os.path.join(
                    root, f"pq_v1_n{n}_h{h}_m{m}_k{ksub}_i{n_iter}"
                )
                spark = emb.sparkSession
                paths = (base + "_codes", base + "_cb")
                if not _model_paths_ok(*paths):
                    codes_df, cbs = _pq_train_encode_inline(
                        emb, m, ksub, n_iter
                    )
                    atomic_write_parquet(codes_df, paths[0])
                    atomic_write_parquet(
                        spark.createDataFrame(
                            [
                                (s, c, [int(x) for x in vec])
                                for s, book in enumerate(cbs)
                                for c, vec in enumerate(book)
                            ],
                            "subspace long, cluster_id long,"
                            " c array<long>",
                        ),
                        paths[1],
                    )
                codes_df = spark.read.parquet(paths[0]).select(
                    "vec_id", "codes", "qerr"
                )
                rows = spark.read.parquet(paths[1]).collect()
                books: dict = {}
                for r in rows:
                    books.setdefault(r["subspace"], {})[
                        r["cluster_id"]
                    ] = list(r["c"])
                cbs = [
                    [books[s][c] for c in sorted(books[s])]
                    for s in sorted(books)
                ]
                return codes_df, cbs
        except Exception:
            pass
    return _pq_train_encode_inline(emb, m, ksub, n_iter, n=n_known)


def _pq_train_encode_driver(
    emb: DataFrame, m: int, ksub: int, n_iter: int
) -> tuple[DataFrame, list]:
    """Driver-numpy PQ tier — :func:`_kmeans_train_driver`'s twin for
    the per-subspace codebooks: one collect, the identical int64
    subspace Lloyd updates, and the encode pass in-process. Codes,
    codebooks and qerr are bit-identical to the distributed loop
    (exact integer partial sums, same tie rules)."""
    import numpy as np
    import pandas as pd

    ids, iv, nearest = _collect_fixed(emb)
    seeds = iv[ids < ksub]
    dim = iv.shape[1]
    dsub = dim // m
    cent = np.stack(
        [seeds[:, s * dsub : (s + 1) * dsub].copy() for s in range(m)]
    )
    for _ in range(n_iter):
        new_cent = cent.copy()
        for s in range(m):
            sub = iv[:, s * dsub : (s + 1) * dsub]
            a, _ = nearest(sub, cent[s])
            for cid in np.unique(a):
                sel = sub[a == cid]
                q = sel.sum(axis=0).astype(np.float64) / sel.shape[0]
                new_cent[s, cid] = np.where(
                    q >= 0, np.floor(q + 0.5), np.ceil(q - 0.5)
                ).astype(np.int64)
        cent = new_cent
    codes = np.empty((len(ids), m), dtype=np.int64)
    qerr = np.zeros(len(ids), dtype=np.int64)
    for s in range(m):
        sub = iv[:, s * dsub : (s + 1) * dsub]
        a, d2 = nearest(sub, cent[s])
        codes[:, s] = a
        qerr += d2.astype(np.int64)
    codes_df = emb.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": ids,
                "codes": [c.tolist() for c in codes],
                "qerr": qerr,
            }
        ),
        schema=_PQ_CODE_SCHEMA,
    )
    return codes_df, cent.tolist()


def _pq_train_encode_inline(
    emb: DataFrame, m: int, ksub: int, n_iter: int, n: int | None = None
) -> tuple[DataFrame, list]:
    """The inline (retrain) PQ plan — see :func:`pq_train_encode`."""
    import numpy as np
    import pandas as pd

    if n is None:
        from .memo import memoized_count

        n = memoized_count(emb)
    if 0 < n <= _DRIVER_TIER_MAX:
        return _pq_train_encode_driver(emb, m, ksub, n_iter)

    to_fixed, nearest = _make_helpers(SCALE)
    seed_rows = sorted(
        emb.filter(F.col("vec_id") < ksub)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    seeds = to_fixed(pd.Series([r["embedding"] for r in seed_rows]))
    dim = seeds.shape[1]
    dsub = dim // m
    # codebook tensor: cent[s] = (ksub, dsub)
    cent = np.stack(
        [seeds[:, s * dsub : (s + 1) * dsub].copy() for s in range(m)]
    )
    vecs = emb.select("vec_id", "embedding")

    for _ in range(n_iter):

        def partials(batches, c=cent, tf=to_fixed, nn=nearest,
                     m=m, dsub=dsub):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                iv = tf(pdf["embedding"])
                rows = {"subspace": [], "cluster_id": [], "n": [], "s": []}
                for s in range(m):
                    sub = iv[:, s * dsub : (s + 1) * dsub]
                    a, _ = nn(sub, c[s])
                    for cid in np.unique(a):
                        sel = sub[a == cid]
                        rows["subspace"].append(s)
                        rows["cluster_id"].append(int(cid))
                        rows["n"].append(int(sel.shape[0]))
                        rows["s"].append(sel.sum(axis=0).tolist())
                yield pd.DataFrame(rows)

        part = (
            vecs.mapInPandas(partials, schema=_PQ_PARTIAL_SCHEMA)
            .groupBy("subspace", "cluster_id")
            .agg(
                F.sum("n").alias("n"),
                F.array(
                    *[
                        F.sum(F.try_element_at("s", F.lit(i + 1)))
                        for i in range(dsub)
                    ]
                ).alias("s"),
            )
            .collect()
        )
        new_cent = cent.copy()
        for r in part:
            s_arr = np.asarray(r["s"], dtype=np.int64)
            q = s_arr.astype(np.float64) / r["n"]
            new_cent[r["subspace"], r["cluster_id"]] = np.where(
                q >= 0, np.floor(q + 0.5), np.ceil(q - 0.5)
            ).astype(np.int64)
        cent = new_cent

    def encode(batches, c=cent, tf=to_fixed, nn=nearest, m=m, dsub=dsub):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            iv = tf(pdf["embedding"])
            codes = np.empty((len(pdf), m), dtype=np.int64)
            qerr = np.zeros(len(pdf), dtype=np.int64)
            for s in range(m):
                sub = iv[:, s * dsub : (s + 1) * dsub]
                a, d2 = nn(sub, c[s])
                codes[:, s] = a
                qerr += d2.astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].values,
                    "codes": list(codes),
                    "qerr": qerr,
                }
            )

    codes_df = vecs.mapInPandas(encode, schema=_PQ_CODE_SCHEMA)
    return codes_df, cent.tolist()


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
    import numpy as np
    import pandas as pd

    codes_df, codebooks = pq_train_encode(emb, m, ksub, n_iter)
    cent = np.asarray(codebooks, dtype=np.int64)  # (m, ksub, dsub)
    dsub = cent.shape[2]
    to_fixed, _ = _make_helpers(SCALE)
    q_rows = sorted(
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    qiv = to_fixed(pd.Series([r["embedding"] for r in q_rows]))
    qids = np.asarray([r["vec_id"] for r in q_rows], dtype=np.int64)
    # tables[qi, s, j] = ||q_s - c_sj||^2
    tables = np.empty((len(qids), cent.shape[0], ksub), dtype=np.int64)
    for qi in range(len(qids)):
        for s in range(cent.shape[0]):
            diff = qiv[qi, s * dsub : (s + 1) * dsub][None, :] - cent[s]
            tables[qi, s] = (diff * diff).sum(axis=1)

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

    scored = codes_df.mapInPandas(score, schema=schema).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "adc_d2",
                F.col("rn").cast("long").alias("rank"))
    )


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
    import pandas as pd

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
    cent = np.asarray(codebooks, dtype=np.int64)  # (m, ksub, dsub)
    dsub = cent.shape[2]
    to_fixed, _ = _make_helpers(SCALE)
    q_rows = sorted(
        emb.filter(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    qiv = to_fixed(pd.Series([r["embedding"] for r in q_rows]))
    qids = np.asarray([r["vec_id"] for r in q_rows], dtype=np.int64)

    # probe sets: the nprobe coarse lists nearest each query, ties to
    # the lower centroid id (lexsort is stable on the secondary key)
    probes = {}
    for qi in range(len(qids)):
        d2 = ((qiv[qi][None, :] - cc) ** 2).sum(axis=1)
        order = np.lexsort((np.arange(len(d2)), d2))
        probes[int(qids[qi])] = set(order[:nprobe].tolist())

    tables = np.empty((len(qids), m, ksub), dtype=np.int64)
    for qi in range(len(qids)):
        for s in range(m):
            diff = qiv[qi, s * dsub : (s + 1) * dsub][None, :] - cent[s]
            tables[qi, s] = (diff * diff).sum(axis=1)

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

    scored = db.mapInPandas(score, schema=schema).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "list_id",
            "adc_d2",
            F.col("rn").cast("long").alias("rank"),
        )
    )


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
    import pandas as pd

    assignments, coarse_cent, _ = kmeans_train(emb, coarse_k, coarse_iters)
    cc = np.asarray(coarse_cent, dtype=np.int64)
    joined = emb.select("vec_id", "embedding").join(
        assignments.select("vec_id", "cluster_id"), "vec_id"
    )

    from pyspark.sql.types import DoubleType

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
    from pyspark.storagelevel import StorageLevel

    res_df = joined.mapInPandas(residuals, schema=res_schema).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return pq_train_encode(res_df, m, ksub, n_iter)
