"""Ledger-maintained corpora: the glue between the versioned-table
layer (``sources/tablelog.py``), the fingerprint-keyed artifact cache
(``operators/artifacts.py``), and the artifact-gated operators — so a
pipeline-managed corpus NEVER pays a fact scan to answer a cache key
and NEVER pays a first-contact artifact build at query time.

Two halves, mirroring the reference's ingest-then-query split (the
reference ingests via ``process-upload`` and queries the persisted
summaries, never re-deriving them —
``backend/functions/process-upload/lambda_function.py``,
``get-analytics/lambda_function.py``):

- **Ingest**: :func:`ingest_documents` / :func:`ingest_embeddings` /
  :func:`ingest_transactions` commit a shard into a tablelog table
  (recording the cumulative content fingerprint in the commit
  manifest) and ADVANCE every registered artifact family for that
  corpus kind in O(shard) — hard-link the old artifact's files under
  the new ledger key, append only the shard's derived rows
  (``artifacts.Kind.advance``). First ingest (or a family with no prior
  artifact) builds over the current corpus, which for the first
  shard IS the shard — so a maintained corpus never has a separate
  "first contact" query-time build at all.
- **Query**: :func:`copurchase_range_topk`, :func:`minhash_neardup`,
  :func:`cosine_neardup`, :func:`winnow_overlap_pairs` read ONE
  pinned snapshot (``tablelog.read_snapshot``: rows + fingerprint
  from the same head — the unpinned two-call form can pair version
  N's cache key with version N+1's rows) and feed the ledger pair
  into the operator's ``fingerprint=`` slot. The cache key is then
  answered from O(1) manifest reads; the only Spark jobs in a cold
  query are the artifact read + the query's own aggregation. The
  zero-scan law is enforced by monkeypatch-banning the scan
  aggregates in ``tests/test_corpus_maintained.py``.

Why this matters at 100 TB: the r9 rehearsal measured the registered
co2 cold hit at 13.0 s of which ~10 s was the scan-derived cache key
(gate count + 3-column xxhash64 over 60M fact rows) and ~35 s of
sim2's first contact was the band build the warm pipeline already
had. Both costs scale with the CORPUS; everything this module leaves
behind scales with the SHARD (advance) or the MANIFEST (key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import (
    artifacts,
    dedup,
    export,
    history,
    insights,
    joins,
    metrics,
    similarity,
    textops,
)
from .operators.artifacts import cache_root
from .sources import tablelog

# columns the wide store-day daily family aggregates; the
# product-store-day family additionally needs item_sku
_DAILY_COLS = {
    "store_id", "sale_date", "line_cents", "discount_cents", "quantity"
}

# artifact families maintained per corpus kind: family name -> (kind,
# the config the REGISTERED queries use, columns the corpus must have).
# d2-d4/d8/d11: bigram shingles + 8x4 MinHash; d5/d6: 128-bit SimHash;
# wn1/wn2: k=4 w=4 winnow; sim1-sim4: adaptive band width (carried by
# the band kind itself); co1/co2: daily co-pair partials; x1-x5: the
# store-day and product-store-day partials. A family's advance and its
# query-side cache key must agree on config or the key misses.
SIMHASH_BITS = 128
_DOC_FAMILIES = {
    "shingle": (dedup.SHINGLE, {"g": 2}, set()),
    "minhash": (dedup.MINHASH, {"k": dedup.N_MINHASH}, set()),
    "simhash": (dedup.SIMHASH, {"bits": SIMHASH_BITS}, set()),
    "winnow": (textops.WINNOW, {"k": 4, "w": 4}, set()),
}
DOC_FAMILIES = tuple(_DOC_FAMILIES)
_EMB_FAMILIES = {"band": (similarity.BAND, {}, set())}
_TXN_FAMILIES = {
    "co_pair_daily": (joins.CO_DAILY, {}, set()),
    "store_daily": (history.STORE_DAILY, {}, _DAILY_COLS),
    "product_daily": (
        metrics.PRODUCT_DAILY, {}, _DAILY_COLS | {"item_sku"}
    ),
}


def _commit_pinned(
    spark: SparkSession,
    table_dir: str,
    shard: DataFrame,
    cols: list[str],
) -> tuple[
    tuple[int, int] | None,
    int,
    tuple[int, int] | None,
    DataFrame,
    DataFrame,
]:
    """Append ``shard`` with the commit PINNED to the head whose
    fingerprint we read (``expect_head``), retrying the whole
    read-then-commit on a conflict. Without the pin, a concurrent
    ingest landing between the old-fingerprint read and the commit
    would make our advance publish an artifact that is missing the
    concurrent shard's rows under the grown corpus's (valid!) key —
    stale rows a later session would silently trust. With it, the
    (old_fp -> new_fp) advance provably covers exactly the rows the
    ledger says; a conflicting ingest just re-reads and chains after
    the winner (whose artifact, if not yet advanced, makes our
    advance miss and fall back to a full build — slower, never
    stale).

    Returns (old_fp, version, new_fp, committed_shard, rows@version).
    ``committed_shard`` is the shard read BACK from the commit's own
    staged files (:func:`tablelog.read_commit_shard`), never the
    caller's plan: the ledger fingerprint was computed from those
    bytes, and re-evaluating a NONDETERMINISTIC shard plan (rand()
    sampling, unstable limit, a source mutated between evaluations)
    after the commit would let the advance publish derived rows that
    differ from the committed content under a valid key — the other
    stale-artifact-under-valid-key hole (ADVICE r10). Every advance
    below consumes ``committed_shard``, making shard determinism a
    non-requirement."""
    while True:
        head = tablelog.latest_version(table_dir)
        old_fp = (
            tablelog.ledger_fingerprint(table_dir, cols, version=head)
            if head is not None
            else None
        )
        try:
            version = tablelog.commit_version(
                spark, table_dir, shard, mode="append",
                fingerprint_cols=cols, expect_head=head,
            )
        except tablelog.CommitConflict:
            continue
        return (
            old_fp,
            version,
            tablelog.ledger_fingerprint(table_dir, cols, version=version),
            tablelog.read_commit_shard(spark, table_dir, version),
            tablelog.read_version(spark, table_dir, version),
        )


def _maintain(
    families: dict,
    committed: DataFrame,
    current: DataFrame,
    old_fp: tuple[int, int] | None,
    new_fp: tuple[int, int] | None,
    root: str,
) -> dict:
    """Advance-or-build each family and record how: ``advanced``
    (O(shard) hard-link + append), ``built`` (no prior artifact — a
    full build over the current corpus, which on first ingest is the
    shard), ``build-failed`` when the lookup fell back (ADVICE r12:
    the ingest stats must not claim an artifact that was never
    published), or ``skipped`` when the corpus lacks the family's
    columns. ``{family}_sec`` records the per-family maintenance wall
    — the number the scale rehearsals track per rung.

    Column gates inspect the CURRENT corpus head, not just the shard
    (ADVICE r12): a full-column shard appended to a keys-only corpus
    must not trigger a build over rows missing the metric columns."""
    import time

    stats: dict = {}
    cols = set(committed.columns) & set(current.columns)
    for family, (kind, cfg, needs) in families.items():
        if not needs <= cols:
            stats[family] = f"skipped (corpus lacks {sorted(needs - cols)})"
            continue
        t0 = time.monotonic()
        if old_fp and kind.advance(committed, old_fp, new_fp, root, **cfg):
            stats[family] = "advanced"
        elif kind.lookup(current, root, new_fp, **cfg) is not None:
            stats[family] = "built"
        else:
            stats[family] = "build-failed"
        stats[f"{family}_sec"] = round(time.monotonic() - t0, 2)
    return stats


def _ingest(
    spark: SparkSession,
    table_dir: str,
    shard: DataFrame,
    cols: list[str],
    families: dict,
    cache: str | None,
) -> dict:
    """Commit ``shard`` (:func:`_commit_pinned`) and maintain
    ``families`` for the grown corpus."""
    old_fp, version, new_fp, committed, current = _commit_pinned(
        spark, table_dir, shard, cols
    )
    return {
        "version": version,
        "fingerprint": new_fp,
        **_maintain(
            families, committed, current, old_fp, new_fp, cache_root(cache)
        ),
    }


def ingest_documents(
    spark: SparkSession,
    table_dir: str,
    shard: DataFrame,
    cache: str | None = None,
    families: tuple[str, ...] = DOC_FAMILIES,
) -> dict:
    """Commit a document shard (``doc_id``, ``text``, + any metadata
    columns) into the tablelog table at ``table_dir`` and maintain the
    text-pipeline artifact caches for the grown corpus. Returns
    ``{"version", "fingerprint", per-family "advanced"/"built"}``.

    ``cache``: artifact cache root (default: the shared per-user root,
    ``artifacts.cache_root``). Maintenance is explicit pipeline opt-in
    — it always materializes, regardless of the query-side "auto"
    size gates (a query below the gate simply plans inline and never
    looks the artifact up; the artifact waits until the corpus
    crosses it).

    The shard arrives as its OWN DataFrame — the O(shard) advance
    contract. Deriving the shard by diffing the grown fact table would
    erase the win (measured r9: 2.1 s shard-append vs 8.9 s rebuild at
    sf1, but only when the shard never touches the full corpus). The
    advances below consume the shard read BACK from the commit's
    staged files (still O(shard)), so a nondeterministic shard plan
    cannot desynchronize artifacts from the ledger (see
    :func:`_commit_pinned`).

    Fused tokenize — prototyped and MEASURED SLOWER, not shipped
    (r11, VERDICT r10 task 8): the four family builders all walk the
    documents through the same ``token_rows`` subtree, so persisting
    that subtree (plus the bigram shingle subtree) once per ingest
    lets Spark's cache manager substitute it into every family's
    logically-equal plan — one tokenize pass instead of four. A/B at
    sf10 docs (same box, fresh process per arm,
    benchmarks/scale_r11_summary.json ``doc_ingest_fuse_ab``): fused
    build 198.4 s vs unfused 35.8 s, fused advance 48.5 s vs 23.3 s —
    2-5.5x WORSE. Tokenize is whole-stage-codegen cheap (a regexp
    split + explode over the shard's text), while materializing the
    ~100-token-per-doc exploded table through MEMORY_AND_DISK costs
    a cache write + three cache reads of a table ~50x the shard's
    bytes. Recomputing the narrow subtree per family is the faster
    plan at every measured scale, so each family keeps its own walk
    (~4 codegen scans of the shard per ingest — linear in the shard,
    the O(shard) contract this module exists for)."""
    return _ingest(
        spark, table_dir, shard, artifacts.DOC_COLS,
        {f: _DOC_FAMILIES[f] for f in families}, cache,
    )


def ingest_embeddings(
    spark: SparkSession,
    table_dir: str,
    shard: DataFrame,
    cache: str | None = None,
) -> dict:
    """Commit an embedding shard (``vec_id``, ``embedding``, + any
    metadata) and maintain the LSH band artifact — the stage the r7
    rehearsal measured at ~34 s of sim2's 62.5 s sf10 cold. Advance
    carries the widest stored plane width forward (prefix-stable
    planes), so every config the old artifact served, the new one
    serves too."""
    return _ingest(
        spark, table_dir, shard, artifacts.EMB_COLS, _EMB_FAMILIES, cache
    )


def ingest_transactions(
    spark: SparkSession,
    table_dir: str,
    shard: DataFrame,
    cache: str | None = None,
) -> dict:
    """Commit a transaction-line shard and maintain the fact-side
    artifact families: the co-purchase daily partial (co1/co2's
    materialized layer) and the store-day daily aggregate (the MV the
    whole insight/export chain consumes — x3/x4/i1/i2/a7-a13; r12,
    VERDICT r11 task 8). Basket caveat (``joins.co_pair_daily``): the
    shard must consist of COMPLETE new baskets — a late line appended
    to an old order changes that order's basket, so such corrections
    must instead restate under a fresh key (full rebuild). The daily
    family has NO such caveat (sum/count are decomposable), and is
    skipped when the shard lacks the store/cents columns (a
    keys-only corpus still maintains co)."""
    return _ingest(
        spark, table_dir, shard, artifacts.TXN_COLS, _TXN_FAMILIES, cache
    )


def snapshot_documents(
    spark: SparkSession, table_dir: str
) -> tuple[DataFrame, tuple[int, int] | None, int]:
    """(rows, ledger fingerprint, version) for one pinned head of a
    maintained document corpus."""
    return tablelog.read_snapshot(spark, table_dir, artifacts.DOC_COLS)


def snapshot_embeddings(
    spark: SparkSession, table_dir: str
) -> tuple[DataFrame, tuple[int, int] | None, int]:
    """(rows, ledger fingerprint, version) for one pinned head of a
    maintained embedding corpus."""
    return tablelog.read_snapshot(spark, table_dir, artifacts.EMB_COLS)


def snapshot_transactions(
    spark: SparkSession, table_dir: str
) -> tuple[DataFrame, tuple[int, int] | None, int]:
    """(rows, ledger fingerprint, version) for one pinned head of a
    maintained transaction corpus."""
    return tablelog.read_snapshot(spark, table_dir, artifacts.TXN_COLS)


def copurchase_range_topk(
    spark: SparkSession,
    table_dir: str,
    start: str,
    end: str,
    k: int = 3,
    cache: str | None = None,
) -> DataFrame:
    """co2 ("customers also bought", orders started in [start, end])
    over a maintained transaction corpus: the ledger pair answers the
    partial-table cache key with zero fact scans, so a cold session's
    only jobs are the artifact read + the range merge."""
    txns, fp, _ = snapshot_transactions(spark, table_dir)
    return joins.co_range_topk(
        txns, start, end, k,
        cache=_query_cache(cache), fingerprint=fp,
    )


def minhash_neardup(
    spark: SparkSession,
    table_dir: str,
    threshold: float = 0.5,
    cache: str | None = None,
) -> DataFrame:
    """d4 (MinHash+LSH near-dup pairs) over a maintained document
    corpus, ledger-fed: signature/shingle artifact keys come from the
    commit log, never a corpus scan. ``cache`` must be the root the
    corpus was ingested into (default: the shared root) — threaded
    through every artifact-gated stage so a custom-root corpus never
    silently misses and rebuilds at query time (ADVICE r10)."""
    docs, fp, _ = snapshot_documents(spark, table_dir)
    return dedup.minhash_neardup_pairs(
        docs, threshold, fingerprint=fp, cache=_query_cache(cache)
    )


def simhash_neardup(
    spark: SparkSession,
    table_dir: str,
    max_hamming: int = 6,
    cache: str | None = None,
) -> DataFrame:
    """d6 (SimHash near-dup pairs, wide tier) over a maintained
    document corpus, ledger-fed. ``cache``: see
    :func:`minhash_neardup`."""
    docs, fp, _ = snapshot_documents(spark, table_dir)
    return dedup.simhash_neardup_pairs(
        docs, max_hamming, SIMHASH_BITS, fp, cache=_query_cache(cache)
    )


def winnow_overlap_pairs(
    spark: SparkSession,
    table_dir: str,
    min_shared: int = 2,
    cache: str | None = None,
) -> DataFrame:
    """wn1 (winnow fingerprint overlap report) over a maintained
    document corpus, ledger-fed. ``cache``: see
    :func:`minhash_neardup`."""
    docs, fp, _ = snapshot_documents(spark, table_dir)
    return textops.winnow_overlap(
        docs, min_shared=min_shared, fingerprint=fp,
        cache=_query_cache(cache),
    )


def cosine_neardup(
    spark: SparkSession,
    table_dir: str,
    threshold: float = 0.3,
    cache: str | None = None,
) -> DataFrame:
    """sim2 (LSH-bucketed cosine near-dup pairs) over a maintained
    embedding corpus: the band-artifact key comes from the ledger, so
    the cold path's pre-read work is zero Spark jobs."""
    emb, fp, _ = snapshot_embeddings(spark, table_dir)
    return similarity.cosine_neardup_pairs(
        emb, threshold,
        band_cache=_query_cache(cache), fingerprint=fp,
    )


def store_daily(
    spark: SparkSession,
    table_dir: str,
    cache: str | None = None,
) -> DataFrame:
    """The store-day daily aggregate of a maintained transaction
    corpus, answered from the ledger-keyed artifact — the MV every
    window/insight/export consumer shares. Falls back to the inline
    aggregation only when the artifact is environmentally unavailable
    (never silently stale: the key is the ledger fingerprint)."""
    return store_daily_metrics(spark, table_dir, cache).select(
        "store_id", "sale_date", "sales_c", "txn_count"
    )


def _maintained(
    kind: artifacts.Kind, spark: SparkSession, table_dir: str, cache
) -> tuple[DataFrame, DataFrame | None]:
    """(one pinned head of a maintained transaction corpus, ``kind``'s
    ledger-keyed artifact for it — None when environmentally
    unavailable, never silently stale)."""
    txns, fp, _ = snapshot_transactions(spark, table_dir)
    return txns, kind.lookup(txns, _query_cache(cache), fp)


def export_anomalies(
    spark: SparkSession,
    table_dir: str,
    min_days: int = 3,
    cache: str | None = None,
) -> DataFrame:
    """x3 (flattened anomaly dataset) over a maintained transaction
    corpus: the window chain consumes the ledger-keyed daily artifact
    instead of re-deriving the aggregation from facts — the measured
    gap is ~2 s vs 42-150 s per consumer at 60M facts
    (``benchmarks/scale_r12_summary.json`` ``x3x4_daily_mv_ab_sf10``;
    VERDICT r11 task 8)."""
    return export._export_anomalies_from(
        insights.classify_anomalies_from_daily(
            store_daily(spark, table_dir, cache), min_days
        )
    )


def export_trends(
    spark: SparkSession,
    table_dir: str,
    cache: str | None = None,
) -> DataFrame:
    """x4 (flattened trend dataset) over a maintained transaction
    corpus — see :func:`export_anomalies`."""
    return export._export_trends_from(
        insights.trend_insights_from_daily(
            store_daily(spark, table_dir, cache)
        )
    )


def store_daily_metrics(
    spark: SparkSession,
    table_dir: str,
    cache: str | None = None,
) -> DataFrame:
    """The WIDE store-day daily aggregate of a maintained transaction
    corpus (all four decomposable sums), answered from the same
    ledger-keyed ``history.STORE_DAILY`` artifact as
    :func:`store_daily`."""
    txns, daily = _maintained(history.STORE_DAILY, spark, table_dir, cache)
    if daily is None:
        return history.STORE_DAILY.shard(txns)
    return daily


def export_store_summaries(
    spark: SparkSession,
    table_dir: str,
    start: str,
    end: str,
    cache: str | None = None,
) -> DataFrame:
    """x1 (flattened store_summaries dataset) over a maintained
    transaction corpus: the serving shape is a per-row function of
    the wide daily sums, so it reads the ``history.STORE_DAILY`` artifact
    instead
    of re-aggregating (range-pruned) facts — r13, completing the MV
    consumption VERDICT r12 task 6 asked for (x3/x4 shipped r12)."""
    daily = store_daily_metrics(spark, table_dir, cache)
    return export._export_store_summaries_from(
        metrics.store_day_dollars(
            daily.filter(F.col("sale_date").between(start, end))
        )
    )


def export_top_products(
    spark: SparkSession,
    table_dir: str,
    start: str,
    end: str,
    k: int = 5,
    cache: str | None = None,
) -> DataFrame:
    """x2 (flattened top-K products dataset) over a maintained
    transaction corpus: ranks are computed per (store, day) group
    over the ledger-keyed ``metrics.PRODUCT_DAILY`` per-SKU partial —
    exact, because the rank input is the same re-aggregated sums the
    inline rollup produces, and the range filter lands on a group
    key."""
    txns, rollup = _maintained(
        metrics.PRODUCT_DAILY, spark, table_dir, cache
    )
    if rollup is None:
        rollup = metrics.product_day_rollup(txns)
    top5 = metrics.top_products_from_rollup(
        rollup.filter(F.col("sale_date").between(start, end)), k
    )
    return export._export_top_products_from(top5)


def export_recommendations(
    spark: SparkSession,
    table_dir: str,
    min_days: int = 3,
    cache: str | None = None,
) -> DataFrame:
    """x5 (flattened recommendations dataset) over a maintained
    transaction corpus — recommendations are a per-row reshape of the
    anomaly set, which derives from the same daily MV as x3."""
    return export._export_recommendations_from(
        insights.recommendations_from(
            insights.classify_anomalies_from_daily(
                store_daily(spark, table_dir, cache), min_days
            )
        )
    )


def _query_cache(cache: str | None) -> str:
    """Query-side cache argument: an explicit root passes through;
    None means the shared default root — resolved EXPLICITLY (not
    "auto") because a maintained corpus's artifacts were materialized
    unconditionally at ingest and the query must look them up at any
    size, not just past the auto gates."""
    return cache_root(cache)
