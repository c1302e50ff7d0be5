"""Find-or-build for on-disk corpus artifacts — the across-session
materializations of a pipeline's most expensive pure stages (shingles,
MinHash/SimHash signatures, winnow fingerprints, LSH band bits, the
daily fact partials, the Lloyd model). Artifacts are parquet
directories whose DIRNAME carries the cache key (a corpus content
fingerprint plus the stage config), so lookups are exact-match and a
changed corpus simply misses: no invalidation protocol, no way to
silently reuse stale rows. Writes are atomic (tmp dir + os.rename) so a
concurrent or crashed builder can never expose a partial artifact.

This module is the only place that knows how an artifact is gated,
fingerprinted, built, read back, falls back and is advanced
(:class:`Kind`). Each kind is described once, beside its builder:
``dedup.SHINGLE``, ``dedup.MINHASH``, ``dedup.SIMHASH``,
``textops.WINNOW``, ``similarity.BAND``, ``history.STORE_DAILY``,
``metrics.PRODUCT_DAILY``, ``joins.CO_DAILY`` and ``clustering.MODEL``;
:data:`KINDS` lists them by version token.

Key versioning: every kind embeds a version token in its key template.
The corpus fingerprint catches data changes but not CODE changes — if
a stage's output definition ever changes (a shingle bugfix, a trainer
tweak), bump its token so old artifacts miss instead of being silently
read by new code.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame

from . import memo


def cache_root(root: str | None = None) -> str:
    """Resolve the artifact cache root: explicit arg, else the
    ``SMURF_ARTIFACT_CACHE`` env var, else a stable per-USER tempdir
    path that survives across sessions on one machine. The default is
    uid-suffixed and created 0o700: the system tempdir is shared and
    world-writable, so an unscoped fixed path would let another local
    user pre-create the dir (breaking writes) or plant parquet under
    a predictable key that queries would silently trust."""
    if root or os.environ.get("SMURF_ARTIFACT_CACHE"):
        return root or os.environ["SMURF_ARTIFACT_CACHE"]
    uid = os.getuid() if hasattr(os, "getuid") else "u"
    path = os.path.join(
        tempfile.gettempdir(), f"smurf_artifact_cache_{uid}"
    )
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
    except OSError:
        pass
    return path


def vacuum_cache(
    root: str | None = None,
    max_age_days: float = 14.0,
    max_total_bytes: int | None = None,
    min_age_seconds: float = 3600.0,
) -> list[str]:
    """Garbage-collect the artifact cache: remove entries whose LAST
    USE (dir mtime — refreshed by :func:`touch` on every cache hit) is
    older than ``max_age_days``, then — oldest-first — entries beyond
    ``max_total_bytes``, EXCEPT entries used within the last
    ``min_age_seconds`` (grace window, default 1h). Stale ``.tmp-*``
    build leftovers (a crashed builder) older than one hour go
    unconditionally. Returns the removed paths.

    Concurrency caveat: :func:`touch` refreshes mtime at PLAN time,
    but a live DataFrame can execute much later — a vacuum racing an
    active session can delete a parquet dir that session still lazily
    references, surfacing as FileNotFoundException at action time
    (the find-or-build fallback only guards plan-time reads). The
    grace window makes that unlikely for the size-cap pass; for hard
    safety run vacuum only when no session is mid-query, and keep
    ``min_age_seconds`` above your longest plan-to-action gap."""
    import time

    root = cache_root(root)
    if not os.path.isdir(root):
        return []
    now = time.time()
    removed: list[str] = []
    entries = []
    for name in os.listdir(root):
        p = os.path.join(root, name)
        try:
            mtime = os.path.getmtime(p)
            if ".tmp-" in name:
                if now - mtime > 3600:
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(p)
                continue
            if now - mtime > max_age_days * 86400:
                shutil.rmtree(p, ignore_errors=True)
                removed.append(p)
                continue
            size = sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(p)
                for f in fs
            )
            entries.append((mtime, size, p))
        except OSError:
            continue
    if max_total_bytes is not None:
        total = sum(s for _, s, _ in entries)
        for mtime, size, p in sorted(entries):  # oldest first
            if total <= max_total_bytes:
                break
            if now - mtime < min_age_seconds:
                # grace window: recently-used entries survive the
                # size cap even when the cache is over budget — a
                # racing session's lazy plan likely references them
                continue
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
            total -= size
    return removed


def touch(path: str) -> None:
    """Refresh an artifact dir's mtime — called on cache hits so
    :func:`vacuum_cache`'s age policy tracks last USE, not build
    time."""
    try:
        os.utime(path, None)
    except OSError:
        pass


def atomic_write_parquet(df: DataFrame, path: str) -> str:
    """Write ``df`` as a parquet dir at ``path`` atomically; a
    pre-existing artifact wins (first build or a lost race — both
    valid, the key guarantees equal content) and gets its mtime
    refreshed so the vacuum age policy tracks last use."""
    if os.path.exists(path):
        touch(path)
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def advance(
    root: str | None,
    key_template: str,
    old_fp: tuple[int, int],
    new_fp: tuple[int, int],
    write_shard: Callable[[str], None],
) -> str | None:
    """Advance a fingerprint-keyed artifact to cover a GROWN corpus in
    O(delta): hard-link the artifact at ``key_template`` formatted with
    ``old_fp`` under the ``new_fp`` key (O(#files), zero bytes copied),
    let ``write_shard`` append only the new shard's rows into it, then
    atomically publish — so the next session's find-or-build HITS the
    new key instead of rebuilding the whole corpus.

    The OLD artifact dir is never touched (immutability contract: a
    session still working against the old corpus keeps reading exact
    rows); underscore/dot bookkeeping files (_SUCCESS) are not linked
    — Spark readers ignore them, and sharing their inode with a
    subsequent append's rewrite would mutate the old dir.

    Returns the new path; None when the old key is absent or the
    write fails (caller falls back to a full build), leaving no
    half-built tmp dir behind. ``AssertionError`` propagates, as in
    :meth:`Kind.lookup`. A lost publish race resolves like
    atomic_write_parquet: whoever renamed first wins, content is
    identical by determinism."""
    base = cache_root(root)
    old_path, new_path = (
        os.path.join(base, key_template.format(n=fp[0], h=fp[1]))
        for fp in (old_fp, new_fp)
    )
    if os.path.exists(new_path):
        touch(new_path)
        return new_path
    if not os.path.isdir(old_path):
        return None
    tmp = f"{new_path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        os.makedirs(tmp)
        for f in os.listdir(old_path):
            if f.startswith(("_", ".")):
                continue
            os.link(os.path.join(old_path, f), os.path.join(tmp, f))
        write_shard(tmp)
        os.rename(tmp, new_path)
        touch(new_path)
        touch(old_path)
        return new_path
    except AssertionError:
        raise
    except Exception:
        # not just OSError: write_shard is a Spark parquet write whose
        # failures surface as Py4JJavaError/AnalysisException
        return None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# fingerprint columns per corpus kind (order matters: xxhash64 is
# positional) — the same lists ``tablelog`` hashes into its commit
# manifests, so a maintained corpus's ledger pair is a drop-in for the
# scan pair
DOC_COLS = ["doc_id", "text"]
EMB_COLS = ["vec_id", "embedding"]
TXN_COLS = ["transaction_id", "item_sku", "sale_date"]


def corpus_fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(n_rows, order-insensitive content hash) of a corpus over
    ``cols`` — the cache key of every artifact kind. One aggregate
    scan: count + sum(xxhash64(cols)), so ANY added, removed or
    mutated row changes the key. The hash sum rides in decimal(38,0)
    (a long sum of uniform 64-bit hashes overflows ANSI mode) and
    folds to 64 bits. Memoized per (application, plan, cols)."""
    from pyspark.sql import functions as F

    def scan():
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
        ).first()
        return int(row["n"]), int(row["h"] or 0) % (1 << 64)

    return memo.plan_scalar(df, "fp:" + ",".join(cols), scan)


# version token -> kind; tests open every "auto" floor from here
KINDS: dict[str, Kind] = {}


class Kind:
    """One fingerprint-keyed artifact family: its dirname ``key``
    template (``{n}``/``{h}`` for the fingerprint plus the config
    fields), the row ``floor`` at which ``cache="auto"`` engages, the
    fingerprint ``cols``, the ``shard`` builder (``(df, **cfg)`` -> the
    rows ``df`` contributes: the inline plan, and what an advance
    appends), an optional full ``build`` (``(df, root, fp, **cfg)``,
    default ``shard``) and the ``read`` that turns the parquet read
    back into the stage's shape (``(frame, **cfg)``, default as-is).

    Kinds whose artifact is not one parquet dir (the band's width
    search, the model's three dirs) override :meth:`fetch`."""

    def __init__(self, key, floor, cols, shard, read=None, build=None):
        self.key, self.floor, self.cols = key, floor, cols
        self.shard = shard
        self.read = read or (lambda frame, **cfg: frame)
        self.build = build or (lambda df, root, fp, **cfg: shard(df, **cfg))
        KINDS[key.split("_n{n}")[0]] = self

    def dirname(self, fp: tuple[int, int], **cfg) -> str:
        return self.key.format(n=fp[0], h=fp[1], **cfg)

    def lookup(
        self,
        df: DataFrame,
        cache: str | None,
        fingerprint: tuple[int, int] | None = None,
        **cfg,
    ):
        """The gated find-or-build: the artifact-backed frame, or None
        when the caller should run its inline plan.

        ``cache``: None disables; "auto" engages at ``floor``+ rows in
        the default root (:func:`cache_root`); any other string is the
        root and bypasses the floor (caller intent: the laws push tiny
        corpora through the artifact path on purpose). ``fingerprint``:
        a precomputed ``(n_rows, content_hash)`` pair — normally the
        ledger pair of a maintained corpus — answers both the gate
        count and the key, so a HIT runs zero corpus scans; otherwise
        both are memoized scans (``memo.memoized_count``,
        :func:`corpus_fingerprint`).

        The artifact is an optimization: an unwritable root, a full
        disk or a failed read-back returns None. ``AssertionError``
        propagates — the test suite's scan/build bans raise it, and a
        banned lookup must fail, never degrade to the inline plan."""
        if cache is None:
            return None
        if cache == "auto" and (
            fingerprint[0] if fingerprint else memo.memoized_count(df)
        ) < self.floor:
            return None
        try:
            return self.fetch(
                df,
                cache_root(None if cache == "auto" else cache),
                fingerprint or corpus_fingerprint(df, self.cols),
                **cfg,
            )
        except AssertionError:
            raise
        except Exception:
            return None

    def fetch(self, df: DataFrame, root: str, fp: tuple[int, int], **cfg):
        """Ungated find-or-build under a resolved root: write the
        artifact when missing, then read it back."""
        path = self.materialize(df, root, fp, **cfg)
        return self.read(df.sparkSession.read.parquet(path), **cfg)

    def materialize(
        self,
        df: DataFrame,
        root: str | None = None,
        fingerprint: tuple[int, int] | None = None,
        **cfg,
    ) -> str:
        """Build the artifact for ``df`` unless present; its path."""
        fp = fingerprint or corpus_fingerprint(df, self.cols)
        root = cache_root(root)
        return atomic_write_parquet(
            self.build(df, root, fp, **cfg),
            os.path.join(root, self.dirname(fp, **cfg)),
        )

    def append(self, new_df: DataFrame, path: str, **cfg) -> None:
        """Merge a NEW shard into the artifact at ``path``: every kind
        but the model is shard-mergeable by union (readers
        re-aggregate where a key can repeat)."""
        self.shard(new_df, **cfg).write.mode("append").parquet(path)

    def advance(
        self,
        new_df: DataFrame,
        old_fp: tuple[int, int],
        new_fp: tuple[int, int],
        root: str | None = None,
        **cfg,
    ) -> str | None:
        """O(shard) key advance from the corpus at ``old_fp`` to the
        grown corpus at ``new_fp`` (both free from the ledger around a
        commit) — see :func:`advance`."""
        return advance(
            root,
            self.key.format(n="{n}", h="{h}", **cfg),
            old_fp,
            new_fp,
            lambda path: self.append(new_df, path, **cfg),
        )
