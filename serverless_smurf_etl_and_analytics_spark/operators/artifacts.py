"""Shared machinery for on-disk corpus artifacts — the across-session
materializations of a pipeline's most expensive pure stages (LSH band
bits, winnow fingerprint tables). Artifacts are parquet directories
whose DIRNAME carries the cache key (a corpus content fingerprint plus
the stage config), so lookups are exact-match and a changed corpus
simply misses: no invalidation protocol, no way to silently reuse
stale rows. Writes are atomic (tmp dir + os.rename) so a concurrent
or crashed builder can never expose a partial artifact.

Key versioning: every stage embeds a version token in its key format
(``sh_v1_``, ``mh_v1_``, ``simh_v1_``, ``wn_v1_``, ``band_v1_``,
``pq_v2_``: the Lloyd model, k-means included, whose bump retired
the separate k-means and v1 PQ keys). The corpus fingerprint catches data changes
but not CODE changes — if a stage's output definition ever changes
(a shingle bugfix, a trainer tweak), bump its token so old artifacts
miss instead of being silently read by new code.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame


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
    import shutil
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


def advance_artifact(
    root: str | None,
    old_dirname: str,
    new_dirname: str,
    append_fn,
) -> str | None:
    """Advance a fingerprint-keyed artifact to cover a GROWN corpus in
    O(delta): hard-link the existing artifact's data files under the
    NEW corpus key (O(#files), zero bytes copied), let ``append_fn``
    write only the new shard's rows into it, then atomically publish —
    so the next session's find-or-build HITS the new key instead of
    rebuilding the whole corpus. This is the missing link between the
    pipeline-managed ``append_*`` path (fixed dir, O(delta) writes,
    but invisible to fingerprint lookups) and the fingerprint-keyed
    auto-cache (exact-match lookups, but a grown corpus misses).

    The OLD artifact dir is never touched (immutability contract: a
    session still working against the old corpus keeps reading exact
    rows); underscore/dot bookkeeping files (_SUCCESS) are not linked
    — Spark readers ignore them, and sharing their inode with a
    subsequent append's rewrite would mutate the old dir.

    Returns the new path; None when the old key is absent or the
    filesystem refuses (caller falls back to a full build). A lost
    publish race resolves like atomic_write_parquet: whoever renamed
    first wins, content is identical by determinism."""
    base = cache_root(root)
    old_path = os.path.join(base, old_dirname)
    new_path = os.path.join(base, new_dirname)
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
        append_fn(tmp)
        os.rename(tmp, new_path)
        touch(new_path)
        touch(old_path)
        return new_path
    except Exception:
        # Not just OSError: append_fn is a Spark parquet write whose
        # failures surface as Py4JJavaError/AnalysisException. Every
        # failure mode must honor the documented contract — return
        # None so the caller falls back to a full build — and must
        # not leave a half-built tmp dir of hard-linked files for
        # vacuum to age out.
        return None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
