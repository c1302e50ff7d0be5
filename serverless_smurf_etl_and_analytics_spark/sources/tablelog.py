"""Versioned parquet tables: a minimal commit-log layer (manifest per
version, atomic publish, optimistic concurrency, time travel, and
row-level MERGE) over plain parquet files.

The reference gets row-level upsert and read-after-write consistency
for free from DynamoDB (``write-metrics/lambda_function.py:104``); a
parquet lake has neither — a half-written directory is visible to
readers, a re-run clobbers history, and two writers corrupt each
other. This layer supplies the three guarantees the pipeline's sinks
otherwise lack, with the same mechanics (at toy scale) as the table
formats a production deployment would use:

- **Atomic publish**: data files land under an unreferenced
  ``data/staged-<token>/`` directory first; the version only becomes
  visible when its manifest (the full file listing) is published into
  ``_log/<N>.json`` — written complete to a temp file (fsync'd), then
  ``os.link``ed to the final name. The link is both atomic and
  exclusive, so readers either see the complete manifest or nothing
  (an ``O_CREAT|O_EXCL`` open would make the name visible BEFORE the
  json body lands — a concurrent reader could crash on an empty file,
  and a writer crash between open and write would brick the table).
- **Optimistic concurrency**: the exclusive link IS the commit race —
  exactly one writer can create ``_log/<N>.json``; the loser re-reads
  the head and retries against the new state. Content-dependent
  commits (MERGE) additionally pin the head they reconciled against
  (``expect_head``) so a lost race re-runs the whole reconcile
  instead of committing a stale merge (lost update). No locks.
- **Snapshot isolation / time travel**: a manifest is immutable and
  lists every file composing its version, so ``read_version(n)``
  returns version n byte-for-byte forever, regardless of later
  commits.

Scale notes: manifests list file paths, so a version flip is O(1)
regardless of data size; MERGE rewrites only the union of current +
updates (at 100 TB the same plan narrows to the partitions holding
matched keys — the partition-pruned variant the daily pipeline's
dynamic overwrite already demonstrates); readers never list data
directories (the manifest is the source of truth), so stale temp
files from crashed writers are invisible and garbage-collectable.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG = "_log"
_DATA = "data"


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _LOG)


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"{version:012d}.json")


def latest_version(table_dir: str) -> int | None:
    """Highest committed version, or None for an empty/absent table."""
    d = _log_dir(table_dir)
    if not os.path.isdir(d):
        return None
    versions = [
        int(f.split(".")[0])
        for f in os.listdir(d)
        if f.endswith(".json")
    ]
    return max(versions) if versions else None


def _read_manifest(table_dir: str, version: int) -> dict:
    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


class CommitConflict(Exception):
    """Raised when a commit pinned to ``expect_head`` finds the head
    has moved — the caller must re-run its reconcile against the new
    state, not retry the same content."""


# sentinel: "commit against whatever head is current" (plain appends /
# overwrites, whose content does not depend on the head they land on)
_ANY_HEAD = object()

# touched inside a staged data dir at every publish attempt so vacuum's
# grace window keys off COMMIT activity, not write completion: the
# parquet files' (and the dir's) mtimes freeze when the write finishes,
# so a commit stalled between write and manifest publish for longer
# than the grace would otherwise look abandoned while still in flight.
# Underscore-prefixed, so parquet readers ignore it.
_IN_FLIGHT_MARKER = "_COMMITTING"


def _touch_in_flight(staged: str) -> None:
    with open(os.path.join(staged, _IN_FLIGHT_MARKER), "a"):
        pass
    os.utime(os.path.join(staged, _IN_FLIGHT_MARKER))


def _append_data_dirs(
    table_dir: str, head: int, schema: list, staged: str
) -> list[str]:
    """data_dirs for an append of ``staged`` onto ``head``, refusing
    schema drift: an append with a drifted schema would poison every
    later multi-directory read — refuse it at commit time (an
    intentional schema change commits as overwrite). Applies equally
    to batch commits and stream micro-batch commits — a schema-drifted
    micro-batch is exactly as poisonous as a drifted batch append. A
    head whose manifest predates schema recording (or a restore of
    one) has nothing to validate against — skip, don't crash on
    None."""
    prev = _read_manifest(table_dir, head)
    prev_schema_raw = prev.get("schema")
    if prev_schema_raw is not None:
        prev_schema = [tuple(c) for c in prev_schema_raw]
        if prev_schema != schema:
            raise ValueError(
                f"append schema {schema} != table schema"
                f" {prev_schema}; commit schema changes with"
                " mode='overwrite'"
            )
    return prev["data_dirs"] + [staged]


def _try_publish(table_dir: str, version: int, manifest: dict) -> bool:
    """Atomically publish a COMPLETE manifest as ``_log/<N>.json``;
    False if that version was already claimed (commit race). The body
    is written to a temp file first (flushed + fsync'd), then
    ``os.link``ed to the final name: link is atomic AND exclusive, so
    a reader can never observe a partial manifest, and a crash before
    the link leaves only an invisible ``*.tmp`` (ignored by
    :func:`latest_version`'s ``.json`` filter; :func:`vacuum` lists
    ``_log/*.tmp`` older than its grace window as GC candidates, so
    crash-stranded temp manifests do not accumulate forever)."""
    tmp = os.path.join(
        _log_dir(table_dir),
        f"{version:012d}.{uuid.uuid4().hex[:8]}.tmp",
    )
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _manifest_path(table_dir, version))
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def commit_version(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    mode: str = "append",
    op: str = "write",
    expect_head=_ANY_HEAD,
    fingerprint_cols: list[str] | None = None,
) -> int:
    """Write ``df`` as a new table version and atomically publish it.
    ``mode='append'`` stacks onto the previous version's files;
    ``mode='overwrite'`` replaces the logical content (old files stay
    on disk — prior versions still read them). Returns the committed
    version number; retries the version claim on a commit race.

    ``expect_head``: pass the head version the content was computed
    FROM (None for "table must be empty") and the commit aborts with
    :class:`CommitConflict` if any other writer moved the head — the
    guard that makes read-modify-write ops (MERGE) actually
    optimistic-concurrency safe instead of silently committing a
    stale reconcile over a concurrent commit.

    ``fingerprint_cols``: when set, the manifest carries the table's
    CUMULATIVE content fingerprint over those columns — the same
    ``(count, sum(xxhash64(cols)) mod 2^64)`` pair the artifact cache
    keys on (``artifacts.corpus_fingerprint``). Both components are
    mergeable sums, so an append scans ONLY the staged shard and adds
    onto the previous head's pair; an overwrite resets to the shard's
    own pair. :func:`ledger_fingerprint` then answers the cache-key
    question in O(1) manifest reads with ZERO fact scans — at 100 TB
    the per-session fingerprint scan is otherwise the dominant cost
    of a "cached" cold query (VERDICT r8 task 4). If the previous
    head predates fingerprint recording (or used different columns),
    the cumulative pair is unknowable without a full scan, so the new
    manifest records none and lookups fall back to scanning —
    fingerprints resume at the next overwrite.

    Left at None on a fingerprint-maintained table, the columns are
    INHERITED from the current head's manifest (when the new content
    still carries them all) — one forgetful writer must not silently
    break the ledger chain and degrade every future cold session to
    full corpus scans. Passing an explicit different list still
    switches columns (and, on append, breaks the chain as documented
    above)."""
    token = uuid.uuid4().hex[:12]
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    if fingerprint_cols is None:
        fingerprint_cols = _inherited_fingerprint_cols(
            table_dir, df.columns
        )
    staged = os.path.join(table_dir, _DATA, f"staged-{token}")
    df.write.mode("overwrite").parquet(staged)
    staged_df = spark.read.parquet(staged)
    shard_fp = None
    if fingerprint_cols:
        # one aggregate over the SHARD (not the table): count rides
        # along, so recording the fingerprint adds no extra job. The
        # hash sum runs in decimal(38,0) — a long sum of uniform
        # 64-bit hashes overflows ANSI mode — folded to 2^64; modular
        # addition keeps shard pairs exactly as mergeable as the
        # full-scan pair (law-tested in test_tablelog).
        row = staged_df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(*fingerprint_cols).cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        n_rows = int(row["n"])
        shard_fp = (n_rows, int(row["h"] or 0) % (1 << 64))
    else:
        n_rows = staged_df.count()
    schema = sorted(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )

    while True:
        _touch_in_flight(staged)
        head = latest_version(table_dir)
        if expect_head is not _ANY_HEAD and head != expect_head:
            raise CommitConflict(
                f"head moved: reconciled against {expect_head},"
                f" found {head}"
            )
        version = 0 if head is None else head + 1
        dirs = [staged]
        if mode == "append" and head is not None:
            dirs = _append_data_dirs(table_dir, head, schema, staged)
        manifest = {
            "version": version,
            "op": op,
            "mode": mode,
            "schema": schema,
            "data_dirs": dirs,
            "n_rows_written": n_rows,
        }
        fp = _cumulative_fingerprint(
            table_dir, head, mode, shard_fp, fingerprint_cols
        )
        if fp is not None:
            manifest["fingerprint"] = fp
        if _try_publish(table_dir, version, manifest):
            return version
        # lost the race: re-read head, retry (or conflict next loop)


def _inherited_fingerprint_cols(
    table_dir: str, new_columns: list[str]
) -> list[str] | None:
    """The head manifest's fingerprint columns, when the new content
    still carries them all — the ``fingerprint_cols=None`` default on
    a maintained table inherits rather than silently dropping the
    ledger chain (one writer forgetting the kwarg would otherwise
    degrade every later cold session to full corpus scans, with no
    signal). Returns None for an unfingerprinted head or when the new
    schema lost a fingerprint column (hashing would fail at analysis;
    the chain genuinely ends there).

    Race note: the head is peeked BEFORE the claim loop (the shard
    scan needs the columns up front). If another writer lands between
    the peek and the claim, :func:`_cumulative_fingerprint` re-reads
    the winner's manifest inside the loop — a column mismatch there
    records no fingerprint (safe), never a wrong one."""
    head = latest_version(table_dir)
    if head is None:
        return None
    fp = _read_manifest(table_dir, head).get("fingerprint")
    if not fp:
        return None
    cols = list(fp["cols"])
    return cols if set(cols) <= set(new_columns) else None


def _cumulative_fingerprint(
    table_dir: str,
    head: int | None,
    mode: str,
    shard_fp: tuple[int, int] | None,
    cols: list[str] | None,
) -> dict | None:
    """The manifest ``fingerprint`` entry for a commit of ``shard_fp``
    onto ``head`` — sum-merged for appends (computed INSIDE the claim
    loop so a lost race re-merges against the winner's head), reset
    for overwrites, None when unknowable (prior head unfingerprinted
    or fingerprinted over different columns)."""
    if shard_fp is None:
        return None
    if mode != "append" or head is None:
        return {"cols": list(cols), "n": shard_fp[0], "h": shard_fp[1]}
    prev = _read_manifest(table_dir, head).get("fingerprint")
    if not prev or prev.get("cols") != list(cols):
        return None
    return {
        "cols": list(cols),
        "n": prev["n"] + shard_fp[0],
        "h": (prev["h"] + shard_fp[1]) % (1 << 64),
    }


def ledger_fingerprint(
    table_dir: str, cols: list[str], version: int | None = None
) -> tuple[int, int] | None:
    """The table's content fingerprint ``(n, h)`` over ``cols`` read
    from the commit LEDGER — O(1) manifest reads, zero Spark jobs —
    or None when the requested version doesn't carry one (table
    predates fingerprint recording, or was fingerprinted over
    different columns). Equals the full-scan pair
    (``artifacts.corpus_fingerprint``) exactly, by the modular-sum
    merge law (tested), so it is a drop-in ``fingerprint=`` argument
    for every artifact-gated operator: a maintained-pipeline session gets
    artifact cache HITS without a single corpus scan. Column order
    matters (xxhash64 is positional) — pass the same list the
    commits used.

    PIN THE VERSION when pairing this with :func:`read_version`: two
    unpinned calls each resolve "latest" independently, so a commit
    landing between them pairs version N's fingerprint with version
    N+1's data — an artifact miss would then publish N+1 content
    under N's cache key, silently violating the stale-reuse
    invariant for any later true-N reader. Either resolve
    ``head = latest_version(dir)`` once and pass it to both calls,
    or use :func:`read_snapshot`, which does exactly that."""
    head = latest_version(table_dir) if version is None else version
    if head is None:
        return None
    fp = _read_manifest(table_dir, head).get("fingerprint")
    if not fp or fp.get("cols") != list(cols):
        return None
    return int(fp["n"]), int(fp["h"])


def read_snapshot(
    spark: SparkSession, table_dir: str, cols: list[str]
) -> tuple[DataFrame, tuple[int, int] | None, int]:
    """``(df, fingerprint, version)`` for ONE pinned head — the safe
    way to feed a ledger fingerprint into an artifact-gated operator.
    Resolves ``latest_version`` exactly once and derives both the
    DataFrame and the fingerprint from that version, so a concurrent
    commit between the two lookups can never pair version N's cache
    key with version N+1's rows (the race :func:`ledger_fingerprint`'s
    docstring describes). The fingerprint is None when that version
    doesn't carry one over ``cols`` — callers pass it through as-is
    and the operator falls back to its own scan."""
    head = latest_version(table_dir)
    if head is None:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    return (
        read_version(spark, table_dir, head),
        ledger_fingerprint(table_dir, cols, version=head),
        head,
    )


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """The table at ``version`` (default: latest) — snapshot-isolated:
    the manifest's file listing is immutable, so this result never
    changes as later versions commit."""
    if version is None:
        version = latest_version(table_dir)
    if version is None:
        raise FileNotFoundError(f"no committed versions in {table_dir}")
    dirs = _read_manifest(table_dir, version)["data_dirs"]
    return spark.read.parquet(*dirs)


def read_commit_shard(
    spark: SparkSession, table_dir: str, version: int
) -> DataFrame:
    """The rows WRITTEN by commit ``version`` — read from that
    commit's own staged files (the data_dirs it added over its
    parent), not by re-evaluating the caller's shard plan. This is
    what the corpus ingest layer feeds the artifact ``advance_*``
    functions: the ledger fingerprint was computed from these exact
    bytes, so an advance derived from them can never publish rows
    that differ from the committed content under a valid key — which
    a NONDETERMINISTIC shard plan (rand() sampling, unstable limit, a
    source mutated between evaluations) re-evaluated post-commit
    could (ADVICE r10). For version 0 and overwrite commits the added
    dirs are the whole content, which IS the shard."""
    cur = _read_manifest(table_dir, version)["data_dirs"]
    if version == 0:
        added = cur
    else:
        prev = set(_read_manifest(table_dir, version - 1)["data_dirs"])
        added = [d for d in cur if d not in prev]
    if not added:
        raise ValueError(
            f"version {version} of {table_dir} added no data dirs"
            " (empty or metadata-only commit has no shard to read)"
        )
    return spark.read.parquet(*added)


def history(table_dir: str) -> list[dict]:
    """All committed manifests, oldest first."""
    head = latest_version(table_dir)
    if head is None:
        return []
    return [_read_manifest(table_dir, v) for v in range(head + 1)]


def merge_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    key: str,
    fingerprint_cols: list[str] | None = None,
) -> int:
    """Row-level MERGE: rows of the current version whose ``key``
    matches an update are replaced; unmatched updates are inserted;
    everything else carries over — DynamoDB put_item semantics
    (``write-metrics/lambda_function.py:104``) on parquet. Commits
    the reconciled content as a new overwrite version (prior
    versions remain time-travelable).

    The reconcile is one left-anti join (current minus matched keys)
    plus a unionByName — both distribute; nothing is collected.

    Concurrency: the commit is pinned to the head the reconcile READ
    (``expect_head``) — if a concurrent writer lands a version between
    the read and the claim, :class:`CommitConflict` aborts the stale
    merge and the whole reconcile re-runs against the new head
    (re-read, re-join, re-stage). Without the pin, the loser's retry
    would re-claim the next version number but commit content that
    silently drops the concurrent commit (lost update)."""
    while True:
        head = latest_version(table_dir)
        if head is None:
            content = updates
        else:
            current = read_version(spark, table_dir, head)
            keys = updates.select(key).distinct()
            kept = current.join(keys, key, "left_anti")
            content = kept.unionByName(updates)
        try:
            return commit_version(
                spark, table_dir, content,
                mode="overwrite", op="merge", expect_head=head,
                fingerprint_cols=fingerprint_cols,
            )
        except CommitConflict:
            continue  # head moved: re-run the reconcile against it


def vacuum(
    table_dir: str,
    keep_versions: int = 1,
    grace_seconds: float = 3600.0,
) -> list[str]:
    """List (NOT delete) paths unreferenced by the newest
    ``keep_versions`` manifests — the GC candidate set: stale data
    directories plus crash-stranded ``_log/*.tmp`` manifests older
    than the grace window. Deletion is left to the caller so a reader
    pinned to an old version cannot be yanked mid-query by this
    library.

    ``grace_seconds``: a staged directory referenced by NO manifest at
    all whose newest activity is younger than this is NOT a candidate
    — it may be an in-flight commit whose manifest hasn't landed yet
    (deleting it would destroy that commit's data files out from under
    it). "Newest activity" is the max mtime over the dir and its
    entries, which includes the ``_COMMITTING`` marker every publish
    attempt re-touches — the parquet files' own mtimes freeze when the
    write finishes, so a commit stalled between write and publish
    longer than the grace would otherwise be mislisted while still in
    flight. Dirs referenced by an OLD manifest are committed history,
    candidates regardless of age. Pass 0 only with writers
    quiesced."""
    import time

    head = latest_version(table_dir)
    if head is None:
        return []
    keep = set()
    ever_referenced = set()
    for v in range(head + 1):
        dirs = _read_manifest(table_dir, v)["data_dirs"]
        ever_referenced.update(dirs)
        if v >= head - keep_versions + 1:
            keep.update(dirs)
    data_root = os.path.join(table_dir, _DATA)
    if not os.path.isdir(data_root):
        return []
    all_dirs = {
        os.path.join(data_root, d) for d in os.listdir(data_root)
    }
    now = time.time()

    def _newest_mtime(d: str) -> float:
        ts = [os.path.getmtime(d)]
        for f in os.listdir(d):
            try:
                ts.append(os.path.getmtime(os.path.join(d, f)))
            except OSError:
                pass  # concurrently replaced entry: skip
        return max(ts)

    def _gc_ok(d: str) -> bool:
        if d in keep or not os.path.isdir(d):
            return False
        if d in ever_referenced:
            return True  # committed history, safe at any age
        try:
            return now - _newest_mtime(d) >= grace_seconds
        except OSError:
            return False  # vanished mid-scan: someone else's problem

    candidates = [d for d in all_dirs if _gc_ok(d)]
    # crash-stranded temp manifests: _try_publish unlinks its tmp on
    # every non-crash path, so any .tmp older than the grace is an
    # orphan (a LIVE publish attempt's tmp exists only for the instant
    # between write and link/unlink — the grace is overkill, kept for
    # symmetry with the data-dir rule).
    log_root = _log_dir(table_dir)
    for f in os.listdir(log_root):
        if not f.endswith(".tmp"):
            continue
        p = os.path.join(log_root, f)
        try:
            if now - os.path.getmtime(p) >= grace_seconds:
                candidates.append(p)
        except OSError:
            pass  # vanished mid-scan (its publisher unlinked it)
    return sorted(candidates)


def compact(
    spark: SparkSession, table_dir: str, n_files: int = 1
) -> int:
    """Rewrite the current content into ``n_files`` files and commit
    it as a new version — logical content unchanged (pytest-proven),
    small-file pressure gone; old versions still read the old files."""
    current = read_version(spark, table_dir)
    return commit_version(
        spark,
        table_dir,
        current.coalesce(n_files),
        mode="overwrite",
        op="compact",
    )


def changes_between(
    spark: SparkSession,
    table_dir: str,
    key: str,
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change-data-feed between two versions: one row per key whose
    content differs, tagged ``insert`` / ``delete`` / ``update``.
    Downstream consumers (a search index, an aggregate cache, a
    replica) apply the delta instead of re-reading the table — at
    100 TB the feed is proportional to what CHANGED, not to what
    exists.

    The diff is one full-outer join on the key; row content is
    compared via a canonical JSON fingerprint of the non-key columns
    (column order pinned by name sort, so the fingerprint is a pure
    function of the row). Emits the NEW row's columns for
    insert/update and the OLD row's for delete."""
    a = read_version(spark, table_dir, v_from)
    b = read_version(spark, table_dir, v_to)
    val_cols = sorted(c for c in b.columns if c != key)

    def fp(df: DataFrame) -> DataFrame:
        return df.select(
            key,
            F.md5(
                F.to_json(F.struct(*[F.col(c) for c in val_cols]))
            ).alias("_fp"),
            F.struct(*[F.col(c) for c in val_cols]).alias("_row"),
        )

    j = fp(a).alias("a").join(
        fp(b).alias("b"), F.col(f"a.{key}") == F.col(f"b.{key}"), "full"
    )
    change = (
        F.when(F.col(f"a.{key}").isNull(), F.lit("insert"))
        .when(F.col(f"b.{key}").isNull(), F.lit("delete"))
        .when(F.col("a._fp") != F.col("b._fp"), F.lit("update"))
    )
    picked = F.when(
        F.col(f"b.{key}").isNotNull(), F.col("b._row")
    ).otherwise(F.col("a._row"))
    out = (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.coalesce(F.col(f"a.{key}"), F.col(f"b.{key}")).alias(key),
            "change_type",
            picked.alias("_row"),
        )
    )
    return out.select(
        key, "change_type", *[F.col(f"_row.{c}").alias(c) for c in val_cols]
    )


def committed_batch_ids(table_dir: str) -> set:
    """Stream batch ids already committed to this table (recorded in
    the manifests by :func:`commit_stream_batch`)."""
    return {
        m["batch_id"]
        for m in history(table_dir)
        if m.get("batch_id") is not None
    }


def commit_stream_batch(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    batch_id: int,
    mode: str = "append",
) -> int | None:
    """Exactly-once streaming sink: commit a foreachBatch micro-batch
    as a table version stamped with its ``batch_id``, skipping any
    batch id the log already holds. Structured Streaming replays a
    batch after a failure between the sink write and the checkpoint
    advance — with a plain parquet sink that duplicates rows; here
    the replay finds its batch id in the log and becomes a no-op, so
    checkpoint-replay delivery + idempotent commit = exactly-once.
    Returns the committed version, or None for a skipped replay.

    Scope: the guarantee is per checkpoint lineage — batch N's content
    is deterministic given a checkpoint, which is what makes skipping
    a seen id safe. Restarting from a FRESH checkpoint renumbers
    batches from 0; that replay stays exactly-once only if the source
    re-delivers the same batch boundaries (true for a static file
    source with a fixed maxFilesPerTrigger, exercised by the
    end-to-end test; not true in general for live sources — those
    resume from the original checkpoint, the normal operating mode)."""
    if batch_id in committed_batch_ids(table_dir):
        return None
    token = uuid.uuid4().hex[:12]
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    # micro-batches inherit the table's fingerprint columns the same
    # way commit_version's None default does — a stream sink appending
    # to a fingerprint-maintained table must not break the ledger
    # chain (each micro-batch would otherwise drop the cumulative
    # pair, and downstream ledger-fed sessions would silently fall
    # back to full corpus scans)
    fp_cols = _inherited_fingerprint_cols(table_dir, df.columns)
    staged = os.path.join(table_dir, _DATA, f"staged-{token}")
    df.write.mode("overwrite").parquet(staged)
    staged_df = spark.read.parquet(staged)
    shard_fp = None
    if fp_cols:
        row = staged_df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(*fp_cols).cast("decimal(38,0)")
            ).alias("h"),
        ).first()
        n_rows = int(row["n"])
        shard_fp = (n_rows, int(row["h"] or 0) % (1 << 64))
    else:
        n_rows = staged_df.count()
    schema = sorted(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )
    while True:
        _touch_in_flight(staged)
        head = latest_version(table_dir)
        # the race loser re-checks the batch ledger too: the winner
        # may have been a replay of the SAME batch from another driver
        if batch_id in committed_batch_ids(table_dir):
            return None
        version = 0 if head is None else head + 1
        dirs = [staged]
        if mode == "append" and head is not None:
            # same drift guard as commit_version: a schema-drifted
            # micro-batch must not append mixed-schema data_dirs
            dirs = _append_data_dirs(table_dir, head, schema, staged)
        manifest = {
            "version": version,
            "op": "stream_batch",
            "mode": mode,
            "batch_id": batch_id,
            # recorded so the drift guard stays effective for batch
            # commits too (a later append validates against this head)
            "schema": schema,
            "data_dirs": dirs,
            "n_rows_written": n_rows,
        }
        fp = _cumulative_fingerprint(
            table_dir, head, mode, shard_fp, fp_cols
        )
        if fp is not None:
            manifest["fingerprint"] = fp
        if _try_publish(table_dir, version, manifest):
            return version


def restore(
    spark: SparkSession, table_dir: str, version: int
) -> int:
    """Roll the table back by committing ``version``'s exact file
    listing as the new head — O(1) (no data is copied or rewritten),
    non-destructive (the rolled-back versions stay in the log and
    remain time-travelable), and auditable (the manifest records
    which version it restored)."""
    src = _read_manifest(table_dir, version)
    while True:
        head = latest_version(table_dir)
        new_version = 0 if head is None else head + 1
        manifest = {
            "version": new_version,
            "op": f"restore_v{version}",
            "mode": "overwrite",
            # None when the restored manifest predates schema
            # recording — commit_version's drift guard skips None
            # rather than crash on the next append
            "schema": src.get("schema"),
            "data_dirs": src["data_dirs"],
            "n_rows_written": 0,
        }
        # content is byte-identical to the restored version, so its
        # fingerprint carries over verbatim — a restore must not break
        # the ledger chain (appends after it would otherwise record no
        # cumulative pair until the next overwrite)
        if src.get("fingerprint") is not None:
            manifest["fingerprint"] = src["fingerprint"]
        if _try_publish(table_dir, new_version, manifest):
            return new_version
