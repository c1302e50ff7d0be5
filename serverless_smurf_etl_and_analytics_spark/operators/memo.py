"""Session-scoped memo for plan-invariant gate scalars (r14).

Tier gates and artifact lookups across the operator layer each pay a
small Spark job at PLAN-BUILD time — a corpus row count, a content
fingerprint — whose value is a pure function of the input plan within
one Spark application. Rebuilding the same query per bench sample (or
serving the same corpus repeatedly in one session) re-ran those jobs
every call: ~0.1-0.5 s each, across a dozen gated operators the
largest single share of suite driver overhead at sf0.1 (measured r14).

Scope and staleness, stated precisely:

- Keyed by (application id, kind, analyzed-plan semantic hash). A
  different session, input table, or plan misses; an application's
  entries live until ``session.clear_operator_caches`` drops them or
  the process ends.
- Within one application, an input mutated UNDER an identical plan
  would be masked — but every operator that consults these gates also
  persists derived subtrees (shingles, band tables, pair tables)
  through Spark's cache manager, which has exactly the same
  plan-equality staleness semantics; the memo introduces no staleness
  the session caches do not already have. Pipelines that mutate a
  maintained corpus mid-session already pass explicit ledger
  fingerprints (which bypass these memos entirely) and free session
  state via ``session.clear_operator_caches``.
- Query RESULTS are never memoized — only the bounded gate scalars
  and, via :func:`plan_frame`, CONSTRUCTED lazy DataFrames (query
  plans): executing a memoized frame recomputes through whatever
  session persists it references, exactly as the per-call-built frame
  did.
- ``_MEMO`` is a plain dict, touched only from the caller thread that
  builds frames; ``concurrent_writes.write_all`` gives its worker
  threads write actions only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

_MEMO: dict = {}


def plan_scalar(df: DataFrame, kind: str, compute: Callable):
    """Memoized ``compute()`` keyed by ``df``'s analyzed plan.

    Falls back to a plain ``compute()`` call whenever the plan hash is
    unavailable (never fails the query for a memo)."""
    try:
        key = (
            df.sparkSession.sparkContext.applicationId,
            kind,
            df._jdf.queryExecution().analyzed().semanticHash(),
        )
    except Exception:
        return compute()
    if key not in _MEMO:
        _MEMO[key] = compute()
    return _MEMO[key]


def memoized_count(df: DataFrame) -> int:
    """Memoized ``df.count()`` — the row-count gate form."""
    return plan_scalar(df, "count", df.count)


def plan_frame(
    src: DataFrame, kind: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Memoized CONSTRUCTED DataFrame — a lazy plan, never data —
    keyed by ``src``'s analyzed plan. For operators that are pure plan
    functions of one input frame and whose py4j/Catalyst assembly
    measurably dominates their executor work (the r14 profile:
    0.3-0.8 s construct vs 0.1-0.4 s execute across the export/
    insight/report consumers), one assembly per session replaces one
    per call. Same staleness contract as every memo here; callers
    that persist shared subtrees re-``persist()`` them outside the
    memo so a cache clear is recovered per call."""
    return plan_scalar(src, "frame:" + kind, build)
