"""Session-scoped memo for plan-invariant gate scalars (r14).

Tier gates and artifact lookups across the operator layer each pay a
small Spark job at PLAN-BUILD time — a corpus row count, a content
fingerprint — whose value is a pure function of the input plan within
one Spark application. Rebuilding the same query per bench sample (or
serving the same corpus repeatedly in one session) re-ran those jobs
every call: ~0.1-0.5 s each, across a dozen gated operators the
largest single share of suite driver overhead at sf0.1 (measured r14).

Scope and staleness, stated precisely:

- Only scalars are memoized: counts and fingerprints, never a
  DataFrame and never a query result.
- Keyed by (application id, kind, analyzed-plan semantic hash), with
  the analyzed plan stored beside the value. Every hit is checked:
  the value is served only if the caller's plan ``sameResult`` the
  stored one, so two plans that share a 32-bit hash never share a
  value (a mismatch recomputes and replaces the entry). An
  application's entries live until ``session.clear_operator_caches``
  drops them or the process ends.
- Catalyst treats two reads of one path as the same plan, so an input
  whose files change UNDER an identical plan is masked until
  ``session.clear_operator_caches`` — the same staleness Spark's cache
  manager has for the subtrees these operators persist. Pipelines that
  mutate a maintained corpus mid-session pass explicit ledger
  fingerprints, which bypass this memo entirely.
- ``_MEMO`` is a plain dict, touched only from the caller thread that
  builds frames; ``concurrent_writes.write_all`` gives its worker
  threads write actions only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

# (app id, kind, semantic hash) -> (analyzed plan, value)
_MEMO: dict = {}


def plan_scalar(df: DataFrame, kind: str, compute: Callable):
    """Memoized ``compute()`` keyed by ``df``'s analyzed plan.

    Falls back to a plain ``compute()`` call whenever the plan is
    unavailable (never fails the query for a memo)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        key = (
            df.sparkSession.sparkContext.applicationId,
            kind,
            plan.semanticHash(),
        )
    except Exception:
        return compute()
    hit = _MEMO.get(key)
    if hit is not None and plan.sameResult(hit[0]):
        return hit[1]
    value = compute()
    _MEMO[key] = (plan, value)
    return value


def memoized_count(df: DataFrame) -> int:
    """Memoized ``df.count()`` — the row-count gate form."""
    return plan_scalar(df, "count", df.count)
