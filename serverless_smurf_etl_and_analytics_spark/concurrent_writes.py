"""Independent Spark writes, submitted together from driver threads.

Each write is its own Spark action and mostly pays fixed per-action
wall (planning, file commit, small stages) on a small daily slice, so
running independent writes one after another leaves the cores idle.
Submitted from one driver thread each, their jobs overlap in the
scheduler.

A thunk may build its DataFrame as well as write it, and should:
Catalyst analyzes each DataFrame in the JVM as it is built, and that
analysis overlaps across threads. In a warm ``local[4]`` session on a
4-core host at sf0.001, the daily pipeline's four phase-A plans took
0.31-0.36 s to build on one thread each and 0.50-0.54 s one after
another; its four phase-B plans that are not shared frames took
0.51-0.60 s against 0.84-0.89 s (three reps each). Frames that several
writes share stay on the caller, built and persisted before
``write_all`` starts: a thunk building its own copy would build (and
cache) it once per write. So do the table loaders and the operators
that fill a memo (``tables._FRAME_MEMO``, ``operators.memo._MEMO``):
those are plain dicts, filled without a lock.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

T = TypeVar("T")


def write_all(writes: dict[str, Callable[[], T]]) -> dict[str, T]:
    """Run every write thunk on its own driver thread; return
    ``{name: result}``.

    Each thread starts with its own copy of the calling thread's Spark
    local properties (job group, job description, scheduler pool) and
    the active session's tags, so every job launches as if the caller
    had run it and ``cancelJobGroup`` still reaches it. If a write
    fails, the writes that have not started are cancelled, the running
    ones are waited for, and then the first error is raised."""
    if not writes:
        return {}
    spark = SparkSession.active()
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        # one wrapper per write: each wrapper holds its own copy of the
        # caller's local properties, and Spark mutates a thread's copy
        # per query (spark.sql.execution.id), so one shared wrapper
        # would let concurrent writes overwrite each other's
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(fn))
            for name, fn in writes.items()
        }
        done, pending = wait(futures.values(), return_when=FIRST_EXCEPTION)
        failed = [f for f in futures.values() if f in done and f.exception()]
        if failed:
            for f in pending:
                f.cancel()
            wait(pending)
            raise failed[0].exception()
    return {name: f.result() for name, f in futures.items()}
