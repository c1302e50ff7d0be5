"""Toy-size smoke test of the benchmark itself.

Runs both workloads on the ``toy`` input profile (sf0.001-sized: 10
stores, 600 facts, one upload date) and three queries, in one process:

- every end-to-end metric is emitted under its name with its unit,
  untraced and traced, and every per-layer metric when traced;
- the output checks run and pass on the unmodified program;
- a query made to return a wrong result is counted as a failure.

Usage: ``python3 perfbench/smoke.py`` (about two minutes on 4 cores).
Exits non-zero with the failed assertion when something is wrong.
"""

from __future__ import annotations

import os
import sys

import run

QUERIES = ("a1_store_day_metrics", "sk1_kmv_distinct_skus",
           "sim1_cosine_topk")
WRONG = "a1_store_day_metrics"


def bench(workload: str, trace: bool, work: str) -> dict:
    b = run.Bench(workload, seed=5, seconds=0, trace=trace,
                  work=os.path.join(work, f"{workload}-{int(trace)}"),
                  profile="toy", queries=QUERIES)
    return b.run()


def assert_emitted(rec: dict, trace: bool) -> None:
    names = set(run.END_TO_END) | {"failed_ops_frac", "peak_rss_mb"}
    names |= set(run.DAILY_UNITS if rec["workload"] == "daily"
                 else run.QUERIES_UNITS)
    missing = names - set(rec["metrics"])
    assert not missing, f"{rec['workload']}: missing {sorted(missing)}"
    for n in names:
        assert n in run.WORKLOAD_UNITS, f"{n} has no unit"
        assert isinstance(rec["metrics"][n], (int, float)), n
    if trace:
        missing = set(run.PER_LAYER) - set(rec["per_layer"])
        assert not missing, f"per-layer missing {sorted(missing)}"


def main() -> None:
    work = os.path.join(run.WORK, "smoke")
    run.prepare(work)
    from serverless_smurf_etl_and_analytics_spark.plans import registry

    try:
        for workload in ("daily", "queries"):
            for trace in (False, True):
                rec = bench(workload, trace, work)
                assert_emitted(rec, trace)
                assert rec["attempted"] > 0
                assert all(c["check_s"] > 0 for c in rec["cycles"])
                assert not rec["failures"], rec["failures"]
                assert rec["metrics"]["failed_ops_frac"] == 0
                print(f"ok {workload} trace={int(trace)}")

        right = registry.QUERIES[WRONG]
        registry.QUERIES[WRONG] = lambda spark, sf: right(spark, sf).limit(1)
        try:
            rec = bench("queries", False, work)
        finally:
            registry.QUERIES[WRONG] = right
        ops = {f["op"] for f in rec["failures"]}
        assert ops == {f"cold:{WRONG}", f"warm:{WRONG}"}, ops
        assert rec["metrics"]["failed_ops_frac"] == 2 / rec["attempted"]
        print("ok injected wrong result counted as failed")
    finally:
        run.shutdown(None)
    print("smoke test passed")


if __name__ == "__main__":
    sys.exit(main())
