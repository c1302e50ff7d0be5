"""The benchmark's one-command report.

Runs each workload twice in fresh processes, untraced then traced
(``perfbench/run.py``), and prints for both workloads:

- every end-to-end metric by its workload-specific name, with unit;
- its traced value and the tracing overhead (traced minus untraced);
- the per-layer metrics of the traced run;
- the self time of each layer along the blocking path of ``day_p50_s``
  (daily) and ``suite_cold_s`` (queries);
- host, inputs, failed operations and ``failed_ops_frac``.

The whole report is written to ``.perfbench/report.json``.

Usage: ``python3 perfbench/report.py [--seed N] [--seconds S]``
(about five minutes on 4 cores).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import run


def one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    subprocess.run(cmd, check=True, cwd=run.ROOT, stdout=subprocess.DEVNULL,
                   timeout=600)
    path = os.path.join(run.WORK, f"record-{workload}-s{seed}-t{trace}.json")
    with open(path) as f:
        return json.load(f)


def main() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        default_seconds = json.load(f)["run_seconds"]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=default_seconds)
    a = ap.parse_args()

    report = {}
    for workload in ("daily", "queries"):
        plain = one(workload, a.seed, a.seconds, 0)
        traced = one(workload, a.seed, a.seconds, 1)
        report[workload] = {"untraced": plain, "traced": traced}
        print(f"== {workload}  seed {a.seed}  host {plain['host']}")
        print(f"   inputs {plain['inputs']}")
        print(f"   {'metric':32} {'untraced':>12} {'traced':>12} "
              f"{'overhead':>10}  unit")
        for name, value in plain["metrics"].items():
            t = traced["metrics"][name]
            over = (t - value) / value if value else 0.0
            print(f"   {name:32} {value:12.5g} {t:12.5g} {over:10.1%}  "
                  f"{run.WORKLOAD_UNITS[name]}")
        print("   failures:", plain["failures"] or "none")
        print("   per layer (traced run):")
        for name, value in traced["per_layer"].items():
            if value:
                print(f"     {name:40} {value:12.5g} {run.PER_LAYER[name]}")
        if traced.get("day_coverage") is not None:
            print(f"   pipeline table write/read-back spans plus ingest "
                  f"cover {traced['day_coverage']:.1%} of the day")
        path = "day_p50_s" if workload == "daily" else "suite_cold_s"
        print(f"   self time along the blocking path of {path}:")
        for layer, s in sorted(traced["blocking_path_self_s"].items(),
                               key=lambda kv: -kv[1]):
            print(f"     {layer:40} {s:10.3f} s")
    out = os.path.join(run.WORK, "report.json")
    with open(out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print("report written to", out)


if __name__ == "__main__":
    main()
