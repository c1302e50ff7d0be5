"""Benchmark of the smurf-spark engine, end to end and per layer.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload daily|queries --seed N \\
        --seconds S --trace 0|1

Each run starts Spark on ``local[nproc]`` in this process, generates its
inputs from ``--seed`` with ``perfbench/gen.py``, runs one workload as a
closed loop with one client, checks the outputs against DuckDB outside
the timed region, and prints one JSON object as the last line of
standard output::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the program's modules are wrapped
(``perfbench/spans.py``), Spark writes an event log, and the metrics are
the per-layer ones. The lines before the last give the full record,
including the workload-specific metric names; the record and, when
traced, the spans are also written under ``.perfbench/``.

Workloads:

- ``daily``: the reference's lifecycle. Bootstrap ``run_daily_pipeline``
  on an empty output directory over the history, then per upload date
  ``sources.ingest.ingest`` of that date's files and an incremental
  pipeline run, then ``run_scheduled_catchup`` over those dates, which
  must all be no-ops.
- ``queries``: a fixed cross-section of the registered queries, one per
  operator family, in a seed-permuted order: pass 1 on the
  fresh session (cold), pass 2 on the same session (warm). Each query is
  construct + collect (``toPandas()``); the output checks compare the
  collected results, so no query runs again to be checked.

Every run makes whole cycles (fresh Spark session, fresh inputs, one
workload pass), at least one, and another while it is predicted to end
within ``--seconds`` of measuring; timings are medians over cycles. At
the input sizes of ``gen.PROFILES`` one cycle takes longer than the
``run_seconds`` of ``BENCHMARK.json``, so a run is one cycle on a fresh
process; before it, one small untimed Spark job (``Bench.first_job``)
loads the JVM classes every operation needs. Set-up (session start plus
input generation) is repeated ``SETUPS`` times per cycle and its median
is ``setup_s``; only the first start of a process launches the JVM, so
the median is a session restart.

Every workload reports the end-to-end metrics of ``BENCHMARK.json``:
``setup_s`` and ``work_s``, the wall time of the workload's timed
operations in one cycle (daily: bootstrap run, ingest plus incremental
run per upload date, catch-up; queries: pass 1 plus pass 2). The
workload-specific parts of ``work_s`` (``backfill_s``, ``day_p50_s``,
``suite_cold_s``, ``suite_warm_s``, ...) are in the record only: each
is a single sample of 1-30 s, which on a shared host spreads more from
run to run than the contract's bound allows.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import resource
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 5

# One registered query per operator family (FAMILIES, then retail); the
# full suite of 136 does not fit a run of about one minute.
QUERY_SET = (
    "a1_store_day_metrics", "sk1_kmv_distinct_skus", "hist1_log2_histogram",
    "sim1_cosine_topk", "d4_minhash_neardup", "pr1_pagerank_stores",
    "c1_kmeans_clusters", "tf1_tfidf_keywords",
    "mm1_binary_fingerprint_dedup",
)

# query family = the first of these operator modules a query calls
FAMILIES = (
    "similarity", "dedup", "graph", "clustering", "textops", "multimodal",
    "stats", "quality",
)
# everything else (metrics, history, insights, export, serving, ...)
RETAIL = "retail"

# operator modules whose public functions are wrapped in a traced run
OPERATOR_MODULES = (
    "metrics", "stats", "quality", "insights", "report", "export",
    "history", "events", "joins", "serving", "timejoin", "similarity",
    "dedup", "graph", "clustering", "textops", "multimodal", "curate",
    "memo",
)
PIPELINE_TABLES = (
    "store_daily", "company_daily", "product_daily", "sku_sketches",
    "hll_registers", "cents_histograms", "insights", "report", "exports",
)
CONSTRUCT_MODULES = ("metrics", "stats", "quality", "insights", "report",
                     "export")

END_TO_END = {
    "setup_s": "s",
    "work_s": "s",
}


# record-only metrics of each workload
DAILY_UNITS = {
    "backfill_s": "s", "ingest_p50_s": "s", "day_p50_s": "s",
    "catchup_noop_s": "s", "files_written": "count",
    "bytes_written_per_input_byte": "ratio",
}
QUERIES_UNITS = {
    "query_cold_p50_s": "s", "query_warm_p50_s": "s",
    "suite_cold_s": "s", "suite_warm_s": "s",
}
WORKLOAD_UNITS = {
    **END_TO_END, **DAILY_UNITS, **QUERIES_UNITS,
    "failed_ops_frac": "ratio", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s"}
    for k in ("files_in", "rows_valid", "rows_rejected", "files_out"):
        units[f"ingest.{k}"] = "count"
    units["ingest.bytes_out"] = "bytes"
    for k in ("write_partitioned_s", "write_quarantine_s", "count_s"):
        units[f"ingest.{k}"] = "s"
    units.update({
        "pipeline.ledger_s": "s", "pipeline.ledger_reads": "count",
        "pipeline.ledger_files": "count",
        "pipeline.partitions_listed": "count",
    })
    for t in PIPELINE_TABLES:
        units.update({
            f"pipeline.{t}.write_s": "s", f"pipeline.{t}.readback_s": "s",
            f"pipeline.{t}.files": "count", f"pipeline.{t}.bytes": "bytes",
        })
    for m in CONSTRUCT_MODULES:
        units[f"{m}.construct_s"] = "s"
    units["export.write_s"] = "s"
    units.update({
        "registry.construct_s": "s", "registry.execute_s": "s",
        "registry.gate_jobs": "count",
    })
    for f in FAMILIES + (RETAIL,):
        units[f"family.{f}.s"] = "s"
    for p in ("cold", "warm"):
        units.update({
            f"memo.calls.{p}": "count", f"memo.entries.{p}": "count",
            f"memo.hit_ratio.{p}": "ratio",
            f"tables.frame_memo_entries.{p}": "count",
            f"cache.bytes.{p}": "bytes", f"cache.rdds.{p}": "count",
        })
    for k in ("jobs", "stages", "tasks", "listing_jobs"):
        units[f"spark.{k}"] = "count"
    for k in ("executor_run_s", "executor_cpu_s", "scheduler_delay_s",
              "driver_only_s"):
        units[f"spark.{k}"] = "s"
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        units[f"spark.{k}"] = "bytes"
    return units


PER_LAYER = per_layer_units()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = b = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(root, f))
    return n, b


def peak_rss_mb() -> float:
    """Peak RSS of this process plus the JVM it launched, from
    ``/proc``."""
    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * 1024
    me, parents = os.getpid(), {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parents[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    family = {me}
    changed = True
    while changed:
        changed = False
        for pid, ppid in parents.items():
            if ppid in family and pid not in family:
                family.add(pid)
                changed = True
    for pid in family - {me}:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
        except OSError:
            continue
    return total / 2**20


def host_info() -> dict:
    def run(cmd):
        try:
            return subprocess.run(
                cmd, capture_output=True, text=True, timeout=30
            )
        except (OSError, subprocess.TimeoutExpired):
            return None

    import pyspark

    java = run(["java", "-version"])
    git = run(["git", "-C", ROOT, "rev-parse", "HEAD"])
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": nproc(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": java.stderr.splitlines()[0] if java and java.stderr else None,
        "git_commit": git.stdout.strip() if git and git.returncode == 0
        else None,
    }


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM this process launched."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Bench:
    """One benchmark run: several cycles of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str, profile: str | None = None,
                 queries: tuple[str, ...] = QUERY_SET) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.profile = profile or workload
        self.query_names = queries
        self.spark = None
        self.attempted = 0
        self.failures: list[dict] = []
        self.cycles: list[dict] = []
        self.tracer = None
        if trace:
            from spans import Tracer

            self.tracer = Tracer()
        self.log_dir = os.path.join(work, "eventlog")

    # -- session and inputs -----------------------------------------
    def start_session(self) -> float:
        from serverless_smurf_etl_and_analytics_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        n = nproc()
        self.spark = get_spark(
            "perfbench", master=f"local[{n}]", shuffle_partitions=n
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext
        return time.perf_counter() - t0

    def first_job(self, data: str) -> None:
        """A small Spark SQL job (parquet scan, shuffle join and
        aggregate, Arrow collect), untimed, on the process's first
        session: it loads the JVM classes every query needs, which
        otherwise land on whichever operation runs first."""
        from pyspark.sql import functions as F

        read = lambda t: self.spark.read.parquet(  # noqa: E731
            os.path.join(data, f"{t}.parquet"))
        li, orders = read("lineitem"), read("orders")
        (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .groupBy("l_suppkey").agg(F.sum("l_quantity").alias("q"))
         .toPandas())

    def setup(self, cycle: int) -> dict:
        import gen

        starts, totals, digests = [], [], []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            starts.append(self.start_session())
            inputs = os.path.join(self.work, f"c{cycle}", f"inputs{i}")
            manifest = gen.generate(inputs, self.seed, self.profile)
            totals.append(time.perf_counter() - t0)
            digests.append(gen.digest(inputs))
            if cycle == 0 and i == 0:
                self.first_job(os.path.join(inputs, "data"))
            if i:
                shutil.rmtree(os.path.join(
                    self.work, f"c{cycle}", f"inputs{i - 1}"))
        self.inputs, self.manifest = inputs, manifest
        self.attempted += 1
        if len(set(digests)) != 1:
            self.fail("gen", "the same seed gave different inputs")
        return {"setup_s": median(totals), "session.start_s": median(starts)}

    # -- operations ---------------------------------------------------
    def fail(self, op: str, why: str) -> None:
        self.failures.append({"op": op, "why": why})
        print(f"FAILED {op}: {why}", file=sys.stderr)

    def timed(self, op: str, fn, *args):
        """Run one operation; return (result or None, seconds)."""
        self.attempted += 1
        tr = self.tracer
        if tr is not None:
            tr.op = op
        t0 = time.perf_counter()
        try:
            if tr is None:
                result = fn(*args)
            else:
                with tr.span("op." + op.split(":")[0], "bench"):
                    result = fn(*args)
        except Exception:
            self.fail(op, traceback.format_exc(limit=3))
            result = None
        return result, time.perf_counter() - t0

    def check(self, op: str, fn, *args) -> None:
        try:
            errors = fn(*args)
        except Exception:
            errors = [traceback.format_exc(limit=3)]
        for e in errors:
            self.fail(op, e)

    # -- workloads ----------------------------------------------------
    def daily(self) -> dict:
        from serverless_smurf_etl_and_analytics_spark import pipeline
        from serverless_smurf_etl_and_analytics_spark.sources import ingest

        m, spark = self.manifest, self.spark
        data = os.path.join(self.inputs, "data")
        history = os.path.join(self.inputs, "history")
        out = os.path.join(os.path.dirname(self.inputs), "out")
        pipe = os.path.join(out, "pipeline")
        processed = os.path.join(out, "processed")
        quarantine = os.path.join(out, "quarantine")
        if self.tracer is not None:
            self.tracer.pipeline_out = pipe
        first = m["history_dates"][-1]
        new = m["new_dates"]
        r = {"ingest": {}, "ingest_s": [], "day_s": []}
        _, r["backfill_s"] = self.timed(
            "backfill", pipeline.run_daily_pipeline, spark, history, pipe,
            first,
        )
        for d in new:
            r["ingest"][d], t_in = self.timed(
                f"ingest:{d}", ingest.ingest, spark,
                os.path.join(self.inputs, "uploads", d), processed,
                os.path.join(quarantine, d),
            )
            _, t_day = self.timed(
                f"day:{d}", pipeline.run_daily_pipeline, spark, data, pipe, d
            )
            r["ingest_s"].append(t_in)
            r["day_s"].append(t_in + t_day)
        catchup, r["catchup_noop_s"] = self.timed(
            "catchup", pipeline.run_scheduled_catchup, spark, data, pipe, new
        )
        r["out"] = {"pipeline": pipe, "processed": processed,
                    "quarantine": quarantine}
        r["catchup"], r["dates"] = catchup, [first] + new
        return r

    def check_daily(self, r: dict) -> None:
        import checks

        m = self.manifest
        data = os.path.join(self.inputs, "data")
        pipe = r["out"]["pipeline"]
        new, catchup = m["new_dates"], r["catchup"]
        con = checks.duck(data)
        try:
            for d in new:
                self.check(f"ingest:{d}", checks.ingest_counts,
                           r["ingest"][d] or (None, None),
                           m["expected_ingest"][d])
            self.check(f"day:{new[-1]}", checks.daily_tables, con, pipe)
            self.check(f"day:{new[-1]}", checks.exports, pipe)
            self.check("catchup", checks.ledger, con, pipe, r["dates"])
            if catchup is not None and not all(
                v.get("skipped") for v in catchup.values()
            ):
                self.fail("catchup", f"catch-up re-ran dates: {catchup}")
        finally:
            con.close()
        r["sizes"] = {k: tree_size(path) for k, path in r["out"].items()}
        for t in PIPELINE_TABLES + ("run_ledger",):
            r["sizes"][t] = tree_size(os.path.join(pipe, t))
        files = sum(r["sizes"][k][0] for k in r["out"])
        nbytes = sum(r["sizes"][k][1] for k in r["out"])
        r["files_written"] = files
        r["bytes_written_per_input_byte"] = nbytes / (
            m["fact_bytes"] + m["upload_bytes"])

    def queries(self) -> dict:
        from serverless_smurf_etl_and_analytics_spark.plans import registry

        spark = self.spark
        data = os.path.join(self.inputs, "data")
        names = list(self.query_names)
        random.Random(self.seed).shuffle(names)
        tr = self.tracer

        def run(name):
            t0 = time.perf_counter()
            if tr is None:
                df = registry.QUERIES[name](spark, data)
                t1 = time.perf_counter()
                pdf = df.toPandas()
            else:
                with tr.span("registry.construct", "registry", query=name):
                    df = registry.QUERIES[name](spark, data)
                t1 = time.perf_counter()
                with tr.span("registry.execute", "registry", query=name):
                    pdf = df.toPandas()
            return pdf, t1 - t0, time.perf_counter() - t1

        r = {"per_query": {}, "counters": {}, "results": {}}
        for p in ("cold", "warm"):
            t0 = time.perf_counter()
            lat = []
            for n in names:
                out, t = self.timed(f"{p}:{n}", run, n)
                pdf, construct, execute = out or (None, None, None)
                lat.append(t)
                r["results"][(p, n)] = pdf
                r["per_query"].setdefault(n, {})[p] = {
                    "s": t, "construct_s": construct, "execute_s": execute,
                }
            r[f"suite_{p}_s"] = time.perf_counter() - t0
            r[f"lat_{p}"] = lat
            if tr is not None:
                r["counters"][p] = self.session_counters()
        return r

    def check_queries(self, r: dict) -> None:
        import checks
        from serverless_smurf_etl_and_analytics_spark.plans import registry

        con = checks.duck(os.path.join(self.inputs, "data"))
        wanted = {}
        try:
            for (p, n), pdf in r.pop("results").items():
                if pdf is None:  # the operation itself failed
                    continue
                if n not in wanted:
                    try:
                        wanted[n] = checks.oracle_result(
                            con, registry.ORACLES[n])
                    except Exception:
                        wanted[n] = None
                        self.fail(f"oracle:{n}", traceback.format_exc(limit=3))
                if wanted[n] is not None:
                    self.check(f"{p}:{n}", checks.query_result, pdf, wanted[n])
        finally:
            con.close()

    def session_counters(self) -> dict:
        """Memo sizes and Spark cache held by the current session."""
        from serverless_smurf_etl_and_analytics_spark import tables
        from serverless_smurf_etl_and_analytics_spark.operators import memo

        sc = self.spark.sparkContext
        app = sc.applicationId
        infos = sc._jsc.sc().getRDDStorageInfo()
        return {
            "memo_entries": sum(1 for k in memo._MEMO if k[0] == app),
            "frame_memo_entries": sum(
                1 for k in tables._FRAME_MEMO if k[0] == app),
            "memo_calls": sum(
                1 for s in self.tracer.spans
                if s["name"] == "memo.plan_scalar"),
            "cache_bytes": sum(i.memSize() + i.diskSize() for i in infos),
            "cache_rdds": len(infos),
        }

    # -- the run ------------------------------------------------------
    def instrument(self) -> None:
        import importlib

        tr = self.tracer
        pkg = "serverless_smurf_etl_and_analytics_spark"
        importlib.import_module(pkg + ".plans.registry")
        tr.instrument_module(importlib.import_module(pkg + ".pipeline"),
                             "pipeline")
        tr.instrument_module(
            importlib.import_module(pkg + ".sources.ingest"), "ingest")
        for m in OPERATOR_MODULES:
            tr.instrument_module(
                importlib.import_module(f"{pkg}.operators.{m}"), m)
        tr.instrument_io()

    def run(self) -> dict:
        os.makedirs(self.log_dir, exist_ok=True)
        if self.tracer is not None:
            from spans import event_log_conf

            self.instrument()
            os.environ["SMURF_EXTRA_CONF"] = ";".join(filter(None, (
                os.environ.get("SMURF_EXTRA_CONF"),
                event_log_conf(self.log_dir))))
        body = getattr(self, self.workload)
        check = getattr(self, "check_" + self.workload)
        # whole cycles only: start another while it is predicted to fit
        measured = 0.0
        while not self.cycles or measured + self.cycles[-1][
                "measured_s"] <= self.seconds:
            cycle = len(self.cycles)
            t_setup = time.perf_counter()
            c = self.setup(cycle)
            c["setup_total_s"] = time.perf_counter() - t_setup
            wall0, t0 = time.time(), time.perf_counter()
            c.update(body())
            c["measured_s"] = time.perf_counter() - t0
            c["wall"] = (wall0, time.time())
            if self.tracer is not None:
                self.tracer.op = "check"
            t_check = time.perf_counter()
            check(c)
            c["check_s"] = time.perf_counter() - t_check
            c["app_id"] = self.spark.sparkContext.applicationId
            c["peak_rss_mb"] = peak_rss_mb()
            measured += c["measured_s"]
            self.cycles.append(c)
            shutil.rmtree(os.path.join(self.work, f"c{cycle}"))
        self.spark.stop()
        self.spark = None
        if self.tracer is not None:
            self.tracer.restore()
        return self.record()

    # -- results ------------------------------------------------------
    def workload_metrics(self) -> dict:
        """Every end-to-end metric under its workload-specific name and
        under the generic name ``BENCHMARK.json`` uses."""
        cs = self.cycles
        med = lambda key: median([c[key] for c in cs])  # noqa: E731
        out = {"setup_s": med("setup_s"), "work_s": med("measured_s"),
               "peak_rss_mb": max(c["peak_rss_mb"] for c in cs)}
        if self.workload == "daily":
            days = [t for c in cs for t in c["day_s"]]
            out.update({
                "backfill_s": med("backfill_s"),
                "ingest_p50_s": median(
                    [t for c in cs for t in c["ingest_s"]]),
                "day_p50_s": median(days),
                "catchup_noop_s": med("catchup_noop_s"),
                "files_written": med("files_written"),
                "bytes_written_per_input_byte": med(
                    "bytes_written_per_input_byte"),
            })
        else:
            for p in ("cold", "warm"):
                out[f"query_{p}_p50_s"] = median(
                    [t for c in cs for t in c[f"lat_{p}"]])
                out[f"suite_{p}_s"] = med(f"suite_{p}_s")
        out["failed_ops_frac"] = len({f["op"] for f in self.failures}) / max(
            1, self.attempted)
        return out

    def layer_metrics(self) -> tuple[dict, dict]:
        """Per-layer metrics (all cycles summed, except the per-cycle
        medians of session start) and the trace detail for the
        sidecar."""
        import spans as tr_mod

        tr = self.tracer
        cs = self.cycles
        v = dict.fromkeys(PER_LAYER, 0.0)
        v["session.start_s"] = median([c["session.start_s"] for c in cs])
        v["pipeline.partitions_listed"] = tr.counts[
            "pipeline.partitions_listed"]
        for m in CONSTRUCT_MODULES:
            v[f"{m}.construct_s"] = tr.total(
                lambda s, m=m: s["layer"] == m
                and s["name"] != "export.write_ndjson_export")
        v["export.write_s"] = tr.total("export.write_ndjson_export")
        jobs: list[dict] = []
        for c in cs:
            app_jobs = tr_mod.spark_jobs(self.log_dir, c["app_id"])
            jobs += app_jobs
            for k, x in tr_mod.spark_summary(app_jobs, c["wall"]).items():
                v[k] += x
        if self.workload == "daily":
            for c in cs:
                for d, res in c["ingest"].items():
                    if res:
                        v["ingest.rows_valid"] += res[0]
                        v["ingest.rows_rejected"] += res[1]
                for k in ("processed", "quarantine"):
                    v["ingest.files_out"] += c["sizes"][k][0]
                    v["ingest.bytes_out"] += c["sizes"][k][1]
                for t in PIPELINE_TABLES:
                    v[f"pipeline.{t}.files"] += c["sizes"][t][0]
                    v[f"pipeline.{t}.bytes"] += c["sizes"][t][1]
                v["pipeline.ledger_files"] += c["sizes"]["run_ledger"][0]
            v["ingest.files_in"] = len(cs) * self.manifest["sizes"][
                "upload_files"]
            for k in ("write_partitioned", "write_quarantine"):
                v[f"ingest.{k}_s"] = tr.total(f"ingest.{k}")
            v["ingest.count_s"] = tr.total("ingest.count")
            v["pipeline.ledger_s"] = tr.total(
                "pipeline.already_succeeded") + tr.total("pipeline.record_run")
            v["pipeline.ledger_reads"] = sum(
                s["name"] == "pipeline.read_ledger" for s in tr.spans)
            for t in PIPELINE_TABLES:
                v[f"pipeline.{t}.write_s"] = tr.total(f"pipeline.{t}.write")
                v[f"pipeline.{t}.readback_s"] = tr.total(
                    f"pipeline.{t}.readback")
        else:
            self.query_layers(v, jobs)
        detail = {
            "day_coverage": self.day_coverage(),
            "self_s": tr.self_times(),
            "blocking_path_self_s": self.blocking_path(),
            "counts": dict(tr.counts),
            "spans": tr.spans,
            "jobs": jobs,
        }
        return v, detail

    def query_layers(self, v: dict, jobs: list[dict]) -> None:
        tr = self.tracer
        cold = [s for s in tr.spans if s["op"].startswith("cold:")]
        construct = {s["id"] for s in cold
                     if s["name"] == "registry.construct"}
        below = tr.descendants(construct)
        v["registry.construct_s"] = sum(
            s["end"] - s["start"] for s in cold
            if s["name"] == "registry.construct")
        v["registry.execute_s"] = sum(
            s["end"] - s["start"] for s in cold
            if s["name"] == "registry.execute")
        v["registry.gate_jobs"] = sum(j["span"] in below for j in jobs)
        # family of a query: the first FAMILIES module it called
        layers: dict[str, set] = {}
        for s in cold:
            layers.setdefault(s["op"], set()).add(s["layer"])
        for c in self.cycles:
            for n, q in c["per_query"].items():
                used = layers.get(f"cold:{n}", set())
                fam = next((f for f in FAMILIES if f in used), RETAIL)
                v[f"family.{fam}.s"] += q["cold"]["s"]
        for p in ("cold", "warm"):
            cnt = [c["counters"][p] for c in self.cycles]
            prev = [c["counters"]["cold"] if p == "warm" else None
                    for c in self.cycles]
            calls = sum(x["memo_calls"] - (y["memo_calls"] if y else 0)
                        for x, y in zip(cnt, prev))
            new = sum(x["memo_entries"] - (y["memo_entries"] if y else 0)
                      for x, y in zip(cnt, prev))
            v[f"memo.calls.{p}"] = calls
            v[f"memo.entries.{p}"] = sum(x["memo_entries"] for x in cnt)
            v[f"memo.hit_ratio.{p}"] = 1 - new / calls if calls else 0.0
            v[f"tables.frame_memo_entries.{p}"] = sum(
                x["frame_memo_entries"] for x in cnt)
            v[f"cache.bytes.{p}"] = sum(x["cache_bytes"] for x in cnt)
            v[f"cache.rdds.{p}"] = sum(x["cache_rdds"] for x in cnt)

    def day_coverage(self) -> float | None:
        """Share of the day operations' time covered by the pipeline's
        table write and read-back spans plus the ingest call."""
        import spans as tr_mod

        tr = self.tracer
        days = [s for s in tr.spans if s["name"] in ("op.day", "op.ingest")]
        if not days:
            return None
        covered = tr_mod.union([
            (s["start"], s["end"]) for s in tr.spans
            if s["op"].startswith(("day:", "ingest:"))
            and (s["name"] == "ingest.ingest"
                 or s["name"].endswith((".write", ".readback")))
        ])
        return covered / sum(s["end"] - s["start"] for s in days)

    def blocking_path(self) -> dict:
        """Self time per layer along the operations that make up
        ``day_p50_s`` (daily) or ``suite_cold_s`` (queries)."""
        tr = self.tracer
        prefixes = (("ingest:", "day:") if self.workload == "daily"
                    else ("cold:",))
        spans = [s for s in tr.spans if s["op"].startswith(prefixes)]
        return {k: round(x, 4) for k, x in sorted(
            tr.self_times(spans).items(), key=lambda kv: -kv[1])}

    def record(self) -> dict:
        wm = self.workload_metrics()
        rec = {
            "workload": self.workload,
            "seed": self.seed,
            "trace": self.tracer is not None,
            "host": host_info(),
            "inputs": self.manifest["sizes"],
            "queries": list(self.query_names) if self.workload == "queries"
            else None,
            "cycles": [{k: c[k] for k in (
                "setup_total_s", "measured_s", "check_s")}
                for c in self.cycles],
            "attempted": self.attempted,
            "failures": self.failures,
            "metrics": wm,
        }
        if self.workload == "queries":
            rec["per_query"] = [c["per_query"] for c in self.cycles]
        if self.tracer is not None:
            rec["per_layer"], rec["trace"] = self.layer_metrics()
        return rec


def prepare(work: str) -> None:
    """Make ``work`` the run's scratch directory (Spark's local dirs,
    the JVM's and Python's temp files, the SQL warehouse) and make the
    program importable; exit with an error when it is not there."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # C1-only JIT: in runs this short, C2 compiler threads compete with
    # the task threads for the cores; on a 4-core host C1 alone made
    # both workloads 15-20 % faster (one run each, same seed)
    os.environ["SMURF_EXTRA_CONF"] = (
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')};"
        "spark.ui.showConsoleProgress=false;"
        "spark.driver.extraJavaOptions=-XX:TieredStopAtLevel=1 "
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp")
    )
    sys.path.insert(0, ROOT)
    try:
        import serverless_smurf_etl_and_analytics_spark  # noqa: F401
    except ImportError as e:
        sys.exit(f"perfbench: the program is not importable here: {e}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("daily", "queries"),
                    required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_main = time.perf_counter()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(WORK, tag)
    prepare(work)
    bench = Bench(a.workload, a.seed, a.seconds, bool(a.trace), work)
    try:
        rec = bench.run()
    finally:
        shutdown(bench.spark)

    rec["process_s"] = time.perf_counter() - t_main
    if a.trace:
        detail = rec.pop("trace")
        with open(os.path.join(WORK, f"trace-{tag}.json"), "w") as f:
            json.dump(detail, f)
        rec["blocking_path_self_s"] = detail["blocking_path_self_s"]
        rec["day_coverage"] = detail["day_coverage"]
        rec["self_s"] = detail["self_s"]
    with open(os.path.join(WORK, f"record-{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    for name, value in rec["metrics"].items():
        print(f"{a.workload} {name} = {value:.6g} {WORKLOAD_UNITS[name]}")
    print(json.dumps({k: rec[k] for k in (
        "host", "inputs", "cycles", "failures")}, sort_keys=True))
    names = PER_LAYER if a.trace else END_TO_END
    source = rec["per_layer"] if a.trace else rec["metrics"]
    print(json.dumps({
        "correct": not rec["failures"],
        "attempted": rec["attempted"],
        "failed": len({f["op"] for f in rec["failures"]}),
        "metrics": {n: {"value": source[n], "unit": u}
                    for n, u in names.items()},
    }))


if __name__ == "__main__":
    main()
