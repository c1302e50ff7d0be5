"""Daily-pipeline orchestration (SURVEY.md §3.1/§3.2; §7.1 item 8).

Materializes the derived-table layer ONCE per run — ``store_daily`` in
its full nested serving shape, ``company_daily``, ``product_daily``,
and the three insight sets — then derives the daily report and the
five BI exports from the MATERIALIZED tables instead of rescanning the
fact table. This is the reference's core design: store_daily is
persisted by ``write-metrics/lambda_function.py:77-104`` and every
downstream consumer (``get-store-summaries``, ``detect-anomalies``,
``export-to-quicksight``) rereads it rather than re-aggregating raw
transactions (SURVEY §4 "pre-aggregation / materialized views").

S10 idempotency (``infrastructure/eventbridge.tf:81-148``): the
reference's scheduled 23:00 trigger lists prior runs and skips when an
execution for "today" already succeeded. Here a run-ledger parquet
table plays that role: ``run_daily_pipeline`` is a no-op for a
(run_date) whose ledger row says succeeded, unless ``force=True``.

Scale notes (100 TB):
- each materialization is one bounded-output aggregation over the fact
  table (rows = |stores| x |days| or |skus| x |days|), written
  partitioned by sale_date so daily upserts touch one partition;
- every downstream consumer reads the tiny MV, never the fact table —
  the fact table is scanned a constant number of times per run;
- the ledger is append-only, one row per run — read it with a filter
  on run_date (partition-prunable if grown large).

Each output is written once, and none is read back just to count it.
The ledger's ``*_rows`` counts come from an ``Observation`` on each
full-overwrite table's own write (no listing, no extra job).
``store_daily`` is read back once, persisted, and counted; the count
fills the cache that every later step reads. The partition-overwrite
sketch layers keep their table-level count, read with the schema they
were just written with, as are the insight tables the exports read, so
no footer-inference job runs. The ledger row itself is built in the
JVM (``spark.range``), so recording a run starts no Python worker.

The writes follow the run's dependency graph in three phases. Each
phase submits its writes together (``concurrent_writes.write_all``,
one driver thread per write) and waits for all of them:

- A: ``store_daily`` alongside the three sketch layers, which read
  only the run's fact slice. Then the one barrier: store_daily is read
  back, persisted and counted.
- B: company_daily, product_daily, the three insight sets and the
  report, which read the cached store_daily or the persisted daily
  cents and anomaly set. No write after phase A reads the facts.
- C: the five NDJSON exports. ``manifest.json`` is written after all
  five commit, and the ledger row after that.

store_daily's ``payment_lines`` map (line counts per method) feeds the
report; partitions written before it existed read it as null, and the
report reads only ``run_date``'s partition, which every run rewrites.

Each write's DataFrame is built on that write's own thread, so the
py4j composition and Catalyst analysis of one plan overlap the others
and the jobs already running (``concurrent_writes`` gives the
serial-vs-thread build times). Only the frames several writes share
are built on the calling thread, before their phase starts: the run's
fact slice (``mv_input``), the persisted store_daily read-back, the
persisted daily cents and anomaly set, and the recommendations derived
from them. They are persisted or shared, so building one per thread
would build (and cache) it more than once. Phase A's store_daily write
returns the schema the barrier reads the table back with, and each
phase-B write returns the schema phase C reads its table back with.

A failed write raises after the running writes finish. The
``finally`` then waits until no job of the caller's job group is
active before releasing the cache, so a job still running cannot
re-cache a released frame. The manifest and the ledger row are
written only when every write succeeded.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable
from functools import partial
from typing import TypeVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.storagelevel import StorageLevel

from . import tables
from .concurrent_writes import write_all
from .functions.money import cents
from .operators import export, metrics, report
from .operators.quality import daily_log2_histograms, hist_merge_daily
from .operators.stats import (
    hll_daily_registers,
    hll_merge_daily,
    kmv_daily_sketches,
    kmv_merge_daily,
)
from .operators.insights import (
    classify_anomalies_from_daily,
    recommendations_from,
    trend_insights_from_daily,
)

T = TypeVar("T")

LEDGER_DIR = "run_ledger"
LEDGER_COLUMNS = ("run_date", "status", "stats", "recorded_at")
LEDGER_SCHEMA = ", ".join(f"{c} string" for c in LEDGER_COLUMNS)


def _ledger_path(out_dir: str) -> str:
    return os.path.join(out_dir, LEDGER_DIR)


def read_ledger(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """The run ledger, or None before the first recorded run. Read with
    the declared schema, so no footer-inference job runs."""
    path = _ledger_path(out_dir)
    if not os.path.isdir(path):
        return None
    return spark.read.schema(LEDGER_SCHEMA).parquet(path)


def already_succeeded(
    spark: SparkSession, out_dir: str, run_date: str
) -> bool:
    """S10 idempotency check: has a run for this logical date already
    succeeded? (``eventbridge.tf:100-127`` — the reference lists state
    machine executions and checks for a succeeded one named for the
    date.)"""
    led = read_ledger(spark, out_dir)
    if led is None:
        return False
    return not led.filter(
        (F.col("run_date") == run_date) & (F.col("status") == "succeeded")
    ).isEmpty()


def record_run(
    spark: SparkSession,
    out_dir: str,
    run_date: str,
    status: str,
    stats: dict,
) -> None:
    """Append one ledger row (run_date, status, stats json, recorded
    UTC timestamp). The row is built in the JVM from literals, so no
    Python worker starts; ``when(id == 0, ...)`` keeps the columns
    nullable (parquet OPTIONAL, the ledger's layout), where a bare
    literal would be written REQUIRED."""
    values = (
        run_date,
        status,
        json.dumps(stats, sort_keys=True),
        time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime()),
    )
    row = spark.range(1, numPartitions=1).select(
        *[
            F.when(F.col("id") == 0, F.lit(v)).alias(c)
            for c, v in zip(LEDGER_COLUMNS, values)
        ]
    )
    row.write.mode("append").parquet(_ledger_path(out_dir))


def _built(
    write: Callable[[DataFrame, str], T],
    build: Callable[[], DataFrame],
    path: str,
) -> Callable[[], T]:
    """A ``write_all`` thunk that builds its DataFrame on the write's
    own thread, then writes it to ``path``."""
    return lambda: write(build(), path)


def _write_counted(df: DataFrame, path: str) -> tuple[int, StructType]:
    """Overwrite ``path`` with ``df``; return the rows written, taken
    from an observation on the write itself (no read-back, no extra
    job), and the schema written."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    return obs.get["rows"], df.schema


def _read_partitioned(
    spark: SparkSession, path: str, written: StructType
) -> DataFrame:
    """A sale_date-partitioned table read with the schema it was
    written with (data columns, then the partition column), so no
    footer-inference job runs."""
    data = [f for f in written.fields if f.name != "sale_date"]
    return spark.read.schema(
        StructType(data + [written["sale_date"]])
    ).parquet(path)


def _overwrite_partitions(df: DataFrame, path: str) -> int:
    """Dynamically overwrite ``df``'s sale_date partitions at ``path``
    and return the TABLE's row count (every partition, not just the
    rewritten ones)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("sale_date")
        .parquet(path)
    )
    return _read_partitioned(df.sparkSession, path, df.schema).count()


def _drain_jobs(sc) -> None:
    """Block until no job of the calling thread's job group is active
    (jobs without a group when it has none)."""
    group = sc.getLocalProperty("spark.jobGroup.id")
    tracker = sc.statusTracker()
    while set(tracker.getActiveJobsIds()).intersection(
        tracker.getJobIdsForGroup(group)
    ):
        time.sleep(0.01)


def materialize_store_daily(df: DataFrame, path: str) -> StructType:
    """Write the store_daily MV in its SERVING layout: one directory
    per sale_date (directory-level partition pruning serves the date
    axis — P4 range scans and the incremental rewrite) with rows
    clustered by store_id INSIDE each partition, so parquet row-group
    min/max footers prune store probes (P2 prefix, P3 point lookups)
    to the admitting groups. The r5 pruning rehearsal measured the
    clustered layouts admitting 1/32 row groups on store predicates at
    sf1/sf10 where the unclustered write admits all of them
    (``benchmarks/pruning_r5_sf*.json``) — this wires that measured
    win into the pipeline default instead of leaving it a rehearsal
    artifact. Cost: one repartition+sort of a dimension-sized MV
    (|stores| x |days| rows regardless of fact volume) per
    materialization.

    The repartition ALSO fixes small-file pressure: hash-placing each
    date's rows into one task yields one file per partition directory
    instead of one per (task x date).

    Returns ``df``'s schema, which reads the table back without a
    footer-inference job (:func:`_read_partitioned`)."""
    (
        df.repartition("sale_date")
        .sortWithinPartitions("sale_date", "store_id")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("sale_date")
        .parquet(path)
    )
    return df.schema


def run_daily_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    run_date: str,
    export_start: str | None = None,
    export_end: str | None = None,
    force: bool = False,
    full_refresh: bool = False,
) -> dict:
    """One daily-analysis run (§3.2): materialize the derived tables,
    classify insights, format the report for ``run_date``, export the
    BI datasets, record the ledger row. Returns per-table row counts;
    ``{"skipped": True}`` when the ledger already shows a succeeded run
    for ``run_date`` (S10).

    The first run (or ``full_refresh=True``) bootstraps the full
    store_daily history; every later run aggregates ONLY ``run_date``'s
    transactions and dynamically overwrites that one partition — the
    incremental upsert the reference's per-day processing implies
    (each ``calculate-metrics`` invocation handles one day's uploads).
    ``full_refresh`` is the restatement path for when HISTORY changed
    (late-arriving fact rows, schema backfill)."""
    if not force and already_succeeded(spark, out_dir, run_date):
        return {"run_date": run_date, "skipped": True}

    txns = tables.transactions(spark, sf_dir)
    stats: dict = {"run_date": run_date, "skipped": False}
    # every frame this run persists, released on success AND failure
    persisted: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        persisted.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return df

    try:
        # Phase A. store_daily — the central MV, nested serving shape, one
        #    partition per day — written alongside the three sketch
        #    layers, which read only mv_input. Incremental runs aggregate
        #    run_date's rows only (every store_daily column is a
        #    per-(store, day) quantity, so single-date aggregation is
        #    exact) and rewrite one partition; the bootstrap aggregates
        #    all history. At 100 TB the fact side of an incremental run is
        #    one day's slice — with a date-partitioned fact layout (the S5
        #    sink's shape) the scan prunes to that day's files.
        #  - sku_sketches: the per-(store, day) KMV sketch layer (one
        #    bounded row per store-day, <= 64 hashes); range distinct-SKU
        #    questions merge sketches via ``distinct_skus_for_range``.
        #  - hll_registers: the per-(payment_method, day) HLL register
        #    layer (<= 256 bounded rows per method-day); range
        #    distinct-transaction questions merge registers via
        #    ``distinct_transactions_for_range``.
        #  - cents_histograms: the per-(payment_method, day) power-of-two
        #    histogram layer (<= 64 bounded rows per method-day); range
        #    median questions merge bins via ``median_cents_for_range``.
        #  The sketch layers are incremental like store_daily (a daily run
        #  rewrites run_date's partition) and report their TABLE-level
        #  row counts. Materialize+merge family: KMV (distincts), HLL
        #  (distincts at constant state), histograms (quantiles) — zero
        #  fact-table reads at query time.
        sd_path = os.path.join(out_dir, "store_daily")
        bootstrap = full_refresh or not os.path.isdir(sd_path)
        mv_input = (
            txns if bootstrap else txns.filter(F.col("sale_date") == run_date)
        )
        stats["store_daily_mode"] = "bootstrap" if bootstrap else "incremental"
        sketches = {
            "sku_sketch_rows": (kmv_daily_sketches, "sku_sketches"),
            "hll_register_rows": (hll_daily_registers, "hll_registers"),
            "cents_histogram_rows": (
                daily_log2_histograms, "cents_histograms"
            ),
        }
        phase_a = {
            stat: _built(
                _overwrite_partitions,
                partial(build, mv_input),
                os.path.join(out_dir, t),
            )
            for stat, (build, t) in sketches.items()
        }
        phase_a["store_daily"] = _built(
            materialize_store_daily,
            partial(metrics.store_daily_nested, mv_input),
            sd_path,
        )
        written = write_all(phase_a)
        stats.update({stat: written[stat] for stat in sketches})

        # The one barrier: read the whole store_daily table back ONCE (an
        # incremental run rewrote one partition of it) and persist it.
        # The table-level count fills the cache, and every later
        # consumer reads the cached frame.
        store_daily = keep(
            _read_partitioned(spark, sd_path, written["store_daily"])
        )
        stats["store_daily_rows"] = store_daily.count()

        # Phase B. Every rollup, insight set and the report, at once.
        #  - company_daily rolls up the MATERIALIZED store_daily
        #    (calc-company-metrics consumes the persisted summaries, never
        #    the fact table).
        #  - product_daily is the top-5 parity rollup (a6's
        #    ``metrics.product_daily_from_top``) of the MATERIALIZED
        #    nested top_products lists (calc-product-metrics consumes
        #    each store's top-5, SURVEY A6 parity trap).
        #  - insights: ONE persisted daily-cents + ONE persisted anomaly
        #    set feed all three classifiers (no duplicate window chains).
        #    daily-cents is DERIVED FROM THE MATERIALIZED MV, not the fact
        #    table: sales_c/txn_count round-trip exactly through the
        #    persisted total_sales/transaction_count (integer-cents rule),
        #    so the window chain reads |stores| x |days| rows instead of
        #    rescanning raw transactions (detect-anomalies reads the
        #    persisted summaries too, lambda_function.py:64-135).
        #  - the daily report for run_date (O5/O9 string layer) reads
        #    the cached store_daily (header, KPIs, and the payment lines
        #    from its two payment maps) and the recommendations derived
        #    from the persisted anomaly set. No phase after A reads the
        #    facts.
        #  Each write builds its own plan on its thread; the frames the
        #  writes share (daily, anomalies, recs) are built here.
        daily = keep(
            store_daily.select(
                "store_id",
                "sale_date",
                cents(F.col("total_sales")).alias("sales_c"),
                F.col("transaction_count").alias("txn_count"),
            )
        )
        anomalies = keep(classify_anomalies_from_daily(daily))
        recs = recommendations_from(anomalies)
        ins_path = os.path.join(out_dir, "insights")
        insights = {
            "anomalies": lambda: anomalies,
            "trends": partial(trend_insights_from_daily, daily),
            "recommendations": lambda: recs,
        }
        phase_b = {
            "company_daily_rows": (
                partial(metrics.company_daily, store_daily),
                os.path.join(out_dir, "company_daily"),
            ),
            "product_daily_rows": (
                lambda: metrics.product_daily_from_top(
                    metrics.top_products_long(store_daily)
                ),
                os.path.join(out_dir, "product_daily"),
            ),
            **{
                f"{name}_rows": (build, os.path.join(ins_path, name))
                for name, build in insights.items()
            },
            "report_lines": (
                lambda: report.daily_report_lines(
                    store_daily, run_date, recs
                ).coalesce(1),
                os.path.join(out_dir, "report"),
            ),
        }
        written = write_all(
            {
                stat: _built(_write_counted, build, path)
                for stat, (build, path) in phase_b.items()
            }
        )
        stats.update({stat: rows for stat, (rows, _) in written.items()})

        # Phase C. The five BI exports (S7) from the MATERIALIZED tables,
        #    written together, each through its registry builder's
        #    shape function (x1-x5); store_summaries and top_products
        #    read the export window of the cached store_daily, and the
        #    insight tables are read with the schemas their phase-B
        #    writes returned. manifest.json is written after all five
        #    commit, and the ledger row after that.
        an_mv, tr_mv, re_mv = (
            spark.read.schema(written[f"{name}_rows"][1]).parquet(
                os.path.join(ins_path, name)
            )
            for name in insights
        )
        start = export_start or run_date
        end = export_end or run_date
        in_window = store_daily.filter(F.col("sale_date").between(start, end))
        datasets = {
            "store_summaries": export._export_store_summaries_from(in_window),
            "top_products": export._export_top_products_from(
                metrics.top_products_long(in_window)
            ),
            "anomalies": export._export_anomalies_from(an_mv),
            "trends": export._export_trends_from(tr_mv),
            "recommendations": export._export_recommendations_from(re_mv),
        }
        manifest = export.write_ndjson_export(
            datasets, os.path.join(out_dir, "exports")
        )
        stats["export_datasets"] = len(manifest["datasets"])

        record_run(spark, out_dir, run_date, "succeeded", stats)
    finally:
        # a failed write can leave cancelled sibling jobs running for a
        # moment; one still running could re-cache a released frame
        _drain_jobs(spark.sparkContext)
        for df in persisted:
            df.unpersist()
    return stats


def distinct_skus_for_range(
    spark: SparkSession, out_dir: str, start: str, end: str
) -> DataFrame:
    """Range distinct-SKU estimate per store from the MATERIALIZED
    sketch layer: filter the bounded sku_sketches table to [start,
    end] and merge (operators.stats.kmv_merge_daily). The fact table
    is never read — this is the query shape that stays constant-cost
    as history grows, and the sketch partitioning means the read
    prunes to the range's partitions."""
    daily = spark.read.parquet(
        os.path.join(out_dir, "sku_sketches")
    ).withColumn("sale_date", F.col("sale_date").cast("string"))
    return kmv_merge_daily(
        daily.filter(F.col("sale_date").between(start, end))
    )


def distinct_transactions_for_range(
    spark: SparkSession, out_dir: str, start: str, end: str
) -> DataFrame:
    """Range distinct-transaction estimate per payment method from the
    MATERIALIZED HLL register layer: filter the bounded hll_registers
    table to [start, end] and register-wise max-merge
    (operators.stats.hll_merge_daily). Facts are never read; the
    partitioning prunes the read to the range."""
    daily = spark.read.parquet(
        os.path.join(out_dir, "hll_registers")
    ).withColumn("sale_date", F.col("sale_date").cast("string"))
    return hll_merge_daily(
        daily.filter(F.col("sale_date").between(start, end))
    )


def median_cents_for_range(
    spark: SparkSession, out_dir: str, start: str, end: str
) -> DataFrame:
    """Range approximate median (with its power-of-two bracket) per
    payment method from the MATERIALIZED histogram layer: filter the
    bounded cents_histograms table to [start, end] and sum-merge bins
    (operators.quality.hist_merge_daily). Facts are never read; the
    partitioning prunes the read to the range."""
    daily = spark.read.parquet(
        os.path.join(out_dir, "cents_histograms")
    ).withColumn("sale_date", F.col("sale_date").cast("string"))
    return hist_merge_daily(
        daily.filter(F.col("sale_date").between(start, end))
    )


def run_scheduled_catchup(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    dates: list[str],
    **kwargs,
) -> dict[str, dict]:
    """S10 scheduled catch-up (``eventbridge.tf:55-148``): the
    reference's 23:00 cron runs the daily analysis for "today" even if
    stores are missing, but skips dates whose run already succeeded.
    Here: run the pipeline for every given date; the ledger makes the
    already-succeeded ones no-ops, so the catch-up is idempotent and
    safe to fire on any schedule."""
    return {
        d: run_daily_pipeline(spark, sf_dir, out_dir, d, **kwargs)
        for d in dates
    }
