"""pipeline.run_daily_pipeline: materialized derived-table layer +
S10 run-ledger idempotency (``infrastructure/eventbridge.tf:81-148``).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from serverless_smurf_etl_and_analytics_spark import pipeline, tables
from serverless_smurf_etl_and_analytics_spark.operators import (
    export,
    insights,
    metrics,
    report,
)

SF_DIR = "/root/testdata/sf0.001"
RUN_DATE = "2001-06-15"


@pytest.fixture(scope="module")
def out_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pipeline_out"))
    stats = pipeline.run_daily_pipeline(
        spark, SF_DIR, d, RUN_DATE,
        export_start="2001-06-01", export_end="2001-06-30",
    )
    return d, stats


def test_pipeline_materializes_all_tables(spark, out_dir):
    d, stats = out_dir
    assert stats["skipped"] is False
    for table in ("store_daily", "company_daily", "product_daily"):
        assert stats[f"{table}_rows"] > 0
        assert os.path.isdir(os.path.join(d, table))
    assert stats["report_lines"] >= 2
    assert stats["export_datasets"] == 5
    assert os.path.exists(os.path.join(d, "exports", "manifest.json"))


# every ledger stat that counts a table's rows, and that table's path
# below the output directory
COUNTED_TABLES = {
    "store_daily_rows": ("store_daily",),
    "company_daily_rows": ("company_daily",),
    "product_daily_rows": ("product_daily",),
    "sku_sketch_rows": ("sku_sketches",),
    "hll_register_rows": ("hll_registers",),
    "cents_histogram_rows": ("cents_histograms",),
    "anomalies_rows": ("insights", "anomalies"),
    "trends_rows": ("insights", "trends"),
    "recommendations_rows": ("insights", "recommendations"),
    "report_lines": ("report",),
}


def _counts_on_disk(spark, d):
    return {
        stat: spark.read.parquet(os.path.join(d, *path)).count()
        for stat, path in COUNTED_TABLES.items()
    }


def _counted_stats(stats):
    assert {
        k for k in stats if k.endswith("_rows") or k == "report_lines"
    } == set(COUNTED_TABLES)
    return {k: stats[k] for k in COUNTED_TABLES}


def test_ledger_counts_equal_fresh_table_counts(spark, out_dir, tmp_path):
    """Law: every row count a run records equals a fresh count of that
    table on disk, after the bootstrap run and after an incremental run
    on top of it. The counts come from write observations and the
    cached store_daily, not from reading the tables back, and the
    partition-overwrite tables must still report TABLE-level rows."""
    d, boot = out_dir
    assert boot["store_daily_mode"] == "bootstrap"
    assert _counted_stats(boot) == _counts_on_disk(spark, d)

    # the incremental run works on a copy, so the shared fixture's
    # tables and ledger stay as the bootstrap left them
    inc_dir = str(tmp_path / "incremental")
    shutil.copytree(d, inc_dir)
    inc = pipeline.run_daily_pipeline(spark, SF_DIR, inc_dir, "2001-06-16")
    assert inc["store_daily_mode"] == "incremental"
    assert _counted_stats(inc) == _counts_on_disk(spark, inc_dir)


def test_failed_run_releases_cache_and_records_nothing(
    spark, out_dir, tmp_path
):
    """A run that fails part-way (here the export sink's directory is a
    regular file) raises, appends no ledger row, and leaves the
    persisted blocks as they were before the run."""
    d, _ = out_dir
    fail_dir = str(tmp_path / "failing")
    shutil.copytree(d, fail_dir)
    exports = os.path.join(fail_dir, "exports")
    shutil.rmtree(exports)
    open(exports, "w").close()
    jsc = spark.sparkContext._jsc.sc()

    def cached_rdds():
        return sorted(i.id() for i in jsc.getRDDStorageInfo())

    ledger_rows = pipeline.read_ledger(spark, fail_dir).count()
    before = cached_rdds()
    with pytest.raises(Exception, match="exports"):
        pipeline.run_daily_pipeline(
            spark, SF_DIR, fail_dir, RUN_DATE, force=True
        )
    assert cached_rdds() == before
    assert pipeline.read_ledger(spark, fail_dir).count() == ledger_rows


def test_concurrent_write_failure_drains_before_release(
    spark, out_dir, tmp_path
):
    """The three insight writes fail at once (``insights`` is a regular
    file) while the rollups and the report, submitted with them,
    succeed. The run raises, adds no ledger row, leaves no job running
    and the persisted blocks as they were, and leaves the previous
    export manifest byte for byte."""
    d, _ = out_dir
    fail_dir = str(tmp_path / "failing_insights")
    shutil.copytree(d, fail_dir)
    insights = os.path.join(fail_dir, "insights")
    shutil.rmtree(insights)
    open(insights, "w").close()
    manifest = os.path.join(fail_dir, "exports", "manifest.json")
    with open(manifest, "rb") as f:
        manifest_before = f.read()
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def cached_rdds():
        return sorted(i.id() for i in jsc.getRDDStorageInfo())

    ledger_rows = pipeline.read_ledger(spark, fail_dir).count()
    before = cached_rdds()
    with pytest.raises(Exception, match="insights"):
        pipeline.run_daily_pipeline(
            spark, SF_DIR, fail_dir, RUN_DATE, force=True
        )
    assert sc.statusTracker().getActiveJobsIds() == []
    assert cached_rdds() == before
    assert pipeline.read_ledger(spark, fail_dir).count() == ledger_rows
    with open(manifest, "rb") as f:
        assert f.read() == manifest_before


def test_writes_launch_under_the_callers_job_group(spark, out_dir, tmp_path):
    """Every job of a run, including the ones its concurrent writes
    launch from worker threads, carries the caller's job group, so
    ``cancelJobGroup`` reaches the whole run."""
    d, _ = out_dir
    inc_dir = str(tmp_path / "grouped")
    shutil.copytree(d, inc_dir)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("pipeline-test", "incremental run under a job group")
    try:
        pipeline.run_daily_pipeline(spark, SF_DIR, inc_dir, "2001-06-16")
    finally:
        sc._jsc.clearJobGroup()
    assert tracker.getJobIdsForGroup("pipeline-test")
    # the tracker keeps only the most recent jobs, so older ungrouped
    # ids may drop out; the run must add none
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_ledger_is_read_with_its_declared_schema(spark, out_dir):
    """read_ledger uses the declared schema, and the JVM-built ledger
    rows keep the parquet layout: four nullable string columns."""
    d, _ = out_dir
    led = pipeline.read_ledger(spark, d)
    assert tuple(led.columns) == pipeline.LEDGER_COLUMNS
    assert led.filter(led.run_date == RUN_DATE).count() == 1
    ledger_dir = os.path.join(d, pipeline.LEDGER_DIR)
    for f in os.listdir(ledger_dir):
        if f.endswith(".parquet"):
            schema = pq.read_schema(os.path.join(ledger_dir, f))
            assert sorted(schema.names) == sorted(pipeline.LEDGER_COLUMNS)
            assert all(
                fld.nullable and fld.type == pa.string() for fld in schema
            )


def test_company_daily_matches_direct_computation(spark, out_dir):
    d, _ = out_dir
    mv = spark.read.parquet(os.path.join(d, "company_daily"))
    txns = tables.transactions(spark, SF_DIR)
    direct = metrics.company_daily(metrics.store_day_metrics(txns))
    got = {
        r["sale_date"]: r["total_sales"]
        for r in mv.select("sale_date", "total_sales").collect()
    }
    want = {
        r["sale_date"]: r["total_sales"]
        for r in direct.select("sale_date", "total_sales").collect()
    }
    assert got == want


def test_pipeline_report_equals_fact_built_report(spark, out_dir):
    """The report the run writes, built from its cached store_daily,
    equals the report built from the facts alone (the r1 registry
    path), row for row. Built as the run builds it, from the store_daily
    table and the run's recommendations, its analyzed plan reads no
    fact relation: the run reads facts only in phase A."""
    d, _ = out_dir
    cols = ("section_rank", "line_no", "line")
    got = spark.read.parquet(os.path.join(d, "report")).select(*cols)
    txns = tables.transactions(spark, SF_DIR)
    want = report.daily_report_lines(
        metrics.store_daily_nested(
            txns.filter(txns.sale_date == RUN_DATE)
        ),
        RUN_DATE,
        insights.recommendations(txns),
    ).select(*cols)
    got_rows = sorted(got.collect())
    assert got_rows
    assert got_rows == sorted(want.collect())

    from_tables = report.daily_report_lines(
        spark.read.parquet(os.path.join(d, "store_daily")),
        RUN_DATE,
        spark.read.parquet(os.path.join(d, "insights", "recommendations")),
    )
    analyzed = from_tables._jdf.queryExecution().analyzed().toString()
    relations = [ln for ln in analyzed.splitlines() if "Relation [" in ln]
    assert relations
    assert not [r for r in relations if "l_shipdate" in r], analyzed
    files = from_tables.inputFiles()
    assert files
    assert all(d in f and SF_DIR not in f for f in files), files
    assert sorted(from_tables.select(*cols).collect()) == got_rows


def test_exports_equal_registry_builders(spark, out_dir):
    """The run's store_summaries and top_products exports equal the
    registry's x1 and x2 builders over the run's export window, in the
    reference's shape (``export-to-quicksight/lambda_function.py:
    180-248``)."""
    d, _ = out_dir
    txns = tables.transactions(spark, SF_DIR)
    builders = {
        "store_summaries": export.export_store_summaries,
        "top_products": export.export_top_products,
    }
    for name, build in builders.items():
        want = build(txns, "2001-06-01", "2001-06-30")
        got = spark.read.json(os.path.join(d, "exports", name))
        assert sorted(got.columns) == sorted(want.columns), name
        rows = sorted(want.collect())
        assert rows, name
        assert sorted(got.select(*want.columns).collect()) == rows, name


def test_product_daily_equals_a6_parity(spark, out_dir):
    """The run's product_daily, rolled up from store_daily's nested
    top-5 lists, equals a6's top-5 parity rollup of the same facts."""
    d, _ = out_dir
    want = metrics.product_daily_top5_parity(
        tables.transactions(spark, SF_DIR)
    )
    got = spark.read.parquet(os.path.join(d, "product_daily"))
    rows = sorted(want.collect())
    assert rows
    assert sorted(got.select(*want.columns).collect()) == rows


def test_rerun_is_noop(spark, out_dir):
    d, _ = out_dir
    sd = os.path.join(d, "store_daily")
    mtimes_before = {
        f: os.path.getmtime(os.path.join(root, f))
        for root, _, fs in os.walk(sd)
        for f in fs
    }
    stats2 = pipeline.run_daily_pipeline(spark, SF_DIR, d, RUN_DATE)
    assert stats2 == {"run_date": RUN_DATE, "skipped": True}
    mtimes_after = {
        f: os.path.getmtime(os.path.join(root, f))
        for root, _, fs in os.walk(sd)
        for f in fs
    }
    assert mtimes_before == mtimes_after


def test_force_rerun_executes(spark, out_dir):
    d, _ = out_dir
    stats3 = pipeline.run_daily_pipeline(
        spark, SF_DIR, d, RUN_DATE, force=True
    )
    assert stats3["skipped"] is False
    led = pipeline.read_ledger(spark, d)
    assert led.filter(led.status == "succeeded").count() == 2


def test_ledger_distinguishes_dates(spark, out_dir):
    d, _ = out_dir
    assert pipeline.already_succeeded(spark, d, RUN_DATE)
    assert not pipeline.already_succeeded(spark, d, "1999-01-01")


def test_sketch_layer_answers_range_distinct_without_facts(spark, out_dir):
    """The materialized sku_sketches layer must answer a range
    distinct-SKU query with exactly the values the direct sk2
    computation gets from the raw fact table (KMV merge law, through
    the pipeline's persisted form)."""
    from serverless_smurf_etl_and_analytics_spark.operators import stats

    d, run_stats = out_dir
    assert run_stats["sku_sketch_rows"] > 0
    assert os.path.isdir(os.path.join(d, "sku_sketches"))
    start, end = "2001-06-10", "2001-06-20"
    from_mv = {
        r["store_id"]: r
        for r in pipeline.distinct_skus_for_range(
            spark, d, start, end
        ).collect()
    }
    direct = {
        r["store_id"]: r
        for r in stats.kmv_merge_range(
            tables.transactions(spark, SF_DIR), start, end
        ).collect()
    }
    assert set(from_mv) == set(direct)
    for store in direct:
        assert from_mv[store]["kth_hash"] == direct[store]["kth_hash"]
        assert (
            from_mv[store]["est_distinct"] == direct[store]["est_distinct"]
        )
        assert (
            from_mv[store]["n_days_merged"] == direct[store]["n_days_merged"]
        )


def test_hll_register_layer_answers_range_distinct(spark, out_dir):
    """The materialized hll_registers layer must produce exactly the
    merged sketch the direct hll2 computation gets from raw facts
    (register max-merge law, through the pipeline's persisted form)."""
    from serverless_smurf_etl_and_analytics_spark.operators import stats

    d, run_stats = out_dir
    assert run_stats["hll_register_rows"] > 0
    assert os.path.isdir(os.path.join(d, "hll_registers"))
    start, end = "1995-01-01", "2001-12-31"
    from_mv = {
        r["payment_method"]: r
        for r in pipeline.distinct_transactions_for_range(
            spark, d, start, end
        ).collect()
    }
    direct = {
        r["payment_method"]: r
        for r in stats.hll_merge_range(
            tables.transactions(spark, SF_DIR), start, end
        ).collect()
    }
    assert set(from_mv) == set(direct)
    for method in direct:
        assert from_mv[method]["s_scaled"] == direct[method]["s_scaled"]
        assert from_mv[method]["est_hll"] == direct[method]["est_hll"]
        assert (
            from_mv[method]["n_days_merged"]
            == direct[method]["n_days_merged"]
        )


def test_histogram_layer_answers_range_median(spark, out_dir):
    """The materialized cents_histograms layer must produce exactly
    the merged p50 bracket the direct hist2 computation gets from raw
    facts (bin-sum merge law, through the pipeline's persisted form),
    and the bracket must contain the exact range median."""
    from serverless_smurf_etl_and_analytics_spark.operators import quality

    d, run_stats = out_dir
    assert run_stats["cents_histogram_rows"] > 0
    assert os.path.isdir(os.path.join(d, "cents_histograms"))
    start, end = "1995-01-01", "2001-12-31"
    from_mv = {
        r["payment_method"]: r
        for r in pipeline.median_cents_for_range(
            spark, d, start, end
        ).collect()
    }
    direct = {
        r["payment_method"]: r
        for r in quality.hist_merge_range(
            tables.transactions(spark, SF_DIR), start, end
        ).collect()
    }
    assert set(from_mv) == set(direct)
    for m in direct:
        for col in ("p50_bin", "p50_lo_c", "p50_hi_c", "n_lines",
                    "n_days_merged"):
            assert from_mv[m][col] == direct[m][col], (m, col)
        assert direct[m]["p50_in_bin"] == 1
