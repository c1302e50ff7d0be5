"""Golden-file test for the rendered daily report (VERDICT r2 item 6):
the driver-side presentation layer must reproduce the reference's
``format_report`` layout byte-for-byte
(``generate-report/lambda_function.py:51-147``) — title + ruled
sections, ``{:,.2f}`` money formats, ``str.title()``-cased payment
lines, numbered top products, severity/priority icons, and the
3-space/width-70 ``textwrap.fill`` description wrapping (``:170-175``).
"""

from __future__ import annotations

import pathlib

from pyspark.sql import functions as F

from serverless_smurf_etl_and_analytics_spark import tables
from serverless_smurf_etl_and_analytics_spark.operators import report

SF_DIR = "/root/testdata/sf0.001"
GOLDEN = pathlib.Path(__file__).parent / "golden"


def test_rendered_report_matches_golden(spark):
    txns = tables.transactions(spark, SF_DIR)
    got = report.render_report(txns, "2001-11-04", expected_stores=10)
    want = (
        GOLDEN / "daily_report_sf0.001_2001-11-04.txt"
    ).read_text()
    assert got + "\n" == want


def test_rendered_report_structure(spark):
    """Layout invariants independent of the fixture: exact rule widths,
    the Bedrock banner, icon vocabulary, and that wrapped description
    lines carry the richer-style 3-space indent at width<=70+3."""
    txns = tables.transactions(spark, SF_DIR)
    got = report.render_report(txns, "2001-11-04", expected_stores=10)
    lines = got.split("\n")
    assert lines[0] == "SMURF MEMORABILIA DAILY SALES REPORT"
    assert lines[1] == "=" * 40
    assert "AI INSIGHTS (Powered by Amazon Bedrock)" in lines
    assert lines[-1] == "Report generated by Sales Data Platform"
    assert lines[-2] == "-" * 40
    for ln in lines:
        if ln.startswith("   "):  # wrapped description continuation
            assert len(ln) <= 73
    assert any(
        ln.startswith(("[!!!] ", "[!] ")) for ln in lines
    ), "no anomaly icon lines on an anomaly date"


def test_rendered_report_empty_insights_path(spark):
    """The first trading day has no trailing history, so no insight
    rows exist -> the reference's empty-insights sentinel line."""
    txns = tables.transactions(spark, SF_DIR)
    first = txns.agg(F.min("sale_date")).collect()[0][0]
    got = report.render_report(txns, first, expected_stores=10)
    assert "No significant insights detected for today." in got
    assert "ANOMALIES DETECTED" not in got


# Spark 4.1 maps these through ICU, whose first call in a process
# costs seconds; the report must not pay it
_ICU_CASE_FUNCTIONS = ("initcap(", "upper(", "lower(")


def _analyzed(df):
    return df._jdf.queryExecution().analyzed().toString()


def test_report_plan_has_no_icu_case_mapping(spark):
    """Neither the report over one date's facts (r1) nor the one built
    from a whole store_daily table calls initcap, upper or lower."""
    from serverless_smurf_etl_and_analytics_spark.operators import (
        insights,
        metrics,
    )

    txns = tables.transactions(spark, SF_DIR)
    day = txns.filter(F.col("sale_date") == "2001-11-04")
    recs = insights.recommendations(txns)
    for store_daily in (
        metrics.store_daily_nested(day),
        metrics.store_daily_nested(txns),
    ):
        plan = _analyzed(
            report.daily_report_lines(store_daily, "2001-11-04", recs)
        )
        for fn in _ICU_CASE_FUNCTIONS:
            assert fn not in plan, fn
        assert "translate(" in plan


def test_ascii_title_matches_duckdb(spark, duck):
    """The ASCII title-case equals the r1 oracle's
    ``upper(substring(x, 1, 1)) || lower(substring(x, 2))`` on every
    payment method and on the A/N/R flags the fixtures carry."""
    from serverless_smurf_etl_and_analytics_spark.schema import (
        PAYMENT_METHODS,
    )

    values = [*PAYMENT_METHODS, "A", "N", "R"]
    got = {
        r["x"]: r["t"]
        for r in spark.createDataFrame([(v,) for v in values], "x string")
        .select("x", report.ascii_title(F.col("x")).alias("t"))
        .collect()
    }
    want = dict(
        duck.execute(
            "SELECT x, upper(substring(x, 1, 1)) || lower(substring(x, 2))"
            " FROM unnest(?) AS t(x)",
            [values],
        ).fetchall()
    )
    assert got == want
    assert len(got) == len(values)
