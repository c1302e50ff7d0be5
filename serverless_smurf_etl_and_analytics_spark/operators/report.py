"""Daily-report formatter (SURVEY.md §2.6 O5/O9, §2.8 string layer):
the reference's ``generate-report/lambda_function.py:51-147`` builds a
formatted text report from company metrics, payment breakdown (sorted
by amount desc, title-cased — O9, ``:83-84``), top products, and
priority-sorted recommendations (O5, ``:210-211``).

Here the report is DATA: one row per line with (section_rank, line_no,
line), so the text layer is an oracle-checkable query; rendering to a
single string (the reference's ``textwrap.fill`` presentation,
``:170-175``) is a driver-side join over the collected lines. Its one
input is a store_daily-shaped frame (plus the recommendations), as the
reference's report reads the persisted summaries: the daily pipeline
passes its cached store_daily, so the report reads no fact row.

All numbers are formatted with C-style ``format_string`` — DuckDB's
``printf`` produces byte-identical text, and every value is an exact
integer-cents-derived double, so no cross-engine rounding drift.

Payment methods are title-cased with ASCII ``translate`` tables (first
character upper-cased, the rest lower-cased), which equals the oracle's
``upper(substring(pm, 1, 1)) || lower(substring(pm, 2))`` on the closed
payment enum and on the A/N/R flags. Not ``initcap``: Spark 4.1 maps
``initcap``, ``upper`` and ``lower`` through ICU
(``spark.sql.icu.caseMappings.enabled``), and the first such call in a
process pays the ICU load (in a fresh ``local[4]`` C1-only JVM on a
4-core host, the first ``upper`` over three rows took 3.4 s and the
second 0.4 s; the first ``translate`` 0.4 s), which made the report the
longest write of the daily pipeline's phase B.
"""

from __future__ import annotations

import string

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.money import cents, dollars
from .insights import shared_insight_frames
from .metrics import company_daily, payment_breakdown, store_day_metrics


def ascii_title(c: F.Column) -> F.Column:
    """``c`` with its first character upper-cased and the rest
    lower-cased, ASCII letters only (no ICU case mapping)."""
    lower, upper = string.ascii_lowercase, string.ascii_uppercase
    return F.concat(
        F.translate(F.substr(c, F.lit(1), F.lit(1)), lower, upper),
        F.translate(F.substr(c, F.lit(2)), upper, lower),
    )


def _section(df: DataFrame, rank: int, line: F.Column, order: list) -> DataFrame:
    w = Window.partitionBy(F.lit(rank)).orderBy(*order)
    return df.select(
        F.lit(rank).cast("int").alias("section_rank"),
        F.row_number().over(w).cast("int").alias("line_no"),
        line.alias("line"),
    )


def daily_report_lines(
    store_daily: DataFrame, date: str, recs: DataFrame
) -> DataFrame:
    """The report body for one date as (section_rank, line_no, line)
    rows — header, company KPIs (+ best/worst store), payment methods
    by amount desc, and recommendations by priority rank.

    ``store_daily``: a ``metrics.store_daily_nested``-shaped frame
    covering ``date`` — the pipeline's cached store_daily, or the
    nested shape of the date's facts (r1). The header and KPIs are its
    company rollup; the payment lines sum its ``payment_breakdown`` and
    ``payment_lines`` maps per method, in integer cents, so they are
    exact. ``recs``: recommendations covering ``date`` (the pipeline
    passes its set derived from the persisted anomalies)."""
    day = store_daily.filter(F.col("sale_date") == date)

    company = company_daily(day)
    header = _section(
        company,
        1,
        F.concat(F.lit("DAILY SALES REPORT - "), F.col("sale_date")),
        [F.col("sale_date")],
    )

    kpis = _section(
        company,
        2,
        F.format_string(
            "Total sales $%.2f across %d stores; %d transactions "
            "(avg $%.2f); best store %s ($%.2f), worst store %s ($%.2f)",
            F.col("total_sales"),
            F.col("store_count"),
            F.col("total_transactions"),
            F.col("avg_transaction"),
            F.col("best_store_id"),
            F.col("best_store_sales"),
            F.col("worst_store_id"),
            F.col("worst_store_sales"),
        ),
        [F.col("sale_date")],
    )

    pay = (
        day.select(
            F.explode("payment_breakdown").alias("payment_method", "net"),
            "payment_lines",
        )
        .groupBy("payment_method")
        .agg(
            F.sum(cents(F.col("net"))).alias("net_c"),
            F.sum(F.col("payment_lines")[F.col("payment_method")]).alias(
                "line_count"
            ),
        )
        .select(
            "payment_method",
            dollars(F.col("net_c")).alias("net_amount"),
            "line_count",
        )
    )
    payments = _section(
        pay,
        3,
        F.format_string(
            "%s: $%.2f (%d lines)",
            ascii_title(F.col("payment_method")),
            F.col("net_amount"),
            F.col("line_count"),
        ),
        [F.desc("net_amount"), F.asc("payment_method")],
    )

    recs = recs.filter(F.col("sale_date") == date)
    rec_lines = _section(
        recs,
        4,
        F.format_string(
            "[%s] store %s: %s (%.1f%%)",
            F.col("priority"),
            F.col("store_id"),
            F.col("action"),
            F.col("deviation_pct"),
        ),
        [F.asc("priority_rank"), F.asc("store_id")],
    )

    return header.unionByName(kpis).unionByName(payments).unionByName(
        rec_lines
    )


def _wrap_description(
    text: str, indent: str = "   ", width: int = 70
) -> list[str]:
    """``generate-report/lambda_function.py:170-175`` verbatim
    semantics: one textwrap.fill block with a 3-space hanging indent."""
    import textwrap

    if not text:
        return []
    return [
        textwrap.fill(
            text, width=width, initial_indent=indent,
            subsequent_indent=indent,
        )
    ]


_SEVERITY_ICONS = {"critical": "[!!!]", "warning": "[!]", "info": "[i]"}
_PRIORITY_ICONS = {"high": "[HIGH]", "medium": "[MED]", "low": "[LOW]"}


def render_report(
    txns: DataFrame, date: str, expected_stores: int = 11
) -> str:
    """Driver-side presentation mirroring the reference's
    ``format_report`` layout byte-for-byte
    (``generate-report/lambda_function.py:51-147``): title + ruled
    sections, ``{:,.2f}`` money formats, title-cased payment lines
    sorted by -amount, numbered top products, and the insights
    sections with severity/priority icons
    (``:148-167``) and 3-space/width-70 wrapped descriptions
    (``:170-175``).

    The reference fills insight titles/descriptions with Bedrock
    prose; that slot is LLM-generated (non-deterministic) there, so
    here the deterministic classifier fields (§2.10) compose the text
    — the pluggable LLM UDF interface (insights.llm_classify) is where
    real model output would re-enter.

    ``expected_stores`` is the reference's hardcoded 11-store fleet in
    ``Stores Reporting: n/11``; callers pass their store-dimension
    count."""
    day = txns.filter(F.col("sale_date") == date)
    company_rows = company_daily(store_day_metrics(day)).collect()
    company = company_rows[0].asDict() if company_rows else {}

    lines = [
        "SMURF MEMORABILIA DAILY SALES REPORT",
        "=" * 40,
        f"Date: {date}",
        "",
        "COMPANY SUMMARY",
        "-" * 40,
        f"Total Sales: ${company.get('total_sales', 0):,.2f}",
        f"Transactions: {company.get('total_transactions', 0)}",
        f"Total Items: {company.get('total_items', 0)}",
        f"Stores Reporting: {company.get('store_count', 0)}"
        f"/{expected_stores}",
        f"Avg Transaction: ${company.get('avg_transaction', 0):,.2f}",
        "",
    ]

    if company:
        lines.append(
            f"Best Store: #{company['best_store_id']} "
            f"(${company['best_store_sales']:,.2f})"
        )
        lines.append(
            f"Worst Store: #{company['worst_store_id']} "
            f"(${company['worst_store_sales']:,.2f})"
        )

    payments = sorted(
        (
            (r["payment_method"], r["net_amount"])
            for r in payment_breakdown(day).collect()
        ),
        key=lambda x: -x[1],
    )
    if payments:
        lines.append("")
        lines.append("PAYMENT BREAKDOWN")
        lines.append("-" * 40)
        for method, amount in payments:
            lines.append(f"  {method.title()}: ${amount:,.2f}")

    products = (
        day.groupBy("item_sku")
        .agg(
            F.sum("quantity").alias("units_sold"),
            F.sum(F.col("line_cents") - F.col("discount_cents")).alias(
                "rev_c"
            ),
        )
        .orderBy(F.desc("rev_c"), F.asc("item_sku"))
        .limit(5)
        .collect()
    )
    if products:
        lines.append("")
        lines.append("TOP PRODUCTS")
        lines.append("-" * 40)
        for i, p in enumerate(products, 1):
            lines.append(
                f"{i}. SKU {p['item_sku']} - "
                f"{p['units_sold']} units - "
                f"${p['rev_c'] / 100.0:,.2f}"
            )

    # one chain feeds all three insight sections: daily and the anomaly
    # set are persisted for the three collects and released after them
    # (a frame some other caller had already persisted is left alone)
    frames = shared_insight_frames(txns)
    pinned = [
        f.persist(StorageLevel.MEMORY_AND_DISK)
        for f in (frames["daily"], frames["an"])
        if f.storageLevel == StorageLevel.NONE
    ]
    try:
        an, tr, recs = (
            frames[k].filter(F.col("sale_date") == date).collect()
            for k in ("an", "trends", "recs")
        )
    finally:
        for f in pinned:
            f.unpersist()
    an.sort(
        key=lambda r: (0 if r["severity"] == "critical" else 1, r["store_id"])
    )
    tr.sort(key=lambda r: (r["trend_direction"], r["store_id"]))
    recs.sort(key=lambda r: (r["priority_rank"], r["store_id"]))

    lines.append("")
    lines.append("AI INSIGHTS (Powered by Amazon Bedrock)")
    lines.append("=" * 40)
    if an:
        lines.append("")
        lines.append("ANOMALIES DETECTED")
        lines.append("-" * 40)
        for r in an[:5]:
            icon = _SEVERITY_ICONS.get(r["severity"], "[?]")
            kind = r["anomaly_type"].replace("_", " ").capitalize()
            lines.append(f"{icon} {kind} at store {r['store_id']}")
            lines.extend(
                _wrap_description(
                    f"Sales of ${r['metric_value']:,.2f} deviated "
                    f"{r['deviation_pct']:+.1f}% from the trailing "
                    f"7-day average."
                )
            )
    if tr:
        lines.append("")
        lines.append("TRENDS IDENTIFIED")
        lines.append("-" * 40)
        for r in tr[:5]:
            lines.append(
                f"-> Store {r['store_id']} sales {r['trend_direction']}"
            )
            lines.extend(
                _wrap_description(
                    f"Daily sales of ${r['metric_value']:,.2f} continue "
                    f"a {r['trend_direction']} trend against the "
                    f"3-day-earlier window."
                )
            )
    if recs:
        lines.append("")
        lines.append("RECOMMENDATIONS")
        lines.append("-" * 40)
        for i, r in enumerate(recs[:5], 1):
            icon = _PRIORITY_ICONS.get(r["priority"], "[?]")
            action = r["action"].replace("_", " ")
            lines.append(
                f"{i}. {icon} {action.capitalize()} "
                f"(store {r['store_id']})"
            )
            lines.extend(
                _wrap_description(
                    f"Priority {r['priority']}: a "
                    f"{r['deviation_pct']:+.1f}% deviation from the "
                    f"trailing average triggers '{action}'."
                )
            )
    if not an and not tr and not recs:
        lines.append("")
        lines.append("No significant insights detected for today.")

    lines.append("")
    lines.append("-" * 40)
    lines.append("Report generated by Sales Data Platform")

    return "\n".join(lines)
