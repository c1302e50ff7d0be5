"""Registry entries for the BI-export datasets (S7) and the daily
report formatter (O5/O9 string layer) — every dataset and every report
line is oracle-checked text/values, printf-formatted identically in
Spark (``format_string``) and DuckDB (``printf``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import tables
from ..operators import export, metrics, report
from ..operators.insights import recommendations
from .registry import (
    R_END,
    R_START,
    SQL_ANOMALIES,
    SQL_DAILY_CENTS,
    SQL_RECS,
    SQL_STORE_DAILY,
    SQL_TOP5,
    SQL_TRENDS_I,
    TXN,
    register,
)

REPORT_DATE = "2001-06-15"

SQL_X_SUMMARIES = f"""
x_summaries AS (
    SELECT
        sale_date AS date,
        store_id,
        concat('Store ', store_id) AS store_name,
        cast(sales_c / 100.0 AS double) AS total_sales,
        transaction_count AS transactions,
        item_count AS items_sold,
        cast(cast(round((sales_c - disc_c) * 1.0 / transaction_count)
                  AS bigint) / 100.0 AS double) AS average_transaction
    FROM store_daily
    WHERE sale_date BETWEEN '{R_START}' AND '{R_END}'
)
"""

SQL_X_TOP_PRODUCTS = f"""
x_top_products AS (
    SELECT
        sale_date AS date,
        store_id,
        rank,
        item_sku AS sku,
        concat('part-', cast(item_sku AS varchar)) AS product_name,
        units AS units_sold,
        revenue
    FROM ranked
    WHERE rank <= 5 AND sale_date BETWEEN '{R_START}' AND '{R_END}'
)
"""

SQL_X_ANOMALIES = """
x_anomalies AS (
    SELECT
        sale_date AS date,
        store_id,
        anomaly_type AS type,
        severity,
        deviation_pct,
        printf('%s %s at store %s: %.1f%% vs trailing average',
               severity, anomaly_type, store_id, deviation_pct)
            AS description
    FROM anomalies
)
"""

SQL_X_TRENDS = """
x_trends AS (
    SELECT
        sale_date AS date,
        store_id,
        trend_direction AS direction,
        metric_value AS sales,
        printf('store %s %s on %s', store_id, trend_direction, sale_date)
            AS description
    FROM trends_i
    WHERE trend_direction IN ('increasing', 'decreasing')
)
"""

SQL_X_RECS = """
x_recs AS (
    SELECT
        sale_date AS date,
        priority,
        priority_rank,
        action,
        concat('Store ', store_id) AS affected,
        printf('[%s] %s (%.1f%%)', priority, action, deviation_pct)
            AS description
    FROM recs
)
"""

register(
    "x1_export_store_summaries",
    lambda spark, sf: export.export_store_summaries(
        tables.transactions(spark, sf), R_START, R_END
    ),
    f"""
WITH {TXN}, {SQL_STORE_DAILY}, {SQL_X_SUMMARIES}
SELECT * FROM x_summaries
""",
)

register(
    "x2_export_top_products",
    lambda spark, sf: export.export_top_products(
        tables.transactions(spark, sf), R_START, R_END
    ),
    f"""
WITH {TXN}, {SQL_TOP5}, {SQL_X_TOP_PRODUCTS}
SELECT * FROM x_top_products
""",
)

register(
    "x3_export_anomalies",
    lambda spark, sf: export.export_anomalies(tables.transactions(spark, sf)),
    f"""
WITH {TXN}, {SQL_ANOMALIES}, {SQL_X_ANOMALIES}
SELECT * FROM x_anomalies
""",
)

register(
    "x4_export_trends",
    lambda spark, sf: export.export_trends(tables.transactions(spark, sf)),
    f"""
WITH {TXN}, {SQL_DAILY_CENTS}, {SQL_TRENDS_I}, {SQL_X_TRENDS}
SELECT * FROM x_trends
""",
)

register(
    "x5_export_recommendations",
    lambda spark, sf: export.export_recommendations(
        tables.transactions(spark, sf)
    ),
    f"""
WITH {TXN}, {SQL_ANOMALIES}, {SQL_RECS}, {SQL_X_RECS}
SELECT * FROM x_recs
""",
)

register(
    "x6_export_manifest",
    lambda spark, sf: export.export_manifest(
        tables.transactions(spark, sf), R_START, R_END
    ),
    # SQL_ANOMALIES already embeds SQL_DAILY_CENTS's `daily` CTE, which
    # SQL_TRENDS_I consumes — listing SQL_DAILY_CENTS again would make
    # DuckDB reject the WITH list with `Duplicate CTE name "daily"`.
    f"""
WITH {TXN}, {SQL_STORE_DAILY}, {SQL_TOP5}, {SQL_ANOMALIES},
{SQL_TRENDS_I}, {SQL_RECS},
{SQL_X_SUMMARIES}, {SQL_X_TOP_PRODUCTS}, {SQL_X_ANOMALIES},
{SQL_X_TRENDS}, {SQL_X_RECS}
SELECT 'store_summaries' AS dataset, count(*) AS row_count,
       cast(7 AS int) AS column_count FROM x_summaries
UNION ALL
SELECT 'top_products', count(*), cast(7 AS int) FROM x_top_products
UNION ALL
SELECT 'anomalies', count(*), cast(6 AS int) FROM x_anomalies
UNION ALL
SELECT 'trends', count(*), cast(5 AS int) FROM x_trends
UNION ALL
SELECT 'recommendations', count(*), cast(6 AS int) FROM x_recs
""",
)

# --- daily report (O5/O9 + §2.8 string formatting) ------------------------


register(
    "r1_daily_report_lines",
    lambda spark, sf: report.daily_report_lines(
        metrics.store_daily_nested(
            tables.transactions(spark, sf).filter(
                F.col("sale_date") == REPORT_DATE
            )
        ),
        REPORT_DATE,
        recommendations(tables.transactions(spark, sf)),
    ),
    f"""
WITH {TXN}, {SQL_ANOMALIES}, {SQL_RECS},
day AS (SELECT * FROM transactions WHERE sale_date = '{REPORT_DATE}'),
sd AS (
    SELECT
        store_id, sale_date,
        sum(line_cents) AS sales_c,
        sum(discount_cents) AS disc_c,
        count(*) AS txn_count
    FROM day GROUP BY store_id, sale_date
),
company AS (
    SELECT
        sale_date,
        cast(sum(sales_c) / 100.0 AS double) AS total_sales,
        sum(txn_count) AS total_transactions,
        count(*) AS store_count,
        cast(cast(round(sum(sales_c) * 1.0 / sum(txn_count)) AS bigint)
             / 100.0 AS double) AS avg_transaction,
        first(store_id ORDER BY sales_c DESC, store_id DESC)
            AS best_store_id,
        cast(max(sales_c) / 100.0 AS double) AS best_store_sales,
        first(store_id ORDER BY sales_c ASC, store_id ASC)
            AS worst_store_id,
        cast(min(sales_c) / 100.0 AS double) AS worst_store_sales
    FROM sd GROUP BY sale_date
),
pay AS (
    SELECT
        payment_method,
        cast((sum(line_cents) - sum(discount_cents)) / 100.0 AS double)
            AS net_amount,
        count(*) AS line_count
    FROM day GROUP BY payment_method
),
lines AS (
    SELECT cast(1 AS int) AS section_rank, cast(1 AS int) AS line_no,
           concat('DAILY SALES REPORT - ', sale_date) AS line
    FROM company
    UNION ALL
    SELECT cast(2 AS int), cast(1 AS int),
           printf('Total sales $%.2f across %d stores; %d transactions (avg $%.2f); best store %s ($%.2f), worst store %s ($%.2f)',
                  total_sales, cast(store_count AS bigint),
                  cast(total_transactions AS bigint),
                  avg_transaction, best_store_id, best_store_sales,
                  worst_store_id, worst_store_sales)
    FROM company
    UNION ALL
    SELECT cast(3 AS int),
           cast(row_number() OVER (
               ORDER BY net_amount DESC, payment_method ASC) AS int),
           printf('%s: $%.2f (%d lines)',
                  concat(upper(substring(payment_method, 1, 1)),
                         lower(substring(payment_method, 2))),
                  net_amount, cast(line_count AS bigint))
    FROM pay
    UNION ALL
    SELECT cast(4 AS int),
           cast(row_number() OVER (
               ORDER BY priority_rank ASC, store_id ASC) AS int),
           printf('[%s] store %s: %s (%.1f%%)',
                  priority, store_id, action, deviation_pct)
    FROM recs WHERE sale_date = '{REPORT_DATE}'
)
SELECT section_rank, line_no, line FROM lines
""",
)
