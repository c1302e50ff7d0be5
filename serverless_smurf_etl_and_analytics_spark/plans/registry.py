"""The query registry: one entry per implemented operator from
SURVEY.md §2, each with a Spark plan and (where SQL-expressible) a
DuckDB oracle over the same parquet tables.

Contract (``/root/repo/__spark_entry__.py``): the driver runs each
Spark query and its oracle side-by-side at sf=0.01 and compares
row-count + schema + order-insensitive value hash, with columns sorted
by name. Hence every computed column is aliased identically on both
sides, and all float math follows functions.money's determinism rules
(aggregate integers, round only at integer scale).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .. import tables
from ..operators import history, metrics
from . import shared

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, sql: str | None = None) -> None:
    # every registry query runs behind the shared MV layer: warming
    # persists the store-day base plans once per (session, sf) so
    # logically-equal subtrees across queries read ONE materialization
    # (plans/shared.py; lazy — non-consumers pay nothing).
    def warmed(spark: SparkSession, sf: str, _fn: QueryFn = fn) -> DataFrame:
        shared.warm_store_day_layer(spark, sf)
        return _fn(spark, sf)

    QUERIES[name] = warmed
    if sql is not None:
        ORACLES[name] = sql


TXN = tables.TRANSACTIONS_CTE

# SQL building blocks shared by several oracles (kept textually aligned
# with the Spark operators in operators/metrics.py).
SQL_STORE_DAILY = """
store_daily AS (
    SELECT
        store_id,
        sale_date,
        sum(line_cents)                AS sales_c,
        sum(discount_cents)            AS disc_c,
        count(*)                       AS transaction_count,
        cast(count(DISTINCT transaction_id) AS bigint)
                                       AS distinct_transactions,
        cast(sum(quantity) AS bigint)  AS item_count
    FROM transactions
    GROUP BY store_id, sale_date
)
"""

SQL_PRODUCT_DAY = """
product_day AS (
    SELECT
        store_id,
        sale_date,
        item_sku,
        cast(sum(quantity) AS bigint)        AS units,
        sum(line_cents) - sum(discount_cents) AS revenue_cents
    FROM transactions
    GROUP BY store_id, sale_date, item_sku
)
"""

SQL_TOP5 = (
    SQL_PRODUCT_DAY
    + """,
ranked AS (
    SELECT
        store_id, sale_date, item_sku, units,
        cast(revenue_cents / 100.0 AS double) AS revenue,
        cast(row_number() OVER (
            PARTITION BY store_id, sale_date
            ORDER BY revenue_cents DESC, item_sku ASC) AS int) AS rank
    FROM product_day
)
"""
)

# --------------------------------------------------------------------------
# A1 — store-day grand totals (calculate-metrics/lambda_function.py:124-184)
register(
    "a1_store_day_metrics",
    lambda spark, sf: metrics.store_day_metrics(tables.transactions(spark, sf)),
    f"""
WITH {TXN}, {SQL_STORE_DAILY}
SELECT
    store_id,
    sale_date,
    cast(sales_c / 100.0 AS double)            AS total_sales,
    cast(disc_c / 100.0 AS double)             AS total_discount,
    cast((sales_c - disc_c) / 100.0 AS double) AS net_sales,
    transaction_count,
    distinct_transactions,
    item_count,
    cast(cast(round((sales_c - disc_c) * 1.0 / transaction_count) AS bigint)
         / 100.0 AS double)                    AS avg_transaction
FROM store_daily
""",
)

# A2 — payment-method breakdown (calculate-metrics:128,143)
register(
    "a2_payment_breakdown",
    lambda spark, sf: metrics.payment_breakdown(tables.transactions(spark, sf)),
    f"""
WITH {TXN}
SELECT
    payment_method,
    cast((sum(line_cents) - sum(discount_cents)) / 100.0 AS double)
        AS net_amount,
    count(*) AS line_count
FROM transactions
GROUP BY payment_method
""",
)

# A2 at store-day grain (serving pivots this to the payment_breakdown map)
register(
    "a2_payment_per_store_day",
    lambda spark, sf: metrics.payment_breakdown_per_store_day(
        tables.transactions(spark, sf)
    ).drop("line_count"),
    f"""
WITH {TXN}
SELECT
    store_id,
    sale_date,
    payment_method,
    cast((sum(line_cents) - sum(discount_cents)) / 100.0 AS double)
        AS net_amount
FROM transactions
GROUP BY store_id, sale_date, payment_method
""",
)

# A3/O1 — top-5 products per store-day (calculate-metrics:155-167)
register(
    "a3_top5_products_store_day",
    lambda spark, sf: metrics.top_products_per_store_day(
        tables.transactions(spark, sf), 5
    ),
    f"""
WITH {TXN}, {SQL_TOP5}
SELECT store_id, sale_date, item_sku, units, revenue, rank
FROM ranked WHERE rank <= 5
""",
)

# Nested store_daily serving shape (write-metrics/lambda_function.py:
# 77-104): A1 totals + top_products list + payment_breakdown map. The
# registered form serializes the nested columns to deterministic
# strings (sorted entry lists) so the oracle hash covers their VALUES;
# it is a string projection of metrics.store_daily_nested, the
# truly-nested (array<struct> + map) table used by entry() and the
# pipeline materialization.
register(
    "sd_nested_store_daily",
    lambda spark, sf: metrics.store_daily_nested_flat(
        tables.transactions(spark, sf), 5
    ),
    f"""
WITH {TXN}, {SQL_STORE_DAILY}, {SQL_TOP5},
top_s AS (
    SELECT
        store_id, sale_date,
        string_agg(
            printf('%d:%s:%d:%.2f', rank, cast(item_sku AS varchar),
                   units, revenue),
            ';'
            ORDER BY printf('%d:%s:%d:%.2f', rank,
                            cast(item_sku AS varchar), units, revenue)
        ) AS top_products_str
    FROM ranked
    WHERE rank <= 5
    GROUP BY store_id, sale_date
),
pay AS (
    SELECT
        store_id, sale_date, payment_method,
        cast((sum(line_cents) - sum(discount_cents)) / 100.0 AS double)
            AS net_amount
    FROM transactions
    GROUP BY store_id, sale_date, payment_method
),
pay_s AS (
    SELECT
        store_id, sale_date,
        string_agg(
            printf('%s=%.2f', payment_method, net_amount), ','
            ORDER BY printf('%s=%.2f', payment_method, net_amount)
        ) AS payment_breakdown_str
    FROM pay
    GROUP BY store_id, sale_date
)
SELECT
    d.store_id,
    d.sale_date,
    cast(d.sales_c / 100.0 AS double)            AS total_sales,
    cast(d.disc_c / 100.0 AS double)             AS total_discount,
    cast((d.sales_c - d.disc_c) / 100.0 AS double) AS net_sales,
    d.transaction_count,
    d.distinct_transactions,
    d.item_count,
    cast(cast(round((d.sales_c - d.disc_c) * 1.0 / d.transaction_count)
              AS bigint) / 100.0 AS double)      AS avg_transaction,
    t.top_products_str,
    p.payment_breakdown_str
FROM store_daily d
LEFT JOIN top_s t ON t.store_id = d.store_id AND t.sale_date = d.sale_date
LEFT JOIN pay_s p ON p.store_id = d.store_id AND p.sale_date = d.sale_date
""",
)

# A4 payment-map re-agg — explode(map) -> groupBy -> rebuilt map
# (calc-company-metrics/lambda_function.py:88-95), serialized sorted
register(
    "a4_payment_map_rollup",
    lambda spark, sf: metrics.company_payment_map(
        tables.transactions(spark, sf)
    ),
    f"""
WITH {TXN},
pm AS (
    SELECT
        sale_date, payment_method,
        cast(sum(cast(round(
            cast((sum2.sales_c - sum2.disc_c) / 100.0 AS double) * 100)
            AS bigint)) AS bigint) AS net_c
    FROM (
        SELECT store_id, sale_date, payment_method,
               sum(line_cents) AS sales_c, sum(discount_cents) AS disc_c
        FROM transactions
        GROUP BY store_id, sale_date, payment_method
    ) sum2
    GROUP BY sale_date, payment_method
)
SELECT
    sale_date,
    string_agg(
        printf('%s=%.2f', payment_method, cast(net_c / 100.0 AS double)),
        ','
        ORDER BY printf('%s=%.2f', payment_method,
                        cast(net_c / 100.0 AS double))
    ) AS payment_breakdown_str,
    cast(count(DISTINCT payment_method) AS bigint) AS methods,
    cast(sum(net_c) / 100.0 AS double) AS total_net
FROM pm
GROUP BY sale_date
""",
)

# A4+A5 — company daily rollup with best/worst store
# (calc-company-metrics/lambda_function.py:76-113)
register(
    "a4_company_daily",
    lambda spark, sf: metrics.company_daily(
        metrics.store_day_metrics(tables.transactions(spark, sf))
    ),
    f"""
WITH {TXN}, {SQL_STORE_DAILY}
SELECT
    sale_date,
    cast(sum(sales_c) / 100.0 AS double)        AS total_sales,
    cast(sum(transaction_count) AS bigint)      AS total_transactions,
    cast(sum(item_count) AS bigint)             AS total_items,
    count(*)                                    AS store_count,
    cast(cast(round(sum(sales_c) * 1.0 / sum(transaction_count)) AS bigint)
         / 100.0 AS double)                     AS avg_transaction,
    cast(cast(round(sum(sales_c) * 1.0 / count(*)) AS bigint)
         / 100.0 AS double)                     AS avg_store_sales,
    first(store_id ORDER BY sales_c DESC, store_id DESC) AS best_store_id,
    cast(max(sales_c) / 100.0 AS double)        AS best_store_sales,
    first(store_id ORDER BY sales_c ASC, store_id ASC)   AS worst_store_id,
    cast(min(sales_c) / 100.0 AS double)        AS worst_store_sales,
    string_agg(store_id, ',' ORDER BY store_id) AS stores_reported
FROM store_daily
GROUP BY sale_date
""",
)

# A6 exact mode — per-(day, sku) cross-store rollup from the fact table
register(
    "a6_product_daily_exact",
    lambda spark, sf: metrics.product_daily_exact(tables.transactions(spark, sf)),
    f"""
WITH {TXN}
SELECT
    sale_date,
    item_sku,
    cast(sum(quantity) AS bigint) AS units_sold,
    cast((sum(line_cents) - sum(discount_cents)) / 100.0 AS double)
        AS revenue,
    cast(count(DISTINCT store_id) AS bigint) AS store_count,
    string_agg(DISTINCT store_id, ',' ORDER BY store_id) AS stores_sold_at
FROM transactions
GROUP BY sale_date, item_sku
""",
)

# A6 parity mode — rollup of each store's top-5 list only (intentionally
# lossy, bug-for-bug with calc-product-metrics:79-103)
register(
    "a6_product_daily_top5_parity",
    lambda spark, sf: metrics.product_daily_top5_parity(
        tables.transactions(spark, sf), 5
    ),
    f"""
WITH {TXN}, {SQL_TOP5}
SELECT
    sale_date,
    item_sku,
    cast(sum(units) AS bigint) AS units_sold,
    cast(sum(cast(round(revenue * 100) AS bigint)) / 100.0 AS double)
        AS revenue,
    cast(count(DISTINCT store_id) AS bigint) AS store_count,
    string_agg(DISTINCT store_id, ',' ORDER BY store_id) AS stores_sold_at
FROM ranked
WHERE rank <= 5
GROUP BY sale_date, item_sku
""",
)

# --------------------------------------------------------------------------
# Window / history layer (SURVEY §2.4 A7-A13, §2.5). Fixed literal ranges
# anchor the range-parametrized operators; the testdata spans
# 1995-01-02..2001-11-04 at every sf.
R_START, R_END = "2001-06-01", "2001-06-30"
W_START, W_END = "2001-06-23", "2001-06-29"

SQL_DAILY_CENTS = """
daily AS (
    SELECT
        store_id,
        sale_date,
        sum(line_cents) AS sales_c,
        count(*)        AS txn_count
    FROM transactions
    GROUP BY store_id, sale_date
)
"""

SQL_W7 = """
win AS (
    SELECT
        store_id, sale_date, sales_c, txn_count,
        sum(sales_c)   OVER w7 AS hist_sales_c,
        count(*)       OVER w7 AS hist_days,
        sum(txn_count) OVER w7 AS hist_txns
    FROM daily
    WINDOW w7 AS (PARTITION BY store_id ORDER BY sale_date
                  ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
"""

# A7 — trailing 7-present-day averages per store, >=3-day gate
register(
    "a7_trailing_7day",
    lambda spark, sf: history.trailing_7day(tables.transactions(spark, sf)),
    f"""
WITH {TXN}, {SQL_DAILY_CENTS}, {SQL_W7}
SELECT
    store_id,
    sale_date,
    cast(sales_c / 100.0 AS double) AS today_sales,
    txn_count                       AS today_txns,
    hist_days,
    cast(cast(round(hist_sales_c * 1.0 / hist_days) AS bigint) / 100.0
         AS double)                 AS hist_avg_sales,
    cast(cast(round(hist_txns * 10.0 / hist_days) AS bigint) / 10.0
         AS double)                 AS hist_avg_txns
FROM win
WHERE hist_days >= 3
""",
)

# A10 (+J2/J6) — percent deviation vs trailing average
register(
    "a10_deviation_vs_trailing",
    lambda spark, sf: history.deviation_vs_trailing(tables.transactions(spark, sf)),
    f"""
WITH {TXN}, {SQL_DAILY_CENTS}, {SQL_W7}
SELECT
    store_id,
    sale_date,
    cast(sales_c / 100.0 AS double) AS today_sales,
    cast(cast(round(hist_sales_c * 1.0 / hist_days) AS bigint) / 100.0
         AS double)                 AS hist_avg_sales,
    hist_days,
    CASE WHEN hist_sales_c > 0 THEN
        cast(cast(round(((sales_c - hist_sales_c * 1.0 / hist_days)
                         / (hist_sales_c * 1.0 / hist_days) * 100.0) * 10.0)
                  AS bigint) / 10.0 AS double)
    END AS deviation_pct
FROM win
WHERE hist_days >= 3
""",
)

# A11 — ±5% trend: last-2 present days vs days -7..-3
register(
    "a11_trend_recent_vs_earlier",
    lambda spark, sf: history.trend_recent_vs_earlier(
        tables.transactions(spark, sf)
    ),
    f"""
WITH {TXN}, {SQL_DAILY_CENTS},
win AS (
    SELECT
        store_id, sale_date, sales_c,
        sum(sales_c) OVER w2 AS recent_sales_c,
        count(*)     OVER w2 AS recent_days,
        sum(sales_c) OVER w5 AS earlier_sales_c,
        count(*)     OVER w5 AS earlier_days,
        count(*)     OVER w7 AS hist_days
    FROM daily
    WINDOW
        w2 AS (PARTITION BY store_id ORDER BY sale_date
               ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING),
        w5 AS (PARTITION BY store_id ORDER BY sale_date
               ROWS BETWEEN 7 PRECEDING AND 3 PRECEDING),
        w7 AS (PARTITION BY store_id ORDER BY sale_date
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT
    store_id,
    sale_date,
    cast(sales_c / 100.0 AS double) AS today_sales,
    hist_days,
    CASE
        WHEN hist_days < 2 THEN 'insufficient_data'
        WHEN earlier_days = 0 THEN 'stable'
        WHEN (recent_sales_c * 1.0 / recent_days)
             / (earlier_sales_c * 1.0 / earlier_days) > 1.05
            THEN 'increasing'
        WHEN (recent_sales_c * 1.0 / recent_days)
             / (earlier_sales_c * 1.0 / earlier_days) < 0.95
            THEN 'decreasing'
        ELSE 'stable'
    END AS trend_direction
FROM win
""",
)

# A12 — ±10% half-vs-half trend over nonzero days in a range
register(
    "a12_trend_half_vs_half",
    lambda spark, sf: history.trend_half_vs_half(
        tables.transactions(spark, sf), R_START, R_END
    ),
    f"""
WITH {TXN}, {SQL_DAILY_CENTS},
f AS (
    SELECT * FROM daily
    WHERE sale_date BETWEEN '{R_START}' AND '{R_END}' AND sales_c > 0
),
r AS (
    SELECT
        store_id, sale_date, sales_c,
        row_number() OVER (PARTITION BY store_id ORDER BY sale_date) AS rn,
        count(*)     OVER (PARTITION BY store_id)                    AS n
    FROM f
),
h AS (
    SELECT
        store_id,
        max(n) AS n,
        cast(floor(max(n) / 2) AS bigint) AS mid,
        sum(CASE WHEN rn <= cast(floor(n / 2) AS bigint)
                 THEN sales_c END) AS first_c,
        sum(CASE WHEN rn >  cast(floor(n / 2) AS bigint)
                 THEN sales_c END) AS second_c
    FROM r
    GROUP BY store_id
)
SELECT
    store_id,
    n AS days_with_sales,
    CASE
        WHEN n < 2 OR mid = 0 THEN 'insufficient_data'
        WHEN (second_c * 1.0 / (n - mid)) / (first_c * 1.0 / mid) > 1.1
            THEN 'increasing'
        WHEN (second_c * 1.0 / (n - mid)) / (first_c * 1.0 / mid) < 0.9
            THEN 'decreasing'
        ELSE 'stable'
    END AS trend_direction,
    CASE WHEN mid > 0 AND first_c > 0 THEN
        cast(cast(round((second_c * 1.0 / (n - mid) - first_c * 1.0 / mid)
                        / (first_c * 1.0 / mid) * 1000.0) AS bigint) / 10.0
             AS double)
    END AS trend_percent
FROM h
""",
)

# A13 — first-vs-last trend per store over a range
register(
    "a13_trend_first_vs_last",
    lambda spark, sf: history.trend_first_vs_last(
        tables.transactions(spark, sf), R_START, R_END
    ),
    f"""
WITH {TXN}, {SQL_DAILY_CENTS}
SELECT
    store_id,
    cast(arg_min(sales_c, sale_date) / 100.0 AS double) AS first_sales,
    cast(arg_max(sales_c, sale_date) / 100.0 AS double) AS last_sales,
    min(sale_date) AS first_date,
    max(sale_date) AS last_date,
    count(*)       AS days,
    CASE WHEN arg_min(sales_c, sale_date) > 0 THEN
        cast(cast(round((arg_max(sales_c, sale_date)
                         - arg_min(sales_c, sale_date))
                        * 1.0 / arg_min(sales_c, sale_date) * 100.0 * 10.0)
                  AS bigint) / 10.0 AS double)
    END AS trend_percent
FROM daily
WHERE sale_date BETWEEN '{R_START}' AND '{R_END}'
GROUP BY store_id
""",
)

# A8 — trailing company re-aggregation (replaces the 7-query loop)
register(
    "a8_company_trailing",
    lambda spark, sf: history.company_trailing(
        tables.transactions(spark, sf), W_START, W_END
    ),
    f"""
WITH {TXN}
SELECT
    sale_date,
    cast(sum(line_cents) / 100.0 AS double) AS total_sales,
    count(*)                                AS total_transactions,
    cast(sum(quantity) AS bigint)           AS total_items,
    cast(cast(round(sum(line_cents) * 1.0 / count(*)) AS bigint) / 100.0
         AS double)                         AS avg_transaction
FROM transactions
WHERE sale_date BETWEEN '{W_START}' AND '{W_END}'
GROUP BY sale_date
""",
)

# A9 — trailing per-product history
register(
    "a9_product_trailing",
    lambda spark, sf: history.product_trailing(
        tables.transactions(spark, sf), W_START, W_END
    ),
    f"""
WITH {TXN}
SELECT
    item_sku,
    sale_date,
    cast(sum(quantity) AS bigint) AS units,
    cast((sum(line_cents) - sum(discount_cents)) / 100.0 AS double)
        AS revenue
FROM transactions
WHERE sale_date BETWEEN '{W_START}' AND '{W_END}'
GROUP BY item_sku, sale_date
""",
)

# A16/O7 — per-product range stats, top-15 by revenue
register(
    "a16_product_range_stats",
    lambda spark, sf: history.product_range_stats(
        tables.transactions(spark, sf), R_START, R_END, 15
    ),
    f"""
WITH {TXN},
g AS (
    SELECT
        item_sku,
        cast(sum(quantity) AS bigint)                   AS total_units,
        sum(line_cents) - sum(discount_cents)           AS rev_c,
        cast(count(DISTINCT sale_date) AS bigint)       AS days_sold
    FROM transactions
    WHERE sale_date BETWEEN '{R_START}' AND '{R_END}'
    GROUP BY item_sku
),
ranked AS (
    SELECT
        item_sku,
        total_units,
        cast(rev_c / 100.0 AS double) AS total_revenue,
        days_sold,
        cast(cast(round(total_units * 10.0 / days_sold) AS bigint) / 10.0
             AS double) AS avg_daily_units,
        cast(cast(round(rev_c * 1.0 / days_sold) AS bigint) / 100.0
             AS double) AS avg_daily_revenue,
        cast(row_number() OVER (ORDER BY rev_c DESC, item_sku ASC) AS int)
            AS rank
    FROM g
)
SELECT item_sku, total_units, total_revenue, days_sold,
       avg_daily_units, avg_daily_revenue, rank
FROM ranked WHERE rank <= 15
""",
)

# --------------------------------------------------------------------------
# Joins (J1/J3/J5), serving layer (A14-A18), predicates (P1-P6), set ops,
# scalar sampler, and event-window batch equivalents (§2.9).
from ..operators import events as ev  # noqa: E402
from ..operators import joins, serving  # noqa: E402

# J1 — anti-join completeness: expected stores with no data in range
register(
    "j1_missing_stores_anti",
    lambda spark, sf: joins.missing_stores(
        tables.transactions(spark, sf),
        joins.expected_stores(spark, sf),
        W_START,
        W_END,
    ),
    f"""
WITH {TXN},
expected AS (
    SELECT lpad(cast(s_suppkey AS varchar), 4, '0') AS store_id,
           s_name AS store_name
    FROM supplier
)
SELECT store_id, store_name
FROM expected e
WHERE NOT EXISTS (
    SELECT 1 FROM transactions t
    WHERE t.store_id = e.store_id
      AND t.sale_date BETWEEN '{W_START}' AND '{W_END}'
)
""",
)

# J3 — broadcast dimension join: revenue by brand
register(
    "j3_brand_revenue",
    lambda spark, sf: joins.brand_revenue(
        tables.transactions(spark, sf), tables.load(spark, sf, "part")
    ),
    f"""
WITH {TXN}
SELECT
    p.p_brand,
    cast(sum(t.quantity) AS bigint) AS units,
    cast((sum(t.line_cents) - sum(t.discount_cents)) / 100.0 AS double)
        AS revenue,
    cast(count(DISTINCT t.item_sku) AS bigint) AS sku_count
FROM transactions t
JOIN part p ON p.p_partkey = t.item_sku
GROUP BY p.p_brand
""",
)

# J5 — dense (date x store) grid with zero-fill (long form)
register(
    "j5_dense_date_store_grid",
    lambda spark, sf: joins.dense_date_store_grid(
        tables.transactions(spark, sf),
        joins.expected_stores(spark, sf),
        W_START,
        W_END,
    ),
    f"""
WITH {TXN}, {SQL_DAILY_CENTS},
dates AS (
    SELECT strftime(cast(generate_series AS date), '%Y-%m-%d') AS sale_date
    FROM generate_series(DATE '{W_START}', DATE '{W_END}', INTERVAL 1 day)
),
stores AS (
    SELECT lpad(cast(s_suppkey AS varchar), 4, '0') AS store_id FROM supplier
)
SELECT
    d.sale_date,
    s.store_id,
    cast(coalesce(f.sales_c, 0) / 100.0 AS double) AS sales
FROM dates d
CROSS JOIN stores s
LEFT JOIN daily f
  ON f.sale_date = d.sale_date AND f.store_id = s.store_id
""",
)

# J5 wide form — one column per store (get-trends:285-304). The Spark
# side pins its pivot columns from the store dimension and the oracle
# runs DuckDB's dynamic PIVOT over the identical dense grid — both
# column sets are pure functions of the same dimension table, so the
# driver's sorted-columns compare hash-checks the full wide matrix
# (previously the registry's one oracle-less query).
register(
    "j5_wide_pivot_timeseries",
    lambda spark, sf: joins.pivot_timeseries(
        tables.transactions(spark, sf),
        joins.expected_stores(spark, sf),
        W_START,
        W_END,
    ),
    f"""
WITH {TXN}, {SQL_DAILY_CENTS},
dates AS (
    SELECT strftime(cast(generate_series AS date), '%Y-%m-%d') AS sale_date
    FROM generate_series(DATE '{W_START}', DATE '{W_END}', INTERVAL 1 day)
),
stores AS (
    SELECT lpad(cast(s_suppkey AS varchar), 4, '0') AS store_id FROM supplier
),
grid AS (
    SELECT
        d.sale_date,
        s.store_id,
        cast(coalesce(f.sales_c, 0) / 100.0 AS double) AS sales
    FROM dates d
    CROSS JOIN stores s
    LEFT JOIN daily f
      ON f.sale_date = d.sale_date AND f.store_id = s.store_id
)
SELECT * FROM (PIVOT grid ON store_id USING first(sales) GROUP BY sale_date)
""",
)

# J5 wide form, serialized twin — the same grid with the per-store
# columns folded into one sorted 'store=value' string, so the schema is
# fixed and the VALUES of the dynamic pivot get a full rows+schema+hash
# CORRECTNESS row (the true wide form above stays Spark-only).
register(
    "j5_wide_serialized",
    lambda spark, sf: joins.pivot_timeseries_serialized(
        tables.transactions(spark, sf),
        joins.expected_stores(spark, sf),
        W_START,
        W_END,
    ),
    f"""
WITH {TXN}, {SQL_DAILY_CENTS},
dates AS (
    SELECT strftime(cast(generate_series AS date), '%Y-%m-%d') AS sale_date
    FROM generate_series(DATE '{W_START}', DATE '{W_END}', INTERVAL 1 day)
),
stores AS (
    SELECT lpad(cast(s_suppkey AS varchar), 4, '0') AS store_id FROM supplier
),
grid AS (
    SELECT
        d.sale_date,
        s.store_id,
        cast(coalesce(f.sales_c, 0) / 100.0 AS double) AS sales
    FROM dates d
    CROSS JOIN stores s
    LEFT JOIN daily f
      ON f.sale_date = d.sale_date AND f.store_id = s.store_id
)
SELECT
    sale_date,
    string_agg(
        printf('%s=%.2f', store_id, sales), ','
        ORDER BY printf('%s=%.2f', store_id, sales)
    ) AS series
FROM grid
GROUP BY sale_date
""",
)

# J-extension — customer revenue rollup via order -> customer chain
register(
    "j6_top_customers",
    lambda spark, sf: joins.top_customers(
        tables.transactions(spark, sf),
        tables.load(spark, sf, "orders"),
        tables.load(spark, sf, "customer"),
        20,
    ),
    f"""
WITH {TXN},
g AS (
    SELECT
        o.o_custkey AS cust_id,
        c.c_name    AS customer_name,
        c.c_mktsegment AS segment,
        sum(t.line_cents) - sum(t.discount_cents) AS rev_c,
        count(*) AS line_count,
        cast(count(DISTINCT t.transaction_id) AS bigint) AS order_count
    FROM transactions t
    JOIN orders o ON o.o_orderkey = t.transaction_id
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY o.o_custkey, c.c_name, c.c_mktsegment
)
SELECT
    cust_id, customer_name, segment,
    cast(rev_c / 100.0 AS double) AS revenue,
    line_count, order_count
FROM g
ORDER BY rev_c DESC, cust_id ASC
LIMIT 20
""",
)

# J-extension — store geography rollup via supplier -> nation -> region
register(
    "j7_store_region_rollup",
    lambda spark, sf: joins.store_region_rollup(
        tables.transactions(spark, sf),
        tables.load(spark, sf, "supplier"),
        tables.load(spark, sf, "nation"),
        tables.load(spark, sf, "region"),
    ),
    f"""
WITH {TXN}, {SQL_DAILY_CENTS}
SELECT
    r.r_name AS region_name,
    n.n_name AS nation_name,
    cast(sum(d.sales_c) / 100.0 AS double) AS total_sales,
    cast(count(DISTINCT d.store_id) AS bigint) AS store_count,
    cast(count(DISTINCT d.sale_date) AS bigint) AS days
FROM daily d
JOIN supplier s
  ON lpad(cast(s.s_suppkey AS varchar), 4, '0') = d.store_id
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY r.r_name, n.n_name
""",
)

# A14 — serving KPI re-aggregation with fixed payment columns
register(
    "a14_kpi_for_range",
    lambda spark, sf: serving.kpi_for_range(
        tables.transactions(spark, sf), R_START, R_END
    ),
    f"""
WITH {TXN},
f AS (SELECT * FROM transactions
      WHERE sale_date BETWEEN '{R_START}' AND '{R_END}')
SELECT
    cast(sum(line_cents) / 100.0 AS double) AS total_sales,
    count(*)                                AS total_transactions,
    cast(sum(quantity) AS bigint)           AS total_items,
    cast(count(DISTINCT store_id) AS bigint) AS stores_reporting,
    cast(cast(round(sum(line_cents) * 1.0 / count(*)) AS bigint) / 100.0
         AS double)                         AS avg_transaction,
    cast(sum(CASE WHEN payment_method = 'A'
                  THEN line_cents - discount_cents ELSE 0 END) / 100.0
         AS double)                         AS payment_a,
    cast(sum(CASE WHEN payment_method = 'N'
                  THEN line_cents - discount_cents ELSE 0 END) / 100.0
         AS double)                         AS payment_n,
    cast(sum(CASE WHEN payment_method = 'R'
                  THEN line_cents - discount_cents ELSE 0 END) / 100.0
         AS double)                         AS payment_r
FROM f
""",
)

# A15 — cross-store top-10 re-agg from top-5 lists, single date
register(
    "a15_top_products_reagg",
    lambda spark, sf: serving.top_products_reagg(
        tables.transactions(spark, sf), "2001-06-15", 10
    ),
    f"""
WITH {TXN}, {SQL_TOP5},
day5 AS (
    SELECT * FROM ranked
    WHERE rank <= 5 AND sale_date = '2001-06-15'
),
g AS (
    SELECT
        item_sku,
        cast(sum(units) AS bigint) AS units,
        sum(cast(round(revenue * 100) AS bigint)) AS rev_c,
        cast(count(DISTINCT store_id) AS bigint) AS store_count
    FROM day5
    GROUP BY item_sku
)
SELECT
    item_sku, units,
    cast(rev_c / 100.0 AS double) AS revenue,
    store_count,
    cast(row_number() OVER (ORDER BY rev_c DESC, item_sku ASC) AS int)
        AS rank
FROM g
QUALIFY rank <= 10
""",
)

# A17 — distinct-date discovery
register(
    "a17_distinct_dates",
    lambda spark, sf: serving.distinct_dates(tables.transactions(spark, sf)),
    f"""
WITH {TXN}
SELECT DISTINCT sale_date FROM transactions
""",
)

# A18 + O5 + JSON scalar — event-type summary with priority ladder
register(
    "a18_event_type_summary",
    lambda spark, sf: ev.event_type_summary(tables.load_events(spark, sf)),
    """
SELECT
    event_type,
    count(*) AS event_count,
    cast(sum(cast(round(value * 100) AS bigint)) / 100.0 AS double)
        AS total_value,
    cast(count(DISTINCT user_id) AS bigint) AS distinct_users,
    cast(sum(cast(json_extract_string(props, '$.k') AS bigint)) AS bigint)
        AS k_sum,
    cast(CASE event_type
        WHEN 'error' THEN 1 WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
        WHEN 'click' THEN 4 ELSE 5 END AS int) AS priority_rank
FROM events
GROUP BY event_type
""",
)

# P1 — serving-shape projection/rename/cast over store_daily
register(
    "p1_store_summary_projection",
    lambda spark, sf: serving.store_summary_projection(
        metrics.store_day_metrics(tables.transactions(spark, sf))
    ),
    f"""
WITH {TXN}, {SQL_STORE_DAILY}
SELECT
    store_id  AS store,
    sale_date AS business_date,
    cast(sales_c / 100.0 AS double) AS sales,
    transaction_count AS transactions,
    item_count        AS items,
    cast(cast(round((sales_c - disc_c) * 1.0 / transaction_count) AS bigint)
         / 100.0 AS double) AS avg_ticket
FROM store_daily
""",
)

# P2 — prefix predicate on the composite-key-style store id
register(
    "p2_prefix_filter",
    lambda spark, sf: serving.prefix_filter(tables.transactions(spark, sf), "000"),
    f"""
WITH {TXN}
SELECT store_id, count(*) AS line_count
FROM transactions
WHERE store_id LIKE '000%'
GROUP BY store_id
""",
)

# P3 — point lookup on (store, date): the partition-pruning path
register(
    "p3_point_lookup",
    lambda spark, sf: serving.point_lookup(
        tables.transactions(spark, sf), "0006", "2001-06-19"
    ),
    f"""
WITH {TXN}
SELECT transaction_id, item_sku, quantity, line_total, payment_method
FROM transactions
WHERE store_id = '0006' AND sale_date = '2001-06-19'
""",
)

# P4 — single range-filtered scan (replaces per-date query loops)
register(
    "p4_range_filter_daily",
    lambda spark, sf: serving.range_filter_daily(
        tables.transactions(spark, sf), R_START, R_END
    ),
    f"""
WITH {TXN}
SELECT
    store_id,
    sale_date,
    cast(sum(line_cents) / 100.0 AS double) AS total_sales,
    count(*) AS transaction_count
FROM transactions
WHERE sale_date BETWEEN '{R_START}' AND '{R_END}'
GROUP BY store_id, sale_date
""",
)

# P6 — list-membership filter
register(
    "p6_isin_filter",
    lambda spark, sf: serving.isin_filter(
        tables.transactions(spark, sf), ["A", "R"]
    ),
    f"""
WITH {TXN}
SELECT payment_method, count(*) AS line_count
FROM transactions
WHERE payment_method IN ('A', 'R')
GROUP BY payment_method
""",
)

# §2.7 — unionByName of tagged projections
register(
    "u1_union_tagged",
    lambda spark, sf: serving.union_tagged(tables.transactions(spark, sf)),
    f"""
WITH {TXN},
u AS (
    SELECT store_id, 'full_price' AS bucket
    FROM transactions WHERE discount_cents = 0
    UNION ALL
    SELECT store_id, 'discounted' AS bucket
    FROM transactions WHERE discount_cents > 0
)
SELECT store_id, bucket, count(*) AS line_count
FROM u
GROUP BY store_id, bucket
""",
)

# §2.8 + S2 — scalar-function sampler incl. filename round-trip
register(
    "f1_scalar_sampler",
    lambda spark, sf: serving.scalar_function_sampler(
        tables.transactions(spark, sf), W_START, W_END
    ),
    rf"""
WITH {TXN},
dims AS (
    SELECT DISTINCT store_id, sale_date
    FROM transactions
    WHERE sale_date BETWEEN '{W_START}' AND '{W_END}'
)
SELECT
    store_id,
    sale_date,
    concat('store_', store_id, '_', sale_date, '.json') AS filename,
    regexp_extract(
        concat('store_', store_id, '_', sale_date, '.json'),
        'store_(\d{{4}})_(\d{{4}}-\d{{2}}-\d{{2}})\.json', 1) AS parsed_store,
    regexp_extract(
        concat('store_', store_id, '_', sale_date, '.json'),
        'store_(\d{{4}})_(\d{{4}}-\d{{2}}-\d{{2}})\.json', 2) AS parsed_date,
    cast(strftime(cast(sale_date AS date), '%w') AS int) AS dow,
    strftime(cast(sale_date AS date) - INTERVAL 7 day, '%Y-%m-%d')
        AS week_earlier,
    array_to_string(string_split(sale_date, '-'), '/') AS date_slash,
    concat('STORE#', store_id) AS pk,
    substring(sale_date, 1, 7) AS month_key
FROM dims
""",
)

# Tumbling 1-hour event-time windows (batch form of streaming/windows.py)
register(
    "ev_tumbling_hourly",
    lambda spark, sf: ev.tumbling_hourly(tables.load_events(spark, sf)),
    """
SELECT
    strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
    event_type,
    count(*) AS event_count,
    cast(sum(cast(round(value * 100) AS bigint)) / 100.0 AS double)
        AS total_value,
    cast(count(DISTINCT user_id) AS bigint) AS distinct_users
FROM events
GROUP BY 1, 2
""",
)

# Sliding 2h/1h windows — each event in exactly two windows
register(
    "ev_sliding_2h_hourly",
    lambda spark, sf: ev.sliding_2h_hourly(tables.load_events(spark, sf)),
    """
WITH assigned AS (
    SELECT date_trunc('hour', ts) AS window_start, value FROM events
    UNION ALL
    SELECT date_trunc('hour', ts) - INTERVAL 1 hour AS window_start, value
    FROM events
)
SELECT
    strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
    strftime(window_start + INTERVAL 2 hour, '%Y-%m-%d %H:%M:%S')
        AS window_end,
    count(*) AS event_count,
    cast(sum(cast(round(value * 100) AS bigint)) / 100.0 AS double)
        AS total_value
FROM assigned
GROUP BY 1, 2
""",
)

# Per-user session windows (30-min gap), gaps-and-islands batch form
register(
    "ev_session_windows",
    lambda spark, sf: ev.session_windows(tables.load_events(spark, sf), 30),
    """
WITH e AS (
    SELECT
        user_id, ts,
        cast(round(value * 100) AS bigint) AS value_c,
        cast(floor(epoch(ts)) AS bigint) AS sec,
        lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts,
        cast(floor(epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)))
             AS bigint) AS prev_sec
    FROM events
),
flagged AS (
    SELECT *,
        CASE WHEN prev_ts IS NULL OR sec - prev_sec > 1800 THEN 1 ELSE 0 END
            AS new_session
    FROM e
),
sessions AS (
    SELECT *,
        sum(new_session) OVER (
            PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
    FROM flagged
)
SELECT
    user_id,
    cast(session_seq AS bigint) AS session_seq,
    count(*) AS event_count,
    strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
    strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
    cast(sum(value_c) / 100.0 AS double) AS total_value,
    cast(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS bigint)
        AS duration_sec
FROM sessions
GROUP BY user_id, session_seq
""",
)

# --------------------------------------------------------------------------
# Deterministic insights layer (§2.10): the documented LLM-prompt
# thresholds as CASE ladders — fully oracle-checkable.
from ..operators import insights  # noqa: E402

SQL_DEV = (
    SQL_DAILY_CENTS
    + ", "
    + SQL_W7
    + """,
dev AS (
    SELECT
        store_id,
        sale_date,
        cast(sales_c / 100.0 AS double) AS today_sales,
        hist_days,
        CASE WHEN hist_sales_c > 0 THEN
            cast(cast(round(((sales_c - hist_sales_c * 1.0 / hist_days)
                             / (hist_sales_c * 1.0 / hist_days) * 100.0)
                            * 10.0) AS bigint) / 10.0 AS double)
        END AS deviation_pct
    FROM win
    WHERE hist_days >= 3
)
"""
)

SQL_ANOMALIES = (
    SQL_DEV
    + """,
anomalies AS (
    SELECT
        store_id,
        sale_date,
        'anomaly' AS insight_type,
        CASE WHEN deviation_pct > 0 THEN 'sudden_spike'
             ELSE 'sudden_drop' END AS anomaly_type,
        CASE WHEN abs(deviation_pct) > 50.0 THEN 'critical'
             WHEN abs(deviation_pct) > 25.0 THEN 'warning' END AS severity,
        today_sales AS metric_value,
        deviation_pct,
        md5(concat_ws('|', 'anomaly', store_id, sale_date)) AS insight_id
    FROM dev
    WHERE abs(deviation_pct) > 25.0
)
"""
)

SQL_TRENDS_I = """
twin AS (
    SELECT
        store_id, sale_date, sales_c,
        sum(sales_c) OVER w2 AS recent_sales_c,
        count(*)     OVER w2 AS recent_days,
        sum(sales_c) OVER w5 AS earlier_sales_c,
        count(*)     OVER w5 AS earlier_days,
        count(*)     OVER w7 AS hist_days
    FROM daily
    WINDOW
        w2 AS (PARTITION BY store_id ORDER BY sale_date
               ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING),
        w5 AS (PARTITION BY store_id ORDER BY sale_date
               ROWS BETWEEN 7 PRECEDING AND 3 PRECEDING),
        w7 AS (PARTITION BY store_id ORDER BY sale_date
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
),
trends_i AS (
    SELECT
        store_id,
        sale_date,
        'trend' AS insight_type,
        CASE
            WHEN hist_days < 2 THEN 'insufficient_data'
            WHEN earlier_days = 0 THEN 'stable'
            WHEN (recent_sales_c * 1.0 / recent_days)
                 / (earlier_sales_c * 1.0 / earlier_days) > 1.05
                THEN 'increasing'
            WHEN (recent_sales_c * 1.0 / recent_days)
                 / (earlier_sales_c * 1.0 / earlier_days) < 0.95
                THEN 'decreasing'
            ELSE 'stable'
        END AS trend_direction,
        cast(sales_c / 100.0 AS double) AS metric_value,
        md5(concat_ws('|', 'trend', store_id, sale_date)) AS insight_id
    FROM twin
)
"""

SQL_RECS = """
recs AS (
    SELECT
        store_id,
        sale_date,
        'recommendation' AS insight_type,
        CASE
            WHEN anomaly_type = 'sudden_drop' AND severity = 'critical'
                THEN 'investigate_store_operations'
            WHEN anomaly_type = 'sudden_drop' THEN 'review_pricing'
            ELSE 'increase_inventory'
        END AS action,
        CASE
            WHEN severity = 'critical' THEN 'high'
            WHEN anomaly_type = 'sudden_drop' THEN 'medium'
            ELSE 'low'
        END AS priority,
        cast(CASE
            WHEN severity = 'critical' THEN 1
            WHEN anomaly_type = 'sudden_drop' THEN 2
            ELSE 3
        END AS int) AS priority_rank,
        deviation_pct,
        md5(concat_ws('|', 'recommendation', store_id, sale_date))
            AS insight_id
    FROM anomalies
)
"""

register(
    "i1_anomaly_classify",
    lambda spark, sf: insights.classify_anomalies(tables.transactions(spark, sf)),
    f"""
WITH {TXN}, {SQL_ANOMALIES}
SELECT store_id, sale_date, insight_type, anomaly_type, severity,
       metric_value, deviation_pct, insight_id
FROM anomalies
""",
)

register(
    "i2_trend_insights",
    lambda spark, sf: insights.trend_insights(tables.transactions(spark, sf)),
    f"""
WITH {TXN}, {SQL_DAILY_CENTS}, {SQL_TRENDS_I}
SELECT store_id, sale_date, insight_type, trend_direction, metric_value,
       insight_id
FROM trends_i
WHERE trend_direction IN ('increasing', 'decreasing')
""",
)

register(
    "i3_recommendations",
    lambda spark, sf: insights.recommendations(tables.transactions(spark, sf)),
    f"""
WITH {TXN}, {SQL_ANOMALIES}, {SQL_RECS}
SELECT store_id, sale_date, insight_type, action, priority, priority_rank,
       deviation_pct, insight_id
FROM recs
""",
)

register(
    "i4_combine_insights",
    lambda spark, sf: insights.combine_insights(tables.transactions(spark, sf)),
    f"""
WITH {TXN}, {SQL_ANOMALIES}, {SQL_TRENDS_I}, {SQL_RECS}
SELECT insight_id, insight_type, store_id, sale_date,
       anomaly_type AS detail, severity,
       cast(NULL AS varchar) AS priority, deviation_pct
FROM anomalies
UNION ALL
SELECT insight_id, insight_type, store_id, sale_date,
       trend_direction AS detail, cast(NULL AS varchar) AS severity,
       cast(NULL AS varchar) AS priority, cast(NULL AS double)
FROM trends_i
WHERE trend_direction IN ('increasing', 'decreasing')
UNION ALL
SELECT insight_id, insight_type, store_id, sale_date,
       action AS detail, cast(NULL AS varchar) AS severity,
       priority, deviation_pct
FROM recs
""",
)

register(
    "i5_insight_summary",
    lambda spark, sf: insights.insight_summary(tables.transactions(spark, sf)),
    f"""
WITH {TXN}, {SQL_ANOMALIES}, {SQL_TRENDS_I}, {SQL_RECS},
combined AS (
    SELECT insight_type, store_id FROM anomalies
    UNION ALL
    SELECT insight_type, store_id FROM trends_i
    WHERE trend_direction IN ('increasing', 'decreasing')
    UNION ALL
    SELECT insight_type, store_id FROM recs
)
SELECT insight_type, count(*) AS insight_count,
       cast(count(DISTINCT store_id) AS bigint) AS stores_affected
FROM combined
GROUP BY insight_type
""",
)

# Extension-query modules register themselves on import (sharing this
# module's QUERIES/ORACLES dicts; imports kept at the bottom so the
# `register` symbol and shared SQL CTEs above exist).
from . import registry_ml  # noqa: E402,F401
from . import registry_export  # noqa: E402,F401
from . import registry_stats  # noqa: E402,F401
from . import registry_quality  # noqa: E402,F401
