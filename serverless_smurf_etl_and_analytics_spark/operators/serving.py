"""Serving-layer queries (SURVEY.md §2.4 A14-A18, §2.2 P1-P6, §2.6 O5,
§2.7 set ops, §2.8 scalar functions).

These are the reference's REST-endpoint payload computations
(``get-analytics/lambda_function.py``, ``get-trends/lambda_function.py``)
re-expressed as single declarative queries — each endpoint's response is
exactly one DataFrame result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.money import dollars
from .metrics import store_day_partial, top_products_per_store_day


def kpi_for_range(txns: DataFrame, start: str, end: str) -> DataFrame:
    """A14: serving-layer KPI re-aggregation for a date window
    (``get-analytics/lambda_function.py:191-230``).

    The reference hard-codes 4 payment keys and silently drops the 5th
    ('mobile', SURVEY §7.4); our enum has 3 values (A/N/R) and we keep
    all 3 as fixed columns — the hard-coded-column shape is the parity
    point, documented rather than bug-replicated since the enums differ.
    """

    def pay(method: str):
        return F.sum(
            F.when(
                F.col("payment_method") == method,
                F.col("line_cents") - F.col("discount_cents"),
            ).otherwise(F.lit(0))
        )

    g = txns.filter(F.col("sale_date").between(start, end)).agg(
        F.sum("line_cents").alias("sales_c"),
        F.count(F.lit(1)).alias("total_transactions"),
        F.sum("quantity").alias("total_items"),
        # the store catalog is bounded (11 here, dimension-sized at any
        # scale): size(collect_set) keeps the whole KPI row a single
        # aggregation pass instead of a distinct pre-shuffle keyed by
        # store_id (guide §2.4); == countDistinct, store_id non-null.
        F.size(F.collect_set("store_id")).cast("long").alias(
            "stores_reporting"
        ),
        pay("A").alias("pay_a_c"),
        pay("N").alias("pay_n_c"),
        pay("R").alias("pay_r_c"),
    )
    return g.select(
        (F.col("sales_c") / 100.0).cast("double").alias("total_sales"),
        "total_transactions",
        "total_items",
        "stores_reporting",
        (F.round(F.col("sales_c") / F.col("total_transactions")).cast("long")
         / 100.0).cast("double").alias("avg_transaction"),
        (F.col("pay_a_c") / 100.0).cast("double").alias("payment_a"),
        (F.col("pay_n_c") / 100.0).cast("double").alias("payment_n"),
        (F.col("pay_r_c") / 100.0).cast("double").alias("payment_r"),
    )


def top_products_reagg(txns: DataFrame, date: str, k: int = 10) -> DataFrame:
    """A15/O3: re-group the per-store top-5 lists across stores for one
    date, top-K by revenue (``get-analytics/lambda_function.py:233-258``).
    Same intentional top-5-only lossiness as A6 parity mode."""
    top5 = top_products_per_store_day(txns, 5).filter(
        F.col("sale_date") == date
    )
    g = top5.groupBy("item_sku").agg(
        F.sum("units").alias("units"),
        F.sum(F.round(F.col("revenue") * 100).cast("long")).alias("rev_c"),
        # bounded store catalog — same single-aggregation form as
        # kpi_for_range above (guide §2.4)
        F.size(F.collect_set("store_id")).cast("long").alias("store_count"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("rev_c"), F.asc("item_sku"))
    return (
        g.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "item_sku",
            "units",
            (F.col("rev_c") / 100.0).cast("double").alias("revenue"),
            "store_count",
            "rank",
        )
    )


def distinct_dates(txns: DataFrame) -> DataFrame:
    """A17/O10/O8: distinct-date discovery
    (``get-analytics/lambda_function.py:51-80``). On a date-partitioned
    lake this is partition-listing metadata, not a scan; on the flat
    testdata it is a distinct over the pruned date column."""
    return txns.select("sale_date").distinct()


def store_summary_projection(store_daily: DataFrame) -> DataFrame:
    """P1: serving-shape projection + rename + cast
    (``get-store-summaries/lambda_function.py:69-80``)."""
    return store_daily.select(
        F.col("store_id").alias("store"),
        F.col("sale_date").alias("business_date"),
        F.col("total_sales").alias("sales"),
        F.col("transaction_count").cast("long").alias("transactions"),
        F.col("item_count").cast("long").alias("items"),
        F.col("avg_transaction").alias("avg_ticket"),
    )


def prefix_filter(txns: DataFrame, prefix: str) -> DataFrame:
    """P2: key-prefix predicate (the reference's ``begins_with`` on
    composite keys, ``check-all-stores/lambda_function.py:100-102``)."""
    return (
        txns.filter(F.col("store_id").startswith(prefix))
        .groupBy("store_id")
        .agg(F.count(F.lit(1)).alias("line_count"))
    )


def point_lookup(txns: DataFrame, store_id: str, date: str) -> DataFrame:
    """P3: equality filter on the partition keys (single store+date) —
    partition pruning path (``get-trends/lambda_function.py:52-96``)."""
    return txns.filter(
        (F.col("store_id") == store_id) & (F.col("sale_date") == date)
    ).select(
        "transaction_id", "item_sku", "quantity", "line_total",
        "payment_method",
    )


def range_filter_daily(txns: DataFrame, start: str, end: str) -> DataFrame:
    """P4: one range-filtered scan replacing the reference's day-by-day
    query loop (``export-to-quicksight/lambda_function.py:57-94``): the
    store-day partial of the range's facts, projected to two sums."""
    return store_day_partial(
        txns.filter(F.col("sale_date").between(start, end))
    ).select(
        "store_id",
        "sale_date",
        dollars(F.col("sales_c")).alias("total_sales"),
        F.col("txn_count").alias("transaction_count"),
    )


def isin_filter(txns: DataFrame, methods: list[str]) -> DataFrame:
    """P6: list-membership filter
    (``get-analytics/lambda_function.py:309``)."""
    g = (
        txns.filter(F.col("payment_method").isin(methods))
        .groupBy("payment_method")
        .agg(F.count(F.lit(1)).alias("line_count"))
    )
    return g


def union_tagged(txns: DataFrame) -> DataFrame:
    """§2.7 set op: concatenate two differently-filtered projections
    with a source tag (processed+rejected file listing,
    ``list-files/lambda_function.py:34-57``) via unionByName."""
    full = txns.filter(F.col("discount_cents") == 0).select(
        "store_id",
        "sale_date",
        F.col("transaction_id"),
        F.lit("full_price").alias("bucket"),
    )
    disc = txns.filter(F.col("discount_cents") > 0).select(
        "store_id",
        "sale_date",
        F.col("transaction_id"),
        F.lit("discounted").alias("bucket"),
    )
    g = full.unionByName(disc).groupBy("store_id", "bucket").agg(
        F.count(F.lit(1)).alias("line_count")
    )
    return g


def scalar_function_sampler(txns: DataFrame, start: str, end: str) -> DataFrame:
    """§2.8 scalar layer + S2 filename round-trip: build the reference's
    upload filename ``store_XXXX_YYYY-MM-DD.json`` from the partition
    columns and parse it back (``process_upload.py:28,45-57``), plus the
    date/string scalar inventory (date_sub, dayofweek, split/array_join,
    concat, lpad)."""
    dims = (
        txns.filter(F.col("sale_date").between(start, end))
        .select("store_id", "sale_date")
        .distinct()
    )
    fname = F.concat(
        F.lit("store_"), F.col("store_id"), F.lit("_"), F.col("sale_date"),
        F.lit(".json"),
    )
    pat = r"store_(\d{4})_(\d{4}-\d{2}-\d{2})\.json"
    d = F.to_date("sale_date")
    return dims.select(
        "store_id",
        "sale_date",
        fname.alias("filename"),
        F.regexp_extract(fname, pat, 1).alias("parsed_store"),
        F.regexp_extract(fname, pat, 2).alias("parsed_date"),
        (F.dayofweek(d) - 1).cast("int").alias("dow"),
        F.date_format(F.date_sub(d, 7), "yyyy-MM-dd").alias("week_earlier"),
        F.array_join(F.split(F.col("sale_date"), "-"), "/").alias(
            "date_slash"
        ),
        F.concat(F.lit("STORE#"), F.col("store_id")).alias("pk"),
        F.substring(F.col("sale_date"), 1, 7).alias("month_key"),
    )
