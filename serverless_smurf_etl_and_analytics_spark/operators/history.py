"""Trailing-window / trend layer (SURVEY.md §2.4 A7-A13, §2.5).

The reference hand-rolls every windowed computation as per-date query
loops (7 point-queries per trailing window,
``detect-anomalies/lambda_function.py:30,64-135``;
``analyze-trends/lambda_function.py:107-229``;
``get-trends/lambda_function.py:170-324``). Here each one is a single
window function over the materialized store_daily — one scan, no loops.
The store-day input, :func:`store_daily_cents`, and the ``STORE_DAILY``
artifact's shards are projections of ``metrics.store_day_partial``, the
package's one (store, day) aggregation of fact rows.

Parity traps (SURVEY §7.4) preserved:
- trailing averages divide by **days present** (<=7), not 7 — a
  ROWS-based frame reproduces this exactly;
- history excludes today (frame ends at -1);
- the anomaly stage requires >=3 history days;
- the three trend algorithms (A11 ±5% last-2-vs-earlier, A12 ±10%
  half-vs-half over nonzero days, A13 first-vs-last) are distinct
  operators and stay distinct.

Scale notes: windows partition by store_id — at 100 TB the per-store
daily series is tiny (days count), so state per key is bounded; the
single shuffle is on store_id. All window aggregation is over integer
cents (exact, order-independent), so AQE/segment-tree evaluation order
can't drift the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .artifacts import TXN_COLS, Kind
from .metrics import store_day_partial


def store_daily_cents(txns: DataFrame) -> DataFrame:
    """Per-(store, day) gross sales in integer cents + line count —
    the minimal input every window op consumes: a projection of
    ``metrics.store_day_partial``, whose other aggregates column pruning
    drops (no ``count(DISTINCT)`` in the optimized plan).

    The grain is emitted hash-clustered by store_id and sorted by
    (store_id, sale_date) (r13, guide §2.4 "establish the partitioning
    once"): every downstream window in the a7-a13 / i* / quality
    families partitions by store_id and orders by sale_date, and the
    per-store groupBys (a13, a19, j5) cluster on store_id too, so when
    the shared MV layer persists this plan each consumer reads the
    cached relation WITHOUT its own Exchange or Sort (InMemoryTableScan
    reports the cached partitioning/ordering; verified plan-level —
    Window directly over InMemoryTableScan). Cold, the extra exchange
    is one narrow pass over the store-day grain (dimension-bounded at
    any corpus size) that replaces the first consumer's own window
    exchange — net zero. The partition count follows
    spark.sql.shuffle.partitions, so the layout stays scale-adaptive
    rather than tuned to local mode."""
    return (
        store_day_partial(txns)
        .select("store_id", "sale_date", "sales_c", "txn_count")
        .repartition("store_id")
        .sortWithinPartitions("store_id", "sale_date")
    )


# Artifact gate: same rationale and value as joins._CO_ARTIFACT_MIN —
# engage only where the inline daily aggregation is a real wall (sf1+),
# never at the scales the driver verifies or the bench pins, so every
# driver-green plan stays byte-identical to the inline form. The sf10
# A/B that motivates the artifact: each additional consumer of the
# daily grain costs ~2 s off the materialized table vs 42-150 s
# re-deriving it from 60M facts (benchmarks/scale_r12_summary.json
# ``x3x4_daily_mv_ab_sf10``; VERDICT r11 task 8).
_DAILY_ARTIFACT_MIN = 1_000_000


# The store-day daily artifact kind (``artifacts.Kind``): its shard is
# ``metrics.store_day_partial`` minus ``distinct_transactions``, which
# does not decompose (r13 widened it from the v1 two-sum form so x1's
# item/discount sums ride the same family; a v1-keyed corpus simply
# misses once and rebuilds wide). The read-back RE-AGGREGATES by
# (store_id, sale_date): ledger advances append the new shard's own
# daily partial, so an advanced artifact may hold several partial rows
# per key. Every column is a sum, so the union-append is exact for ANY
# split of the fact rows into shards — no complete-group caveat at
# all, unlike ``joins.co_pair_daily``'s complete-basket requirement.
# The re-agg runs over |stores|x|days| rows (tiny at every scale),
# never the facts. Consumers that need :func:`store_daily_cents`'s
# shape select its two sums.
STORE_DAILY = Kind(
    "sdc_v2_n{n}_h{h}",
    _DAILY_ARTIFACT_MIN,
    TXN_COLS,
    lambda txns: store_day_partial(txns).drop("distinct_transactions"),
    read=lambda frame: frame.groupBy("store_id", "sale_date").agg(
        F.sum("sales_c").alias("sales_c"),
        F.sum("disc_c").alias("disc_c"),
        F.sum("txn_count").alias("txn_count"),
        F.sum("item_count").alias("item_count"),
    ),
)


def _trailing(df: DataFrame, lo: int, hi: int, prefix: str) -> DataFrame:
    w = (
        Window.partitionBy("store_id")
        .orderBy("sale_date")
        .rowsBetween(lo, hi)
    )
    return df.withColumns(
        {
            f"{prefix}_sales_c": F.sum("sales_c").over(w),
            f"{prefix}_days": F.count(F.lit(1)).over(w),
            f"{prefix}_txns": F.sum("txn_count").over(w),
        }
    )


def trailing_7day(txns: DataFrame, min_days: int = 3) -> DataFrame:
    """A7: per (store, day) — mean of daily sales/txns over the prior
    <=7 *present* days, excluding today; emitted only once >=min_days
    history exists (``detect-anomalies/lambda_function.py:64-135,
    338-362``)."""
    df = _trailing(store_daily_cents(txns), -7, -1, "hist")
    return (
        df.filter(F.col("hist_days") >= min_days)
        .select(
            "store_id",
            "sale_date",
            (F.col("sales_c") / 100.0).cast("double").alias("today_sales"),
            F.col("txn_count").alias("today_txns"),
            F.col("hist_days"),
            (F.round(F.col("hist_sales_c") / F.col("hist_days")).cast("long")
             / 100.0).cast("double").alias("hist_avg_sales"),
            (F.round(F.col("hist_txns") * 10.0 / F.col("hist_days"))
             .cast("long") / 10.0).cast("double").alias("hist_avg_txns"),
        )
    )


def deviation_vs_trailing(txns: DataFrame, min_days: int = 3) -> DataFrame:
    """A10 (+J2/J6): percent deviation of today vs the trailing average
    (``detect-anomalies/lambda_function.py:213-219``)."""
    return deviation_from_daily(store_daily_cents(txns), min_days)


def deviation_from_daily(daily: DataFrame, min_days: int = 3) -> DataFrame:
    """A10 over a (possibly materialized/persisted) store_daily_cents
    input — consumers that also need other daily-derived outputs share
    ONE fact scan instead of re-deriving the aggregation per branch
    (the reference's MV design, SURVEY §4). Null-safe guard on zero
    history (``analyze-trends:203-207``), rounded to 1 decimal."""
    df = _trailing(daily, -7, -1, "hist")
    hist_avg_c = F.col("hist_sales_c") / F.col("hist_days")  # double, exact in
    dev = (F.col("sales_c") - hist_avg_c) / hist_avg_c * 100.0
    return (
        df.filter(F.col("hist_days") >= min_days)
        .select(
            "store_id",
            "sale_date",
            (F.col("sales_c") / 100.0).cast("double").alias("today_sales"),
            (F.round(hist_avg_c).cast("long") / 100.0)
            .cast("double")
            .alias("hist_avg_sales"),
            F.col("hist_days"),
            F.when(
                F.col("hist_sales_c") > 0,
                (F.round(dev * 10.0).cast("long") / 10.0).cast("double"),
            ).alias("deviation_pct"),
        )
    )


def trend_recent_vs_earlier(txns: DataFrame) -> DataFrame:
    """A11: ±5% trend — avg(last 2 present days) vs avg(days -7..-3)
    (``analyze-trends/lambda_function.py:209-229``). <2 history points
    => 'insufficient_data'; no earlier days => 'stable' (ratio treated
    as 1, documented deviation: reference never hits this branch
    because it always has >=7 days by the time trends run)."""
    return trend_from_daily(store_daily_cents(txns))


def trend_from_daily(daily: DataFrame) -> DataFrame:
    """A11 over a (possibly materialized/persisted) store_daily_cents
    input — see deviation_from_daily for why the split exists."""
    df = daily
    df = _trailing(df, -2, -1, "recent")
    df = _trailing(df, -7, -3, "earlier")
    df = _trailing(df, -7, -1, "hist")
    recent_avg = F.col("recent_sales_c") / F.col("recent_days")
    earlier_avg = F.col("earlier_sales_c") / F.col("earlier_days")
    ratio = recent_avg / earlier_avg
    direction = (
        F.when(F.col("hist_days") < 2, F.lit("insufficient_data"))
        .when(F.col("earlier_days") == 0, F.lit("stable"))
        .when(ratio > 1.05, F.lit("increasing"))
        .when(ratio < 0.95, F.lit("decreasing"))
        .otherwise(F.lit("stable"))
    )
    return df.select(
        "store_id",
        "sale_date",
        (F.col("sales_c") / 100.0).cast("double").alias("today_sales"),
        F.col("hist_days"),
        direction.alias("trend_direction"),
    )


def trend_half_vs_half(
    txns: DataFrame, start: str, end: str, band: float = 0.10
) -> DataFrame:
    """A12: ±10% half-vs-half trend over the *nonzero* daily series in
    [start, end] (``get-trends/lambda_function.py:225-247``): split the
    series at n//2; second-half avg vs first-half avg. <2 points =>
    'insufficient_data'. trend_percent rounded to 1 decimal."""
    daily = store_daily_cents(txns).filter(
        F.col("sale_date").between(start, end) & (F.col("sales_c") > 0)
    )
    w_rn = Window.partitionBy("store_id").orderBy("sale_date")
    w_all = Window.partitionBy("store_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # rn + n share one partitioning -> a single shuffle, no self-join
    ranked = daily.withColumn("rn", F.row_number().over(w_rn)).withColumn(
        "n", F.count(F.lit(1)).over(w_all)
    )
    halves = (
        ranked.withColumn("mid", F.floor(F.col("n") / 2).cast("long"))
        .groupBy("store_id")
        .agg(
            F.max("n").alias("n"),
            F.sum(F.when(F.col("rn") <= F.col("mid"), F.col("sales_c"))).alias(
                "first_c"
            ),
            F.max("mid").alias("mid"),
            F.sum(F.when(F.col("rn") > F.col("mid"), F.col("sales_c"))).alias(
                "second_c"
            ),
        )
    )
    first_avg = F.col("first_c") / F.col("mid")
    second_avg = F.col("second_c") / (F.col("n") - F.col("mid"))
    ratio = second_avg / first_avg
    direction = (
        F.when((F.col("n") < 2) | (F.col("mid") == 0), F.lit("insufficient_data"))
        .when(ratio > 1 + band, F.lit("increasing"))
        .when(ratio < 1 - band, F.lit("decreasing"))
        .otherwise(F.lit("stable"))
    )
    trend_pct = F.when(
        (F.col("mid") > 0) & (F.col("first_c") > 0),
        (F.round((second_avg - first_avg) / first_avg * 1000.0).cast("long")
         / 10.0).cast("double"),
    )
    return halves.select(
        "store_id",
        F.col("n").alias("days_with_sales"),
        direction.alias("trend_direction"),
        trend_pct.alias("trend_percent"),
    )


def trend_first_vs_last(txns: DataFrame, start: str, end: str) -> DataFrame:
    """A13: (last - first)/first * 100 per store over [start, end]
    (``get-trends/lambda_function.py:318-324``), 1-decimal."""
    daily = store_daily_cents(txns).filter(F.col("sale_date").between(start, end))
    g = daily.groupBy("store_id").agg(
        F.min_by("sales_c", "sale_date").alias("first_c"),
        F.max_by("sales_c", "sale_date").alias("last_c"),
        F.min("sale_date").alias("first_date"),
        F.max("sale_date").alias("last_date"),
        F.count(F.lit(1)).alias("days"),
    )
    pct = (F.col("last_c") - F.col("first_c")) / F.col("first_c") * 100.0
    return g.select(
        "store_id",
        (F.col("first_c") / 100.0).cast("double").alias("first_sales"),
        (F.col("last_c") / 100.0).cast("double").alias("last_sales"),
        "first_date",
        "last_date",
        "days",
        F.when(
            F.col("first_c") > 0,
            (F.round(pct * 10.0).cast("long") / 10.0).cast("double"),
        ).alias("trend_percent"),
    )


def company_trailing(txns: DataFrame, start: str, end: str) -> DataFrame:
    """A8: company-wide daily totals over a trailing range — the single
    group-by that replaces the reference's 7-query loop
    (``analyze-trends/lambda_function.py:107-152``)."""
    g = (
        txns.filter(F.col("sale_date").between(start, end))
        .groupBy("sale_date")
        .agg(
            F.sum("line_cents").alias("sales_c"),
            F.count(F.lit(1)).alias("total_transactions"),
            F.sum("quantity").alias("total_items"),
        )
    )
    return g.select(
        "sale_date",
        (F.col("sales_c") / 100.0).cast("double").alias("total_sales"),
        "total_transactions",
        "total_items",
        (F.round(F.col("sales_c") / F.col("total_transactions")).cast("long")
         / 100.0).cast("double").alias("avg_transaction"),
    )


def product_trailing(txns: DataFrame, start: str, end: str) -> DataFrame:
    """A9: per-SKU daily units/revenue over a trailing range
    (``analyze-trends/lambda_function.py:155-194``)."""
    g = (
        txns.filter(F.col("sale_date").between(start, end))
        .groupBy("item_sku", "sale_date")
        .agg(
            F.sum("quantity").alias("units"),
            (F.sum("line_cents") - F.sum("discount_cents")).alias("rev_c"),
        )
    )
    return g.select(
        "item_sku",
        "sale_date",
        "units",
        (F.col("rev_c") / 100.0).cast("double").alias("revenue"),
    )


def product_range_stats(
    txns: DataFrame, start: str, end: str, k: int = 15
) -> DataFrame:
    """A16/O7: per-SKU totals over a range: days_sold, avg daily
    units/revenue over days actually sold, top-K by revenue
    (``get-trends/lambda_function.py:170-262``)."""
    g = (
        txns.filter(F.col("sale_date").between(start, end))
        .groupBy("item_sku")
        .agg(
            F.sum("quantity").alias("total_units"),
            (F.sum("line_cents") - F.sum("discount_cents")).alias("rev_c"),
            # the range filter bounds distinct dates per SKU (≤ the
            # window length), so the distinct count folds into the one
            # aggregation as a per-group set instead of a second
            # shuffle keyed (sku, date) (guide §2.4); == countDistinct,
            # sale_date non-null.
            F.size(F.collect_set("sale_date")).cast("long").alias(
                "days_sold"
            ),
        )
    )
    ranked = g.select(
        "item_sku",
        "total_units",
        (F.col("rev_c") / 100.0).cast("double").alias("total_revenue"),
        "days_sold",
        (F.round(F.col("total_units") * 10.0 / F.col("days_sold")).cast("long")
         / 10.0).cast("double").alias("avg_daily_units"),
        (F.round(F.col("rev_c") / F.col("days_sold")).cast("long") / 100.0)
        .cast("double")
        .alias("avg_daily_revenue"),
        F.col("rev_c"),
    )
    w = Window.orderBy(F.desc("rev_c"), F.asc("item_sku"))
    return (
        ranked.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .drop("rev_c")
    )


def dow_seasonality(txns: DataFrame) -> DataFrame:
    """a19: day-of-week seasonality profile per store — average daily
    sales per weekday, indexed against the store's overall daily mean
    (integer basis points; 10000 = an average day). The generator
    plants weekend seasonality (``generate_sample_data.py:75-88``);
    this is the operator that would surface it, and the input a
    seasonality-aware anomaly baseline (A10's natural refinement)
    needs.

    Determinism: dow is 0-6 Sunday-first (matching DuckDB strftime
    '%w'); averages round to integer cents BEFORE the index ratio so
    every intermediate stays inside exact double range.

    Scale design: two bounded aggregations off the store-day grain
    (|stores| x 7 output) — at 100 TB the input is the store_daily MV,
    never raw facts."""
    daily = store_daily_cents(txns).select(
        "store_id",
        "sale_date",
        "sales_c",
        (F.dayofweek(F.to_date("sale_date")) - 1).cast("int").alias("dow"),
    )
    per_dow = daily.groupBy("store_id", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.sum("sales_c") / F.count(F.lit(1)))
        .cast("long")
        .alias("avg_c"),
    )
    per_store = daily.groupBy("store_id").agg(
        F.round(F.sum("sales_c") / F.count(F.lit(1)))
        .cast("long")
        .alias("store_avg_c"),
    )
    return (
        per_dow.join(F.broadcast(per_store), "store_id")
        .select(
            "store_id",
            "dow",
            "n_days",
            (F.col("avg_c") / 100.0).cast("double").alias("avg_sales"),
            F.round(F.col("avg_c") * 10000.0 / F.col("store_avg_c"))
            .cast("long")
            .alias("dow_index_bp"),
        )
    )
