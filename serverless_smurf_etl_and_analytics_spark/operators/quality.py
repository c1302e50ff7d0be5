"""Data-quality and monitoring operators: column profiling, date-gap
detection, CUSUM change-point location, EWMA smoothing, robust
median/MAD outliers, revenue heavy-hitters, and payment-mix drift.

The reference's quality surface is the ingest-time JSON-Schema gate
(``process-upload/process_upload.py:60-74``) and the completeness
anti-join (``check-all-stores/lambda_function.py:47-65``) — it never
profiles what landed or watches the landed series for level shifts.
These operators add the post-ingest half of that story: dq1 answers
"what is actually in the table", gap1 answers "which store-days never
arrived" (the temporal complement of J1's which-stores-today check),
cp1 turns the reference's single-day deviation test
(``detect-anomalies/lambda_function.py:213-219``) into a sequential
level-shift detector, and ewma1 is the smoothed variant of the A7
trailing mean (``detect-anomalies/lambda_function.py:124-133``).

Every output is integer/string-exact (cents, counts, day counts,
power-of-two weights) so the DuckDB oracles compare hash-identical —
no float accumulation order can drift a value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# transactions columns profiled by dq1 — the bigint/string split
# mirrors the reference upload schema's types
# (``upload-schema.json:22-66``; money profiled via the exact *_cents
# twins, see functions.money).
PROFILE_NUM_COLS = (
    "transaction_id",
    "item_sku",
    "quantity",
    "line_cents",
    "discount_cents",
)
PROFILE_STR_COLS = ("store_id", "sale_date", "payment_method")


def profile_columns(txns: DataFrame) -> DataFrame:
    """dq1: one profile row per column — row/null/distinct counts plus
    typed min/max (numeric for bigint columns, lexicographic for
    string columns).

    Scale design: the naive single-pass profile (one global agg with a
    countDistinct per column) plans an Expand that replicates every
    fact row once per distinct-aggregate. Instead the plan unpivots to
    (column, value) pairs and aggregates twice: (1) groupBy
    (column, value) with map-side partial counts — the shuffle carries
    at most |distinct values| rows per column, not |rows|; (2) a final
    8-group rollup. Distinct-heavy columns (transaction_id) dominate
    stage 1's shuffle but that is the theoretical floor for an exact
    distinct count; nothing is ever collected or expanded row-wise.
    """
    pairs = None
    for c in PROFILE_NUM_COLS:
        p = txns.select(
            F.lit(c).alias("column_name"),
            F.col(c).cast("long").alias("value_n"),
            F.lit(None).cast("string").alias("value_s"),
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    for c in PROFILE_STR_COLS:
        p = txns.select(
            F.lit(c).alias("column_name"),
            F.lit(None).cast("long").alias("value_n"),
            F.col(c).cast("string").alias("value_s"),
        )
        pairs = pairs.unionByName(p)

    per_value = pairs.groupBy("column_name", "value_n", "value_s").agg(
        F.count(F.lit(1)).alias("c")
    )
    is_null = F.col("value_n").isNull() & F.col("value_s").isNull()
    return per_value.groupBy("column_name").agg(
        F.sum("c").alias("n_rows"),
        F.sum(F.when(is_null, F.col("c")).otherwise(F.lit(0))).alias(
            "n_null"
        ),
        F.count(F.when(~is_null, F.lit(1))).alias("n_distinct"),
        F.min("value_n").alias("min_n"),
        F.max("value_n").alias("max_n"),
        F.min("value_s").alias("min_s"),
        F.max("value_s").alias("max_s"),
    )


def date_gaps(daily: DataFrame, min_gap_days: int = 1) -> DataFrame:
    """gap1: islands-and-gaps over each store's sale_date sequence —
    one row per hole of >= ``min_gap_days`` missing calendar days,
    with the bounding present days. The temporal complement of the J1
    completeness anti-join: J1 asks "who is missing today", this asks
    "which days went missing historically".

    Input is the store-day grain (the shared MV), so the window runs
    over |stores| x |days| rows — one bounded shuffle on store_id.
    """
    w = Window.partitionBy("store_id").orderBy("d")
    d = daily.select(
        "store_id", F.col("sale_date").cast("date").alias("d")
    ).withColumn("prev_d", F.lag("d").over(w))
    return (
        d.withColumn("gap_days", F.datediff("d", "prev_d") - F.lit(1))
        .filter(F.col("gap_days") >= min_gap_days)
        .select(
            "store_id",
            F.date_format("prev_d", "yyyy-MM-dd").alias("last_seen"),
            F.date_format("d", "yyyy-MM-dd").alias("next_seen"),
            F.col("gap_days").cast("long").alias("gap_days"),
        )
    )


def cusum_changepoints(daily: DataFrame) -> DataFrame:
    """cp1: the classic CUSUM change-point estimator per store — the
    day of maximum |cumulative centered deviation|, with the mean
    absolute deviation alongside to judge its significance. A
    sustained level shift accumulates in the CUSUM path where the
    reference's single-day deviation test (A10,
    ``detect-anomalies/lambda_function.py:213-219``) only sees one
    day at a time; the argmax of |CUSUM| is the maximum-likelihood
    shift location for a single mean change. Ties break to the
    earliest day so the result is a pure function of the data.

    All integer: mean_c = sum div n, dev = sales_c - mean_c,
    mad_c = sum(|dev|) div n; exact and order-independent, so the
    cumulative window can segment-tree-evaluate without drift.
    ONE shuffle total: the per-store moments, the MAD, the cumsum and
    the argmax rank are all windows over the same store_id
    partitioning, so Catalyst plans a single Exchange followed by
    stacked Window operators (re-sorts, no re-shuffles) — the
    grouped-aggregate-then-join formulation of the same math costs
    four exchanges. Input is the store-day grain, never the fact
    table; output is one row per store.
    """
    w_all = Window.partitionBy("store_id")
    d = (
        daily.withColumn(
            "mean_c",
            F.expr(
                "sum(sales_c) over (partition by store_id)"
                " div count(*) over (partition by store_id)"
            ),
        )
        .withColumn("n_days", F.count(F.lit(1)).over(w_all))
        .withColumn("dev_c", F.col("sales_c") - F.col("mean_c"))
        .withColumn("mad_c", F.expr(
            "sum(abs(dev_c)) over (partition by store_id)"
            " div count(*) over (partition by store_id)"
        ))
    )
    w = (
        Window.partitionBy("store_id")
        .orderBy("sale_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cusum_c", F.sum("dev_c").over(w)).withColumn(
        "day_idx", F.count(F.lit(1)).over(w)
    )
    w_rank = Window.partitionBy("store_id").orderBy(
        F.abs(F.col("cusum_c")).desc(), F.col("sale_date")
    )
    return (
        cum.withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") == 1)
        .select(
            "store_id",
            F.col("sale_date").alias("cp_date"),
            F.col("day_idx").cast("long").alias("day_idx"),
            F.col("n_days").cast("long").alias("n_days"),
            F.col("cusum_c").alias("cusum_at_cp"),
            "mad_c",
            # a negative CUSUM trough at the argmax means the days up
            # to cp sat BELOW the all-time mean, i.e. the level moved
            # UP after cp (and vice versa) — the label names the
            # post-cp direction, pytest-pinned on a planted step
            F.when(F.col("cusum_c") < 0, F.lit("shift_up"))
            .otherwise(F.lit("shift_down"))
            .alias("direction"),
        )
    )


def ewma_sales(daily: DataFrame, span: int = 7) -> DataFrame:
    """ewma1: exponentially-weighted trailing mean of daily sales per
    store over the last <= ``span`` *present* days (today included) —
    the smoothed cousin of A7's flat trailing mean, halving a day's
    weight per step of age so the baseline tracks level shifts faster.

    Exact integer fixed-point: the window's s days get weights
    2^0 (oldest) .. 2^(s-1) (today); ew_c = sum(sales_c * w) div
    (2^s - 1). No floats, so the oracle restates it verbatim (as a
    bounded rn-range self-join — relationally identical to the frame).

    Scale: one window over the store-day grain (shuffle on store_id,
    bounded partitions); the frame is ``rowsBetween(-(span-1), 0)`` so
    state per key is ``span`` rows. ``shiftleft`` keeps the weighting
    in whole-stage codegen — no UDF, no higher-order-function
    CodegenFallback in the hot expression (zip_with/aggregate ARE
    CodegenFallback, but they run over span-length arrays post-window,
    a constant per row).
    """
    w = (
        Window.partitionBy("store_id")
        .orderBy("sale_date")
        .rowsBetween(-(span - 1), 0)
    )
    arr = F.collect_list("sales_c").over(w)
    d = daily.select("store_id", "sale_date", "sales_c").withColumn(
        "arr", arr
    )
    return d.select(
        "store_id",
        "sale_date",
        "sales_c",
        F.expr("size(arr)").cast("long").alias("n_in_window"),
        F.expr(
            "aggregate(zip_with(arr, sequence(0, size(arr) - 1),"
            " (x, i) -> x * shiftleft(1L, i)), 0L, (a, b) -> a + b)"
            " div (shiftleft(1L, size(arr)) - 1)"
        ).alias("ewma_c"),
    )


def _windowed_median(value: str) -> F.Column:
    """Exact per-store ceil-rank median of ``value`` as a WINDOW
    expression: the ceil(n/2)-th smallest value, read back with an
    unordered max over the partition. Stacking these over one
    store_id partitioning keeps the whole median/MAD chain on a
    single Exchange — the grouped-agg-then-join formulation of the
    same order statistic costs one shuffle per median. (floor((n+1)/2)
    is exact in double below 2^52 rows per store.)"""
    w_rn = Window.partitionBy("store_id").orderBy(value)
    w_all = Window.partitionBy("store_id")
    rn = F.row_number().over(w_rn)
    n = F.count(F.lit(1)).over(w_all)
    at_median = F.when(rn == F.floor((n + 1) / 2), F.col(value))
    return F.max(at_median).over(w_all)


def robust_zscore_anomalies(
    daily: DataFrame, threshold_bp: int = 35000
) -> DataFrame:
    """z1: store-days whose sales sit more than ``threshold_bp``/1e4
    MADs from their store's median — the robust cousin of the
    deviation-vs-trailing-mean test (A10): median/MAD shrug off the
    very outliers a mean/stddev baseline absorbs, so a single huge day
    cannot mask itself. ratio_bp = |dev| * 10000 div MAD (NULL for the
    degenerate MAD = 0 store, which flags any nonzero deviation).

    All integer (exact ceil-rank order statistics), so the oracle
    restates it directly. Scale: both medians are window order
    statistics over the SAME store_id partitioning — one Exchange,
    stacked sorts — over the store-day grain, never the fact table.
    """
    d = daily.withColumn(
        "med", _windowed_median("sales_c")
    ).withColumn("dev_c", F.abs(F.col("sales_c") - F.col("med")))
    j = d.withColumn("mad_c", _windowed_median("dev_c"))
    flagged = j.filter(
        (
            (F.col("mad_c") > 0)
            & (F.col("dev_c") * 10000 > F.lit(threshold_bp) * F.col("mad_c"))
        )
        | ((F.col("mad_c") == 0) & (F.col("dev_c") > 0))
    )
    return flagged.select(
        "store_id",
        "sale_date",
        "sales_c",
        F.col("med").alias("median_c"),
        "mad_c",
        "dev_c",
        F.expr("dev_c * 10000 div nullif(mad_c, 0)").alias("ratio_bp"),
    )


def heavy_hitters(txns: DataFrame, min_share_bp: int = 50) -> DataFrame:
    """hh1: per store, the SKUs holding >= ``min_share_bp``/1e4 of the
    store's gross revenue — the concentration view behind A3's plain
    top-5 (a store where five SKUs hold 80% and one where fifty hold
    2% each both have a "top 5"; only the share threshold tells them
    apart).

    Scale: ONE fact scan, one map-side-combined (store, sku) shuffle,
    then the store total is a window sum over the per-SKU partial —
    a second tiny exchange on |stores|x|skus| rows, never a second
    fact scan. (The r4 shape — re-agg + broadcast join back — LOOKED
    shared but Catalyst planned the per_sku aggregation twice: two
    `Scan parquet`, zero `ReusedExchange`, and a measured 1.48x bench
    regression. A window over the partial is the plan the join was
    pretending to be.) share_bp is integer basis points; exact.
    """
    per_sku = txns.groupBy("store_id", "item_sku").agg(
        F.sum("line_cents").alias("rev_c")
    )
    w = Window.partitionBy("store_id")
    return per_sku.withColumn(
        "store_tot_c", F.sum("rev_c").over(w)
    ).withColumn(
        "share_bp", F.expr("rev_c * 10000 div store_tot_c")
    ).filter(F.col("share_bp") >= min_share_bp).select(
        "store_id", "item_sku", "rev_c", "store_tot_c", "share_bp"
    )


def payment_drift_tvd(txns: DataFrame) -> DataFrame:
    """drift1: per store, the total-variation distance (in ppm)
    between the payment-method mix of the store's first half of
    trading days and its second half — the drift monitor a pipeline
    runs before trusting a model trained on last quarter's mix.

    TVD = 1/2 * sum_m |p1_m - p2_m| restated in exact integers as
    sum_m |c1_m * t2 - c2_m * t1| * 1000000 div (2 * t1 * t2) — one
    integer division AFTER the sum, so no per-method rounding
    accumulates and addition order cannot drift the result. The cross
    products stay under 2^63 through ~3e9 lines per store-half; past
    that the same expression runs in decimal(38,0) (DuckDB computes it
    in int128 already).

    Scale: one (store, day, method) aggregation off the fact table,
    then everything downstream — the day rank (dense_rank gives each
    date its rank among the store's DISTINCT dates, so no separate
    distinct+join), the half totals, and the final rollup — runs on
    one store_id exchange: stacked windows re-sort but never
    re-shuffle, and the (store, method) group-bys are satisfied by
    the store partitioning. Two exchanges end-to-end.
    """
    per_day = txns.groupBy("store_id", "sale_date", "payment_method").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("store_id").orderBy("sale_date")
    tagged = (
        per_day.withColumn("rnk", F.dense_rank().over(w))
        .withColumn(
            "n_days",
            F.max("rnk").over(Window.partitionBy("store_id")),
        )
        .withColumn(
            "half",
            F.when(
                F.col("rnk") <= F.expr("n_days div 2"), F.lit("h1")
            ).otherwise(F.lit("h2")),
        )
    )
    per_method = tagged.groupBy("store_id", "payment_method").agg(
        F.sum(F.when(F.col("half") == "h1", F.col("c")).otherwise(0)).alias(
            "c1"
        ),
        F.sum(F.when(F.col("half") == "h2", F.col("c")).otherwise(0)).alias(
            "c2"
        ),
        F.max("n_days").alias("n_days"),
    )
    w_store = Window.partitionBy("store_id")
    with_tot = per_method.withColumn(
        "t1", F.sum("c1").over(w_store)
    ).withColumn("t2", F.sum("c2").over(w_store))
    return with_tot.groupBy("store_id").agg(
        F.max("n_days").cast("long").alias("n_days"),
        F.max("t1").alias("h1_lines"),
        F.max("t2").alias("h2_lines"),
        F.expr(
            "sum(abs(c1 * t2 - c2 * t1)) * 1000000"
            " div (2 * max(t1) * max(t2))"
        ).alias("tvd_ppm"),
    )


def latest_per_key(events: DataFrame) -> DataFrame:
    """scd1: the latest event per user — the batch "current snapshot"
    view (SCD-type-1 semantics) of an append-only event log, the batch
    twin of ``streaming/windows.dedup_events_stream``'s keep-first
    rule run in reverse. Ties on ts break to the highest event_id so
    the winner is a pure function of the data.

    Scale: one window shuffle on user_id; rank-filter pushes the
    TopK-per-key computation into a single pass (Spark evaluates
    row_number + filter without materializing the sorted partitions).
    The n_events audit column rides on the same partitioning — no
    second shuffle.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    w_all = Window.partitionBy("user_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .withColumn("n_events", F.count(F.lit(1)).over(w_all))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


def validity_intervals(events: DataFrame) -> DataFrame:
    """scd2: type-2 history of each user's event_type — every CHANGE
    opens a validity interval (valid_from inclusive, valid_to = next
    change's start, NULL while current), consecutive same-type events
    collapse into one interval (the no-change-update rule that
    separates SCD-2 from a plain event log). scd1 answers "what is
    current"; this answers "what was true at time T" — the dimension-
    history view a warehouse keeps for as-of joins.

    Run detection is the classic gaps-and-islands: flag = type !=
    lag(type), version = running sum of flags; both windows and the
    interval-close lead() share the ONE user_id exchange (the runs
    table the lead operates on is already user-partitioned and
    version-sorted). Ties on ts break by event_id, so intervals are a
    pure function of the data."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    ).withColumn(
        "version",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    # event_type is CONSTANT within a run (runs are same-type by
    # construction), so min() is just a deterministic pick
    runs = flagged.groupBy("user_id", "version").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_runs = Window.partitionBy("user_id").orderBy("version")
    out = runs.withColumn(
        "valid_to", F.lead("valid_from").over(w_runs)
    )
    return out.select(
        "user_id",
        F.col("version").cast("long").alias("version"),
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias(
            "valid_from_s"
        ),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias(
            "valid_to_s"
        ),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("valid_to").isNull().cast("long").alias("is_current"),
    )


# Morton (Z-order) interleave: spread a 16-bit value's bits to the
# even positions of a 32-bit lane via the classic 4-step magic-mask
# cascade — plain bitwise arithmetic, identical syntax in Spark SQL
# and DuckDB, fully inside whole-stage codegen.
_SPREAD = (
    "((({x} * 65537) & 4278190335)"  # x |= x << 16, mask 0xFF0000FF
    " * 17 & 50393103)"              # x |= x << 4,  mask 0x0300F00F
    " * 5 & 1426085409)"             # x |= x << 2,  mask 0x550C30C3... see note
)


def _spread_bits_sql(x: str) -> str:
    """Bits of 16-bit ``x`` moved to even positions (0,2,..,30).
    Stated as explicit shift-or-mask steps (clearer than the fused
    multiply form and equally codegen-friendly)."""
    s = f"cast({x} as bigint)"
    s = f"(({s} | ({s} << 8)) & 16711935)"    # 0x00FF00FF
    s = f"(({s} | ({s} << 4)) & 252645135)"   # 0x0F0F0F0F
    s = f"(({s} | ({s} << 2)) & 858993459)"   # 0x33333333
    s = f"(({s} | ({s} << 1)) & 1431655765)"  # 0x55555555
    return s


ZORDER_EPOCH = "1990-01-01"


def zorder_codes(daily: DataFrame) -> DataFrame:
    """mo1: Morton (Z-order) code per store-day — the space-filling
    curve key that makes ONE physical sort serve BOTH access patterns
    the reference indexes separately (by-store-over-time = DynamoDB
    primary key, by-date-across-stores = GSI1;
    ``infrastructure/dynamodb.tf:4-43``). Files written in zcode order
    are range-prunable on store AND date simultaneously: a predicate
    on either column touches O(sqrt(files)) instead of all of them.

    zcode interleaves the 16-bit store number (even bit positions)
    with the 16-bit day number since 1990-01-01 (odd positions) via
    the shift-or-mask spread cascade — integer-exact, identical in
    both engines. ``write_zordered`` below applies it as a layout
    sort; this query exposes the codes for verification.
    """
    d = daily.select(
        "store_id",
        "sale_date",
        F.col("store_id").cast("long").alias("s_num"),
        F.datediff(
            F.col("sale_date").cast("date"), F.lit(ZORDER_EPOCH).cast("date")
        ).cast("long").alias("day_num"),
    )
    zx = _spread_bits_sql("s_num")
    zy = _spread_bits_sql("day_num")
    return d.select(
        "store_id",
        "sale_date",
        "day_num",
        F.expr(f"{zx} | ({zy} << 1)").alias("zcode"),
    )


def write_zordered(daily: DataFrame, path: str) -> None:
    """Layout sink: globally sort the store-day table by its Morton
    code before writing, so parquet row groups cover compact (store,
    date) rectangles and min/max statistics prune on both columns.
    The sort is a range-partitioned exchange (Spark samples zcode
    bounds) — the standard one-shuffle cost of any clustered layout;
    paid once at write time, saved on every subsequent scan."""
    z = zorder_codes(daily)
    (
        daily.join(z.select("store_id", "sale_date", "zcode"),
                   ["store_id", "sale_date"])
        .orderBy("zcode")
        .write.mode("overwrite")
        .parquet(path)
    )


def _log2_bin(col: str) -> Column:
    """bitlen bin of a POSITIVE cents column, with the domain enforced
    per-row: a zero would land in bin 1 (whose bracket [1, 2) excludes
    it) and a negative (refund) would hit the 64-char two's-complement
    binary — bin 64, whose ``shiftleft(1L, 63)`` bracket overflows
    negative — in both cases silently corrupting the hash-checked
    containment law between the daily layer and the range merge.
    ``raise_error`` fails the JOB with the offending value instead;
    out-of-domain facts must be cleaned (or the refund flow modeled
    explicitly) before histogramming, not absorbed wrongly."""
    return (
        F.when(
            F.col(col) >= 1,
            F.expr(f"length(bin({col}))").cast("long"),
        )
        .otherwise(
            F.raise_error(
                F.format_string(
                    f"log2 histogram requires {col} >= 1; got %s",
                    F.col(col),
                )
            ).cast("long")
        )
    )


def log2_histogram(txns: DataFrame) -> DataFrame:
    """hist1: mergeable power-of-two histogram of line cents per
    payment method, with each bin's exact bounds and the p50-carrying
    bin flagged. The mergeable counterpart of q1's exact quantiles:
    the histogram is a pure sum per (method, bin) — partial-aggregates
    map-side, merges across days/partitions/clusters by addition, and
    holds <= 64 bins per group at ANY row count, where exact quantiles
    must see every distinct value. Quantile estimates from it carry a
    guaranteed relative error <= 2x (one bin width); the exact q1 path
    exists when that is not enough.

    bin = bitlen(v) (floor(log2(v)) + 1, via the length-of-binary
    trick — no floating log), so bin k covers [2^(k-1), 2^k).

    Domain: line_cents >= 1, ENFORCED (:func:`_log2_bin`) — see
    :func:`daily_log2_histograms` for why out-of-domain values must
    fail loudly here rather than land in a wrong bin.
    """
    binned = txns.select(
        "payment_method",
        _log2_bin("line_cents").alias("bin"),
        F.col("line_cents").alias("v"),
    ).groupBy("payment_method", "bin").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("v").alias("bin_min_c"),
        F.max("v").alias("bin_max_c"),
    )
    w_cum = (
        Window.partitionBy("payment_method")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("payment_method")
    h = binned.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    is_p50 = (F.col("cum") >= F.expr("(n + 1) div 2")) & (
        F.col("cum") - F.col("cnt") < F.expr("(n + 1) div 2")
    )
    return h.select(
        "payment_method",
        "bin",
        F.expr("shiftleft(1L, cast(bin as int) - 1)").alias("bin_lo_c"),
        F.expr("shiftleft(1L, cast(bin as int)) - 1").alias("bin_hi_c"),
        "cnt",
        "bin_min_c",
        "bin_max_c",
        F.col("cum").cast("long").alias("cum"),
        is_p50.cast("long").alias("is_p50_bin"),
    )


def daily_log2_histograms(txns: DataFrame) -> DataFrame:
    """Per-(payment_method, sale_date, bin) power-of-two histogram
    counts — the materializable layer of hist2, the histogram twin of
    :func:`stats.kmv_daily_sketches` (KMV) and the per-day HLL
    registers: the daily pipeline persists <= 64 bounded rows per
    (method, day) and any later date-range quantile question merges
    them by ADDITION, never rescanning facts.

    Domain: line_cents >= 1, ENFORCED per-row (:func:`_log2_bin`)."""
    return (
        txns.select(
            "payment_method",
            "sale_date",
            _log2_bin("line_cents").alias("bin"),
        )
        .groupBy("payment_method", "sale_date", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge_daily(daily: DataFrame) -> DataFrame:
    """Merge a per-(method, day, bin) histogram table over whatever
    rows it holds — the half of hist2 the PIPELINE uses once
    :func:`daily_log2_histograms` is materialized (no exact audit
    column; facts never read). ONE pass: the method-level day count
    rides as a collect_set window on the same method partitioning the
    (method, bin) merge needs, so deriving the dailies inline (as the
    registered hist2 does from facts) costs a single fact scan.
    Output: one row per method — (payment_method, n_days_merged,
    n_lines, p50_bin, p50_lo_c, p50_hi_c)."""
    w_m = Window.partitionBy("payment_method")
    enriched = daily.withColumn(
        "n_days_merged",
        F.size(F.collect_set("sale_date").over(w_m)).cast("long"),
    )
    merged = enriched.groupBy("payment_method", "bin").agg(
        F.sum("cnt").alias("cnt"),
        F.max("n_days_merged").alias("n_days_merged"),
    )
    w_cum = (
        Window.partitionBy("payment_method")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    h = merged.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_m)
    )
    # ceil-rank median index, the q1 definition: idx = (50*n+99) div 100
    idx = F.expr("(50 * n + 99) div 100")
    return h.filter(
        (F.col("cum") >= idx) & (F.col("cum") - F.col("cnt") < idx)
    ).select(
        "payment_method",
        "n_days_merged",
        F.col("n").cast("long").alias("n_lines"),
        F.col("bin").alias("p50_bin"),
        F.expr("shiftleft(1L, cast(bin as int) - 1)").alias("p50_lo_c"),
        F.expr("shiftleft(1L, cast(bin as int)) - 1").alias("p50_hi_c"),
    )


def hist_merge_range(
    txns: DataFrame, start: str, end: str
) -> DataFrame:
    """hist2: approximate p50 of line cents per payment method over
    [start, end] by MERGING the per-day histograms — bin counts add,
    so the merge is one sum per (method, bin); the p50 estimate is the
    bin carrying the ceil-rank median, bounded by its power-of-two
    bin edges (guaranteed <= 2x relative error). The exact q1-style
    median rides along for auditability, and ``p50_in_bin`` asserts
    the containment law AS A HASH-CHECKED COLUMN — the driver row
    proves estimate-brackets-truth, not just that numbers came out.

    Completes the materialize+merge family: sk2 (KMV distincts), hll2
    (HLL registers), hist2 (quantile histograms) — one bounded daily
    layer each, any range answerable without fact rescans. Scale: the
    merge touches |methods| x |days| x <=64 rows; the exact audit side
    is the only fact-scanning branch (production callers drop it).
    """
    in_range = txns.filter(F.col("sale_date").between(start, end))
    p50_bin = hist_merge_daily(daily_log2_histograms(in_range))
    # exact median (the audit side): q1's value-domain compression
    uni = in_range.groupBy(
        "payment_method", F.col("line_cents").alias("v")
    ).agg(F.count(F.lit(1)).alias("c"))
    u = uni.withColumn(
        "cum",
        F.sum("c").over(
            Window.partitionBy("payment_method")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn(
        "n", F.sum("c").over(Window.partitionBy("payment_method"))
    )
    exact = u.groupBy("payment_method").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(50 * n + 99) div 100"), F.col("v"))
        ).alias("p50_exact_c")
    )
    out = p50_bin.join(exact, "payment_method")
    return out.select(
        "payment_method",
        "n_days_merged",
        "n_lines",
        "p50_bin",
        "p50_lo_c",
        "p50_hi_c",
        "p50_exact_c",
        (
            (F.col("p50_exact_c") >= F.col("p50_lo_c"))
            & (F.col("p50_exact_c") <= F.col("p50_hi_c"))
        ).cast("long").alias("p50_in_bin"),
    )


def quality_report(daily: DataFrame) -> DataFrame:
    """qr1: the combined daily quality feed — every alarm the
    monitoring family raises, one row per (store, date, alarm_type)
    with a single integer severity metric, mirroring the i4 combined-
    insights shape so the same serving/export path carries both
    business insights and data-quality alarms.

    alarm types: 'gap' (metric = missing days), 'robust_outlier'
    (metric = ratio_bp, -1 for the degenerate MAD=0 case), and
    'changepoint' (metric = |cusum| div MAD, the shift's size in MAD
    units; -1 if MAD = 0). Each branch reuses the registered operator
    verbatim, so this is a unionByName of already-verified plans over
    the shared store-day MV — no new scan of anything. The assembly is
    rebuilt on every call (~0.4 s of py4j/Catalyst at sf0.1, r14): a
    frame keyed on ``daily``'s plan would hand the ingest stream an
    earlier micro-batch's file listing, because two reads of one path
    are the same plan.
    """
    gaps = date_gaps(daily).select(
        "store_id",
        F.col("next_seen").alias("alarm_date"),
        F.lit("gap").alias("alarm_type"),
        F.col("gap_days").alias("metric"),
    )
    outliers = robust_zscore_anomalies(daily).select(
        "store_id",
        F.col("sale_date").alias("alarm_date"),
        F.lit("robust_outlier").alias("alarm_type"),
        F.coalesce(F.col("ratio_bp"), F.lit(-1)).alias("metric"),
    )
    shifts = cusum_changepoints(daily).select(
        "store_id",
        F.col("cp_date").alias("alarm_date"),
        F.lit("changepoint").alias("alarm_type"),
        F.coalesce(
            F.expr("abs(cusum_at_cp) div nullif(mad_c, 0)"), F.lit(-1)
        ).alias("metric"),
    )
    return gaps.unionByName(outliers).unionByName(shifts)


def window_function_sampler(daily: DataFrame) -> DataFrame:
    """w2: the window-function surface in one query — ranking
    (row_number / rank / dense_rank / ntile / percent_rank /
    cume_dist), navigation (lag / lead / nth_value), and frame
    boundaries (first / last over the running frame) per store over
    the daily series. Complements the f1 scalar sampler: every
    function here is evaluated against DuckDB's implementation of the
    same SQL-standard definition, so a Spark upgrade that shifts any
    window semantics fails the oracle, not production.

    percent_rank = (rank-1)/(n-1) and cume_dist = peers<=current / n
    are single IEEE divisions of exact integers — deterministic
    cross-engine. The order key (store, date) is unique, so ranks are
    tie-free and the whole output is a pure function of the data.
    One exchange: all windows share the store_id partitioning.
    """
    w = Window.partitionBy("store_id").orderBy("sale_date")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "store_id",
        "sale_date",
        "sales_c",
        F.row_number().over(w).cast("long").alias("rn"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.lag("sales_c", 1).over(w).alias("prev_c"),
        F.lead("sales_c", 2).over(w).alias("next2_c"),
        F.nth_value("sales_c", 3).over(w_run).alias("third_c"),
        F.first("sales_c").over(w_run).alias("first_c"),
        F.max("sales_c").over(w_run).alias("run_max_c"),
    )


def array_function_sampler(docs: DataFrame) -> DataFrame:
    """f2: the array / higher-order-function surface in one query —
    split, size, slice, sort_array, array_distinct, array_contains,
    element_at, and the lambda forms (transform, filter, aggregate,
    zip_with, exists) over each document's token array, each restated
    against DuckDB's list functions. All outputs integer/string so
    the hash compare is exact.

    Scale: pure per-row projection — no shuffle at all; every
    higher-order function is CodegenFallback but stays a constant
    cost per row (token arrays are document-bounded). Tokenization is
    textops.tokens_col — the same column expression every text oracle
    pairs with SQL_TOKS, so the two engines split identically.
    """
    from .textops import tokens_col

    t = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    )
    return t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        F.array_join(F.slice("toks", 1, 3), "_").alias("first3"),
        F.element_at(F.sort_array("toks"), 1).alias("min_tok"),
        F.element_at(F.sort_array("toks", asc=False), 1).alias(
            "max_tok"
        ),
        F.size(F.array_distinct("toks")).cast("long").alias("n_uniq"),
        F.array_contains("toks", "data").cast("long").alias("has_data"),
        F.expr(
            "aggregate(transform(toks, t -> length(t)),"
            " 0L, (a, b) -> a + b)"
        ).alias("char_sum"),
        F.expr("size(filter(toks, t -> length(t) > 4))")
        .cast("long")
        .alias("n_long_toks"),
        F.expr(
            "aggregate(zip_with(toks, sequence(1, size(toks)),"
            " (t, i) -> length(t) * cast(i as long)),"
            " 0L, (a, b) -> a + b)"
        ).alias("pos_weighted"),
        F.expr("cast(exists(toks, t -> t = 'spark') as long)").alias(
            "mentions_spark"
        ),
    )
