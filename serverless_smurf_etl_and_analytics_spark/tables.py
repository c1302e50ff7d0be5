"""Testdata loaders and the reference-domain mapping.

The reference's fact table is retail transaction line items
(``backend/functions/process-upload/upload-schema.json:5-68``). Per
FIXTURES.md §3 the driver's TPC-H-ish ``lineitem`` stands in for it:

    store_id        <- lpad(l_suppkey, 4, '0')      (11 stores ~ suppliers)
    sale_date       <- date(l_shipdate) as 'YYYY-MM-DD' string
    transaction_id  <- l_orderkey
    item_sku        <- l_partkey
    quantity        <- l_quantity (integral double -> bigint)
    line_total      <- l_extendedprice
    discount_amount <- l_extendedprice * l_discount
    payment_method  <- l_returnflag (3-value enum ~ payment enum)

``TRANSACTIONS_CTE`` is the *same* mapping as ANSI SQL for the DuckDB
oracle, so every query/oracle pair shares one source of truth. Exact-money
``*_cents`` columns ride along (see functions.money).

Scale note: the mapping is pure narrow projection — no shuffle, fully
pushed into the parquet scan (column pruning keeps unused lineitem
columns unread).

Threads: ``_FRAME_MEMO`` is a plain dict, touched only from the caller
thread that builds frames; ``concurrent_writes.write_all`` gives its
worker threads write actions only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Constructed-frame memo for the loaders (r14): every query path
# rebuilds the same parquet read (file listing + schema resolution,
# ~0.10 s) and, for the fact table, the same 10-column mapping select
# (~0.09 s of py4j/Catalyst) PER CALL — ~0.19 s of pure plan assembly
# per query sample, the widest remaining slice of suite driver time
# after the insight-chain assembly. Keyed by (application id, loader,
# absolute path[, table]); a different session or directory misses.
# The memoized object is a LAZY plan — every action re-reads the
# parquet files; no data is cached. The one masked mutation is a
# directory whose FILE SET changes under the same path mid-session,
# until ``session.clear_operator_caches`` drops the entry: these
# loaders serve the immutable testdata snapshots, while the
# maintained-corpus pipelines read their own ledgered table paths
# directly (never through here) precisely because they mutate.
_FRAME_MEMO: dict = {}


def _frame_memo(spark: SparkSession, key_parts: tuple, build):
    try:
        key = (spark.sparkContext.applicationId,) + key_parts
    except Exception:
        return build()
    if key not in _FRAME_MEMO:
        _FRAME_MEMO[key] = build()
    return _FRAME_MEMO[key]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # every query path enters here — make sure a session we did not
    # build (the driver hands us its own) carries the runtime-settable
    # confs correctness depends on (UTC, no partition type inference).
    # The memo rides on the session object itself: an id()-keyed set
    # could skip a NEW session that reuses a freed id.
    if not getattr(spark, "_smurf_tuned", False):
        from .session import tune_existing

        tune_existing(spark)
        spark._smurf_tuned = True
    return _frame_memo(
        spark,
        ("load", os.path.abspath(sf_dir), name),
        lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet"),
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize ``ts`` to a watermark-compatible TIMESTAMP (LTZ)
    whatever physical shape events.parquet has:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; read
      nanos as long (``spark.sql.legacy.parquet.nanosAsLong``) and
      truncate to microseconds with integer division — exactly what
      DuckDB does, so oracle comparisons agree. (``ts div 1000`` stays
      in long; a double division would lose precision above 2^53.)
    - TIMESTAMP(MICROS) without timezone: Spark 4 reads TIMESTAMP_NTZ,
      which ``withWatermark`` rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE).
      Cast NTZ -> TIMESTAMP: under the engine's pinned UTC session
      timezone (session.py) the wall-clock value is unchanged, so every
      batch ``ev_*`` oracle hash is identical and the streaming layer
      gets a legal event-time column."""
    if not getattr(spark, "_smurf_tuned", False):
        from .session import tune_existing

        tune_existing(spark)
        spark._smurf_tuned = True
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type in ("bigint", "long"):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem re-expressed in the reference's transaction-line-item
    shape. The mapping select is memoized with the load (one plan
    assembly per session per directory — see ``_FRAME_MEMO``)."""
    return _frame_memo(
        spark,
        ("transactions", os.path.abspath(sf_dir)),
        lambda: _transactions(spark, sf_dir),
    )


def _transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("transaction_id"),
        F.lpad(F.col("l_suppkey").cast("string"), 4, "0").alias("store_id"),
        F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM-dd").alias(
            "sale_date"
        ),
        F.col("l_partkey").alias("item_sku"),
        F.col("l_quantity").cast("long").alias("quantity"),
        F.col("l_extendedprice").alias("line_total"),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("discount_amount"),
        F.round(F.col("l_extendedprice") * F.lit(100)).cast("long").alias(
            "line_cents"
        ),
        F.round(F.col("l_extendedprice") * F.col("l_discount") * F.lit(100))
        .cast("long")
        .alias("discount_cents"),
        F.col("l_returnflag").alias("payment_method"),
    )


# The identical mapping for the DuckDB oracle (tables are pre-registered
# views named region/nation/.../lineitem in the driver's DuckDB).
TRANSACTIONS_CTE = """
transactions AS (
    SELECT
        l_orderkey                                         AS transaction_id,
        lpad(cast(l_suppkey AS varchar), 4, '0')           AS store_id,
        strftime(cast(l_shipdate AS date), '%Y-%m-%d')     AS sale_date,
        l_partkey                                          AS item_sku,
        cast(l_quantity AS bigint)                         AS quantity,
        l_extendedprice                                    AS line_total,
        l_extendedprice * l_discount                       AS discount_amount,
        cast(round(l_extendedprice * 100) AS bigint)       AS line_cents,
        cast(round(l_extendedprice * l_discount * 100) AS bigint)
                                                           AS discount_cents,
        l_returnflag                                       AS payment_method
    FROM lineitem
)
"""
