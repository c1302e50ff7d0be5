"""Streaming ingest (SURVEY.md §2.1 S9-S10, §2.9).

The reference's EventBridge -> Step Functions per-file pipeline
(``infrastructure/eventbridge.tf:4-52``,
``state-machines/upload-processor.json``) is a file-arrival stream:
each new S3 object triggers validate -> aggregate -> upsert ->
completeness check. The Spark-native form is a Structured Streaming
file source over the upload directory where each micro-batch runs the
same batch operators inside ``foreachBatch``:

- validate/split (sources.ingest.validate_split)
- per-store-day aggregation (operators.metrics.store_day_metrics)
- dynamic-partition upsert of store_daily, partitioned by
  (date, store) so a re-upload (or a later micro-batch of the same
  date) replaces exactly its own store-day — the put_item semantics
  of ``write-metrics/lambda_function.py:104``
- completeness anti-join (J1) emitting a per-date upload ledger
  (``check-all-stores/lambda_function.py:60-92``); downstream daily
  analysis fires when ``stores_missing == 0`` — a *completeness*
  trigger, not a time watermark.

Scale notes: ``maxFilesPerTrigger`` bounds micro-batch size; the
aggregation inside a batch shuffles only batch rows; the upsert touches
only the partitions present in the batch. Checkpointing makes the
stream exactly-once into the parquet sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources import ingest as batch_ingest


def read_upload_stream(
    spark: SparkSession, upload_dir: str, max_files: int = 16
) -> DataFrame:
    return batch_ingest._upload_frame(
        spark.readStream.option("maxFilesPerTrigger", str(max_files)),
        upload_dir,
    )


def start_ingest_stream(
    spark: SparkSession,
    upload_dir: str,
    store_daily_dir: str,
    ledger_dir: str,
    expected_stores: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files: int = 16,
    alarms_dir: str | None = None,
) -> StreamingQuery:
    """The full §3.1 pipeline as one stream. Each micro-batch:
    validate -> aggregate -> upsert store_daily -> completeness ledger
    [-> incremental quality alarms when ``alarms_dir`` is set].

    Incremental alarm maintenance: the quality_report branches (gap /
    robust-outlier / changepoint) are all PER-STORE functions of the
    store's full daily history, so a batch only needs to recompute the
    stores it touched — each store's alarm partition is overwritten
    from its complete history-so-far, and once the store's last file
    has streamed in, its partition equals the batch operator on the
    full data exactly (the parity law `test_quality_stream` proves).
    Cost per batch is O(touched stores' history), not O(table).
    """
    from ..functions.money import cents
    from ..operators.metrics import store_day_metrics

    expected = expected_stores.select("store_id").cache()

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        valid, _rejected = batch_ingest.validate_split(batch_df)
        if valid.isEmpty():
            return
        txns = valid.select(
            "store_id",
            "sale_date",
            F.col("transaction_id"),
            F.col("quantity").cast("long").alias("quantity"),
            cents(F.col("line_total").cast("double")).alias("line_cents"),
            cents(F.col("discount_amount").cast("double")).alias(
                "discount_cents"
            ),
        )
        daily = store_day_metrics(txns)
        # partitioned by (date, store): a micro-batch carrying only a
        # subset of a date's stores must replace ONLY those store-days —
        # partitioning by date alone would erase earlier stores' rows
        # whenever a date's uploads span micro-batches (routine: 11+
        # files/day vs maxFilesPerTrigger). This is the put_item
        # idempotency of ``write-metrics/lambda_function.py:104``: the
        # (store, date) item replaces itself and nothing else.
        (
            daily.withColumn("date_key", F.col("sale_date"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date_key", "store_id")
            .parquet(store_daily_dir)
        )
        # completeness check over ALL store-days seen so far for the
        # dates touched by this batch
        spark_l = batch_df.sparkSession
        # bounded driver collect: distinct sale_dates of ONE
        # micro-batch — at most maxFilesPerTrigger files' worth of
        # dates (uploads are per store-day), not the table's history
        touched = [r[0] for r in daily.select("sale_date").distinct().collect()]
        seen = (
            spark_l.read.parquet(store_daily_dir)
            .filter(F.col("sale_date").isin(touched))
            .select("sale_date", "store_id")
            .distinct()
        )
        ledger = (
            seen.groupBy("sale_date")
            .agg(F.countDistinct("store_id").alias("stores_reported"))
            .crossJoin(
                expected.agg(
                    F.count(F.lit(1)).alias("stores_expected")
                )
            )
            .withColumn(
                "all_stores_done",
                F.col("stores_reported") >= F.col("stores_expected"),
            )
            .withColumn("date_key", F.col("sale_date"))
        )
        (
            ledger.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date_key")
            .parquet(ledger_dir)
        )

        if alarms_dir is not None:
            from ..operators.quality import quality_report

            # bounded driver collect: distinct stores of ONE
            # micro-batch, <= the 11-store dimension by definition
            touched_stores = [
                r[0] for r in daily.select("store_id").distinct().collect()
            ]
            hist = (
                spark_l.read.parquet(store_daily_dir)
                .filter(F.col("store_id").isin(touched_stores))
                .select(
                    "store_id",
                    "sale_date",
                    # store_daily persists dollars; the alarms run on
                    # exact cents (dollars() = cents/100, lossless)
                    F.round(F.col("total_sales") * 100)
                    .cast("long")
                    .alias("sales_c"),
                )
            )
            # one marker row per touched store: dynamic overwrite only
            # rewrites partitions PRESENT in the new data, so a store
            # whose alarms all cleared would otherwise keep its stale
            # partition. The marker guarantees the rewrite and records
            # how far the store has been evaluated; consumers filter
            # alarm_type != 'evaluated_through'.
            markers = hist.groupBy("store_id").agg(
                F.max("sale_date").alias("alarm_date"),
                F.count(F.lit(1)).alias("metric"),
            ).select(
                "store_id",
                "alarm_date",
                F.lit("evaluated_through").alias("alarm_type"),
                F.col("metric").cast("long").alias("metric"),
            )
            alarms = (
                quality_report(hist)
                .unionByName(markers)
                .withColumn("store_key", F.col("store_id"))
            )
            (
                alarms.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("store_key")
                .parquet(alarms_dir)
            )

    stream = read_upload_stream(spark, upload_dir, max_files)
    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
