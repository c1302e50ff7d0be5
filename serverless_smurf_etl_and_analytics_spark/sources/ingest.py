"""Ingest layer (SURVEY.md §2.1 S1-S6).

The reference's per-file Lambda (``process-upload/process_upload.py``)
becomes one declarative pipeline that scales to any number of upload
files in a single job:

  read JSON (S1) -> parse filename partition keys (S2) -> validate
  (S3) -> split valid/quarantine (S4) -> typed, Hive-partitioned
  Parquet (S5)

Scale notes:
- The JSON read is schema-first (never inferred) with PERMISSIVE mode:
  corrupt records survive into ``_corrupt_record`` instead of failing
  the job — the quarantine path is data, not an exception.
- Partition keys come from the *filename*
  (``process_upload.py:28,45-57``), via the hidden ``_metadata`` column
  — no extra listing pass.
- The Parquet sink is Hive-partitioned ``year=/month=/day=/store_id=``
  exactly like the reference's layout (``process_upload.py:205``), so
  every downstream date/store filter becomes partition pruning.
- Validation is a single ``when``-ladder projection: one scan computes
  both streams; no Python UDFs anywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schema import FILENAME_PATTERN, PAYMENT_METHODS, TXN_READ_SCHEMA


def read_uploads(spark: SparkSession, upload_dir: str) -> DataFrame:
    """S1+S2: read upload JSON array files (one per store-day) with the
    fixed contract schema, carrying filename-derived partition columns.
    """
    return _upload_frame(spark.read, upload_dir)


def _upload_frame(reader, upload_dir: str) -> DataFrame:
    """The upload read shared by the batch reader and the ingest
    stream: contract schema, PERMISSIVE multi-line JSON, and the
    filename-derived keys. ``reader`` is a ``DataFrameReader`` or a
    ``DataStreamReader``."""
    df = (
        reader.schema(TXN_READ_SCHEMA)
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(f"{upload_dir}/*.json")
    )
    fname = F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1)
    return (
        df.select("*", F.col("_metadata.file_path").alias("_file_path"))
        .withColumn("_file_name", fname)
        .withColumn(
            "store_id", F.regexp_extract("_file_name", FILENAME_PATTERN, 1)
        )
        .withColumn(
            "sale_date", F.regexp_extract("_file_name", FILENAME_PATTERN, 2)
        )
    )


def validation_errors() -> F.Column:
    """S3: the JSON-Schema constraints
    (``upload-schema.json:5-68``, jsonschema validation at
    ``process_upload.py:60-74``) as a single array-of-errors expression.
    Empty array = valid row."""
    required = [
        "transaction_id", "transaction_timestamp", "item_sku", "item_name",
        "quantity", "unit_price", "line_total", "discount_amount",
        "payment_method", "customer_id",
    ]
    checks = [
        F.when(F.col("_corrupt_record").isNotNull(), F.lit("corrupt_json")),
        F.when(
            F.col("store_id") == "", F.lit("invalid_filename")
        ),
    ]
    for c in required:
        checks.append(
            F.when(F.col(c).isNull(), F.lit(f"missing_required:{c}"))
        )
    checks += [
        F.when(F.col("quantity") < 1, F.lit("quantity_lt_1")),
        F.when(F.col("discount_amount") < 0, F.lit("discount_negative")),
        F.when(
            F.col("payment_method").isNotNull()
            & ~F.col("payment_method").isin(*PAYMENT_METHODS),
            F.lit("payment_method_not_in_enum"),
        ),
        F.when(
            F.col("transaction_timestamp").isNotNull()
            & F.try_to_timestamp(
                F.col("transaction_timestamp"),
                F.lit("yyyy-MM-dd'T'HH:mm:ss"),
            ).isNull(),
            F.lit("timestamp_not_iso8601"),
        ),
    ]
    return F.filter(F.array(*checks), lambda x: x.isNotNull())


def validate_split(
    raw: DataFrame, counts: Observation | None = None
) -> tuple[DataFrame, DataFrame]:
    """S3+S4: one scan, two streams — (valid, rejected-with-errors).

    ``counts``: optionally an observation that the valid stream's
    first action fills with the ``valid`` and ``rejected`` row counts.
    It sits below the valid filter, which Catalyst does not push
    through an observation, so that one scan sees every row."""
    checked = raw.withColumn("_errors", validation_errors())
    observed = checked if counts is None else checked.observe(
        counts,
        F.count_if(F.size("_errors") == 0).alias("valid"),
        F.count_if(F.size("_errors") > 0).alias("rejected"),
    )
    valid = (
        observed.filter(F.size("_errors") == 0)
        .withColumn(
            "ts",
            F.try_to_timestamp(
                F.col("transaction_timestamp"),
                F.lit("yyyy-MM-dd'T'HH:mm:ss"),
            ),
        )
        .withColumn("year", F.substring("sale_date", 1, 4))
        .withColumn("month", F.substring("sale_date", 6, 2))
        .withColumn("day", F.substring("sale_date", 9, 2))
        .drop("_corrupt_record", "_errors")
    )
    rejected = checked.filter(F.size("_errors") > 0).withColumn(
        "error", F.array_join("_errors", "; ")
    )
    return valid, rejected


def write_partitioned(valid: DataFrame, out_dir: str) -> None:
    """S5: typed Parquet at ``processed/year=/month=/day=/store_id=/``
    (``process_upload.py:180-206``). Dynamic partition overwrite so a
    re-uploaded store-day replaces only its own partition (the
    reference's put_item idempotency, SURVEY §2.9)."""
    (
        valid.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("year", "month", "day", "store_id")
        .parquet(out_dir)
    )


def write_quarantine(rejected: DataFrame, out_dir: str) -> None:
    """S4: rejected rows with their error reasons, grouped by source
    file (the reference copies the bad file + ``.error.json``,
    ``process_upload.py:77-113``)."""
    (
        rejected.select(
            "_file_name", "error", "_corrupt_record", "transaction_id"
        )
        .write.mode("overwrite")
        .json(out_dir)
    )


def rejected_files_with_errors(rejected: DataFrame) -> DataFrame:
    """S6+J4: the rejected-file listing joined to its error summary
    (``list-files/lambda_function.py:49-56,172-181``) — here a group-by
    since errors are columnar, not sidecar files."""
    return rejected.groupBy("_file_name").agg(
        F.count(F.lit(1)).alias("bad_rows"),
        F.concat_ws(
            "; ", F.slice(F.sort_array(F.collect_set("error")), 1, 3)
        ).alias("error_summary"),
    )


def ingest(
    spark: SparkSession, upload_dir: str, processed_dir: str,
    rejected_dir: str | None = None,
) -> tuple[int, int]:
    """End-to-end S1->S5. Returns (valid_rows, rejected_rows)."""
    raw = read_uploads(spark, upload_dir)
    # THIS run's rows, counted by the partitioned write's own scan
    # (counting processed_dir after a dynamic overwrite would also
    # count untouched partitions from earlier runs)
    counts = Observation()
    valid, rejected = validate_split(raw, counts)
    write_partitioned(valid, processed_dir)
    got = counts.get
    n_valid, n_rejected = got["valid"], got["rejected"]
    if rejected_dir and n_rejected:
        write_quarantine(rejected, rejected_dir)
    return n_valid, n_rejected


def list_partitions(spark: SparkSession, processed_dir: str) -> DataFrame:
    """S6+O6: partition listing by parsing hive-style ``k=v`` path
    segments, newest first (``list-files/lambda_function.py:95-169``
    parses the key, ``:60`` sorts by last_modified desc) —
    metadata-only against the file index."""
    files = spark.read.parquet(processed_dir).select(
        F.col("_metadata.file_path").alias("path"),
        F.col("_metadata.file_modification_time").alias("mtime"),
    )
    seg = F.split(F.col("path"), "/")
    kv = F.filter(seg, lambda s: F.contains(s, F.lit("=")))
    as_map = F.map_from_entries(
        F.transform(
            kv,
            lambda s: F.struct(
                F.split_part(s, F.lit("="), F.lit(1)).alias("k"),
                F.split_part(s, F.lit("="), F.lit(2)).alias("v"),
            ),
        )
    )
    return (
        files.withColumn("parts", as_map)
        .groupBy(
            F.col("parts")["year"].alias("year"),
            F.col("parts")["month"].alias("month"),
            F.col("parts")["day"].alias("day"),
            F.col("parts")["store_id"].alias("store_id"),
        )
        .agg(F.max("mtime").alias("last_modified"))
        .orderBy(F.desc("last_modified"))
    )


def make_upload_fixture(
    spark: SparkSession, sf_dir: str, out_dir: str, n_days: int = 3
) -> int:
    """Build reference-shaped upload JSON files from the driver's
    lineitem table: one ``store_XXXX_YYYY-MM-DD.json`` array file per
    store-day (used by tests and the streaming demo). Returns file
    count."""
    import json

    from .. import tables

    txns = tables.transactions(spark, sf_dir)
    days = [
        r[0]
        for r in txns.select("sale_date").distinct()
        .orderBy(F.desc("sale_date")).limit(n_days).collect()
    ]
    rows = (
        txns.filter(F.col("sale_date").isin(days))
        .withColumn(
            "ts_iso",
            F.concat(F.col("sale_date"), F.lit("T12:00:00")),
        )
        .collect()
    )
    by_file: dict[tuple[str, str], list[dict]] = {}
    for r in rows:
        rec = {
            "transaction_id": str(r["transaction_id"]),
            "transaction_timestamp": r["ts_iso"],
            "item_sku": str(r["item_sku"]),
            "item_name": f"part-{r['item_sku']}",
            "quantity": int(r["quantity"]),
            "unit_price": round(r["line_total"] / max(r["quantity"], 1), 2),
            "line_total": round(r["line_total"], 2),
            "discount_amount": round(r["discount_amount"], 2),
            "payment_method": {"A": "cash", "N": "credit", "R": "debit"}[
                r["payment_method"]
            ],
            "customer_id": f"CUST-{r['transaction_id'] % 500:04d}",
        }
        by_file.setdefault((r["store_id"], r["sale_date"]), []).append(rec)
    os.makedirs(out_dir, exist_ok=True)
    for (store, date), recs in by_file.items():
        with open(f"{out_dir}/store_{store}_{date}.json", "w") as f:
            json.dump(recs, f)
    return len(by_file)


def compact_partitions(
    spark: SparkSession, processed_dir: str, target_mb: int = 128
) -> DataFrame:
    """Lake maintenance (S5 companion): bin-pack each hive partition's
    small parquet files into ~``target_mb`` outputs — the OPTIMIZE /
    compaction pass every incremental sink needs, since per-microbatch
    writes (S9) and per-day upserts (S8) accumulate files far below
    the scan-efficient size. Rewrites are per-partition and atomic-ish
    (write to a sibling temp dir, then swap), so a reader never sees a
    half-compacted partition, and partitions already at one file are
    left untouched.

    Returns a report DataFrame: (partition, files_before, files_after,
    bytes) — the numbers an ops dashboard tracks.

    Scale notes: file listing and the swap are driver-side filesystem
    calls because this is maintenance, not a query; each partition's
    rewrite is a distributed read+coalesce+write sized by actual bytes
    (ceil(bytes / target)). On object stores swap becomes
    write-new + prefix flip (or use a table format's OPTIMIZE); at
    100 TB run partitions in parallel batches."""
    import math
    import shutil
    import uuid

    report = []
    for root, _dirs, files in os.walk(processed_dir):
        parts = [f for f in files if f.endswith(".parquet")]
        if len(parts) < 2:
            continue
        total = sum(os.path.getsize(os.path.join(root, f)) for f in parts)
        n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
        if n_out >= len(parts):
            continue
        df = spark.read.parquet(root)
        tmp = f"{root}__compact_{uuid.uuid4().hex[:8]}"
        df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
        old = f"{root}__old"
        os.rename(root, old)
        os.rename(tmp, root)
        shutil.rmtree(old)
        after = len(
            [f for f in os.listdir(root) if f.endswith(".parquet")]
        )
        report.append(
            (os.path.relpath(root, processed_dir), len(parts), after, total)
        )
    return spark.createDataFrame(
        report or [],
        "partition string, files_before int, files_after int, bytes long",
    )
