"""Ingest layer tests (S1-S6, J4): validated JSON -> partitioned
Parquet with quarantine, mirroring the reference's upload pipeline
behavior including its negative fixtures (FIXTURES.md §1)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from serverless_smurf_etl_and_analytics_spark.sources import ingest

from conftest import SF_DIR


@pytest.fixture(scope="module")
def upload_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("uploads")
    n = ingest.make_upload_fixture(spark, SF_DIR, str(d), n_days=3)
    assert n > 0
    # negative fixtures (process_upload.py:134-176 rejection paths)
    bad_rows = [
        {  # quantity < 1
            "transaction_id": "T1", "transaction_timestamp": "2001-11-04T10:00:00",
            "item_sku": "S1", "item_name": "N1", "quantity": 0,
            "unit_price": 1.00, "line_total": 1.00, "discount_amount": 0.00,
            "payment_method": "cash", "customer_id": "C1",
        },
        {  # negative discount
            "transaction_id": "T2", "transaction_timestamp": "2001-11-04T10:00:00",
            "item_sku": "S1", "item_name": "N1", "quantity": 1,
            "unit_price": 1.00, "line_total": 1.00, "discount_amount": -0.50,
            "payment_method": "cash", "customer_id": "C1",
        },
        {  # payment method outside enum
            "transaction_id": "T3", "transaction_timestamp": "2001-11-04T10:00:00",
            "item_sku": "S1", "item_name": "N1", "quantity": 1,
            "unit_price": 1.00, "line_total": 1.00, "discount_amount": 0.00,
            "payment_method": "bitcoin", "customer_id": "C1",
        },
        {  # missing required field (customer_id)
            "transaction_id": "T4", "transaction_timestamp": "2001-11-04T10:00:00",
            "item_sku": "S1", "item_name": "N1", "quantity": 1,
            "unit_price": 1.00, "line_total": 1.00, "discount_amount": 0.00,
            "payment_method": "cash",
        },
        {  # non-ISO timestamp
            "transaction_id": "T5", "transaction_timestamp": "04/11/2001 10:00",
            "item_sku": "S1", "item_name": "N1", "quantity": 1,
            "unit_price": 1.00, "line_total": 1.00, "discount_amount": 0.00,
            "payment_method": "cash", "customer_id": "C1",
        },
    ]
    (d / "store_0042_2001-11-04.json").write_text(json.dumps(bad_rows))
    # schema-valid file with a bad *filename* (invalid-filename.json:1-14)
    good_row = dict(bad_rows[0], quantity=2, transaction_id="T9")
    (d / "badname_upload.json").write_text(json.dumps([good_row]))
    # corrupt JSON file
    (d / "store_0043_2001-11-04.json").write_text("{not json]")
    return d


def test_validate_split_and_partitioned_write(spark, upload_dir, tmp_path):
    raw = ingest.read_uploads(spark, str(upload_dir))
    valid, rejected = ingest.validate_split(raw)

    errs = {
        r["error"]
        for r in rejected.select("error").distinct().collect()
    }
    joined = "; ".join(errs)
    for expected in (
        "quantity_lt_1", "discount_negative", "payment_method_not_in_enum",
        "missing_required:customer_id", "timestamp_not_iso8601",
        "invalid_filename", "corrupt_json",
    ):
        assert expected in joined, f"missing rejection reason {expected}"

    # the bad-filename file is fully rejected even though rows are valid
    badname = rejected.filter(F.col("_file_name") == "badname_upload.json")
    assert badname.count() == 1

    out = tmp_path / "processed"
    ingest.write_partitioned(valid, str(out))
    back = spark.read.parquet(str(out))
    assert back.count() == valid.count() > 0
    # hive partition columns materialized from the path
    assert {"year", "month", "day", "store_id"} <= set(back.columns)
    # partition pruning works on the layout
    one = back.filter(F.col("store_id") == "0001")
    assert one.count() > 0

    # S6: k=v path parsing matches the partitions written
    parts = ingest.list_partitions(spark, str(out))
    assert parts.count() >= one.select("year", "month", "day").distinct().count()

    # J4: rejected files joined to error summaries
    files = ingest.rejected_files_with_errors(rejected)
    got = {r["_file_name"]: r for r in files.collect()}
    assert "store_0042_2001-11-04.json" in got
    assert got["store_0042_2001-11-04.json"]["bad_rows"] == 5


def test_ingest_counts_both_streams_during_the_write(
    spark, upload_dir, tmp_path
):
    """ingest() takes the valid and rejected counts from one
    observation on the partitioned write. They equal separate counts of
    the two streams, because Catalyst keeps the valid filter above the
    observation, which therefore sees every row."""
    raw = ingest.read_uploads(spark, str(upload_dir))
    valid, rejected = ingest.validate_split(raw)
    want = (valid.count(), rejected.count())
    assert want[0] > 0 and want[1] > 0
    quarantine = tmp_path / "quarantine"
    got = ingest.ingest(
        spark, str(upload_dir), str(tmp_path / "processed"), str(quarantine)
    )
    assert got == want
    assert quarantine.is_dir()

    observed, _ = ingest.validate_split(raw, Observation())
    plan = observed._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    metrics = [i for i, line in enumerate(lines) if "CollectMetrics" in line]
    filters = [
        i for i, line in enumerate(lines)
        if "Filter" in line and "_errors" in line
    ]
    assert len(metrics) == 1 and filters
    assert max(filters) < metrics[0], plan


def test_dynamic_partition_overwrite_idempotency(spark, upload_dir, tmp_path):
    """Re-uploading one store-day replaces only that partition
    (the reference's put_item idempotency, SURVEY §2.9)."""
    raw = ingest.read_uploads(spark, str(upload_dir))
    valid, _ = ingest.validate_split(raw)
    out = tmp_path / "processed"
    ingest.write_partitioned(valid, str(out))
    n1 = spark.read.parquet(str(out)).count()
    # re-write just one store-day slice: totals must not double-count
    one_day = valid.limit(0).unionByName(
        valid.filter(F.col("store_id") == valid.first()["store_id"])
    )
    ingest.write_partitioned(one_day, str(out))
    n2 = spark.read.parquet(str(out)).count()
    assert n2 == n1


def test_compact_partitions_preserves_data(spark, tmp_path):
    """S5 companion: compaction bin-packs small files per partition
    without changing a single row, skips already-compact partitions,
    and reports what it rewrote."""
    from serverless_smurf_etl_and_analytics_spark.sources.ingest import (
        compact_partitions,
    )

    out = str(tmp_path / "processed")
    df = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("day"),
        F.col("id").alias("v"),
    )
    # 8 small files per partition
    df.repartition(8).write.partitionBy("day").parquet(out)
    before = sorted(
        (r["day"], r["v"]) for r in spark.read.parquet(out).collect()
    )
    rep = compact_partitions(spark, out, target_mb=128)
    rows = {r["partition"]: r for r in rep.collect()}
    assert rows, "nothing compacted"
    for r in rows.values():
        assert r["files_after"] < r["files_before"]
        assert r["files_after"] == 1  # tiny data -> one bin
    after = sorted(
        (r["day"], r["v"]) for r in spark.read.parquet(out).collect()
    )
    assert after == before
    # second pass is a no-op: everything already one file per partition
    assert compact_partitions(spark, out, target_mb=128).count() == 0


def test_partitioned_sink_schema_evolution(spark, tmp_path):
    """Late-added columns must not break the partitioned sink: a new
    day's upload carrying an extra column coexists with old
    partitions; a mergeSchema read sees the union with NULLs for old
    rows (the robustness a multi-month 100 TB lake needs when the
    upstream schema grows)."""
    out = str(tmp_path / "evolving")
    v1 = spark.createDataFrame(
        [("2024-01-01", "0001", 100)],
        "day string, store string, sales long",
    )
    v1.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("day").parquet(out)
    v2 = spark.createDataFrame(
        [("2024-01-02", "0001", 200, "NEWYEAR")],
        "day string, store string, sales long, promo_code string",
    )
    v2.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("day").parquet(out)
    got = {
        r["day"]: r
        for r in spark.read.option("mergeSchema", "true")
        .parquet(out)
        .collect()
    }
    assert got["2024-01-01"]["sales"] == 100
    assert got["2024-01-01"]["promo_code"] is None
    assert got["2024-01-02"]["promo_code"] == "NEWYEAR"
