"""SparkSession factory tuned for this engine.

Scale notes (100 TB target):
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  dynamic broadcast conversion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE ceiling; at cluster
  scale set it ~2-3x total cores and let AQE coalesce.
- Session timezone pinned to UTC so date extraction from parquet
  timestamps is engine-independent (matches the DuckDB oracle).
- Arrow enabled for the few pandas-UDF paths (similarity, multimodal).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "smurf-analytics",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SMURF_SHUFFLE_PARTITIONS", cpus)
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # partition values stay strings: "0007" must not come back as 7
        .config(
            "spark.sql.sources.partitionColumnTypeInference.enabled",
            "false",
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SMURF_DRIVER_MEM", "8g"))
        # sized to the broadcast gather tier's ceiling: the near-dup
        # verify collects the whole corpus to the driver, and at its
        # 1M-vector bound (similarity._GATHER_VERIFY_MAX) that Arrow
        # collect is ~0.6 GB (float64 embeddings plus ids and norms),
        # over half of Spark's 1 GB default. Larger corpora are
        # refused before anything collects.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SMURF_MAX_RESULT_SIZE", "4g"),
        )
        .config("spark.ui.enabled", "false")
    )
    # deployment escape hatch for static (pre-session) confs — e.g.
    # spark.python.worker.faulthandler.enabled=true so a crashed
    # Python worker leaves a traceback instead of a bare BrokenPipe,
    # or spark.sql.sources.parallelPartitionDiscovery.threshold for a
    # long partitioned history. Format: "k=v;k=v"; malformed entries
    # are skipped.
    extra = os.environ.get("SMURF_EXTRA_CONF", "")
    for kv in extra.split(";"):
        k, sep, v = kv.partition("=")
        if sep and k.strip():
            builder = builder.config(k.strip(), v.strip())
    return builder.getOrCreate()


def clear_operator_caches(spark: SparkSession) -> None:
    """Free every DataFrame persisted by the operator layer, and the
    session state built beside them: this application's entries in
    the gate-scalar memo (``operators.memo._MEMO``: counts and
    fingerprints), the loader memo (``tables._FRAME_MEMO``) and the
    live near-dup gather broadcast. A loader entry pins its
    directory's file listing, and a gate scalar over a path is keyed
    on a plan that does not see file changes, so a directory whose
    file set changed is seen again only after this call.

    Cache lifetime is CALLER-owned: several operators persist shared
    subtrees (dedup shingles/band tables, similarity band/assignment
    tables, the daily/anomaly inputs of the multi-output insight and
    export consumers) so that logically-equal plans within — and
    across — queries reuse one materialization via Spark's cache
    manager. A short-lived job gets that reuse for free
    and the blocks die with the session; a long-lived serving session
    should call this (or ``df.unpersist()`` on handles it tracked, as
    ``pipeline.run_daily_pipeline`` does) once a batch of queries is
    done, or cached blocks accumulate for the session lifetime."""
    from . import tables
    from .operators import memo, similarity

    app = spark.sparkContext.applicationId
    for cache in (memo._MEMO, tables._FRAME_MEMO):
        for key in [k for k in cache if k[0] == app]:
            del cache[key]
    similarity._swap_gather_bc(None)
    spark.catalog.clearCache()
    # the shared store-day MVs were just unpersisted: let the next
    # registry query warm (persist) them again
    vars(spark).pop("_smurf_mv_warmed", None)


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to a session we did not build
    (the driver hands us its own session in ``entry``/``queries``)."""
    conf = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-runtime-settable on this session; fine
    return spark
