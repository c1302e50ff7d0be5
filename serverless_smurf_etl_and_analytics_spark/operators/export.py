"""BI export layer (SURVEY.md §2.1 S7): the reference's five flattened
NDJSON datasets + manifest (``export-to-quicksight/lambda_function.py:
180-328`` builds the flat rows, ``:331-388`` writes NDJSON + manifest).

Spark-first shape: each dataset is ONE range-filtered declarative query
(the reference loops one DynamoDB query per date,
``export-to-quicksight/lambda_function.py:57-94`` — an O(days)
round-trip anti-pattern SURVEY §4 says not to port). The NDJSON sink is
Spark's native JSON writer (NDJSON by construction).

Scale notes:
- No ``coalesce(1)``: at 100 TB an export must stay parallel; the
  manifest lists every part file the way the reference's manifest lists
  its dataset URIs. ``single_file=True`` exists for small serving
  extracts only.
- The description strings use C-style ``format_string`` so the DuckDB
  oracle (``printf``) produces byte-identical text.
"""

from __future__ import annotations

import json
import os
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..concurrent_writes import write_all
from .insights import (
    classify_anomalies,
    recommendations,
    shared_insight_frames,
    trend_insights,
)
from .metrics import store_day_metrics, top_products_per_store_day


def export_store_summaries(
    txns: DataFrame, start: str, end: str
) -> DataFrame:
    """Flattened store_summaries dataset
    (``export-to-quicksight/lambda_function.py:180-214``): one row per
    (date, store) in the export range, serving-cast floats.

    The range filter lands on the FACTS, before the aggregation —
    exact, because sale_date is a group key and every exported metric
    is a per-(store, day) quantity. Aggregating all history and then
    filtering (the r9 shape) rode the session-cached MV when warm but
    paid the full-history build cold: measured at sf10 (60M rows,
    1.2% in range), 30.2 s -> 2.6 s. At 100 TB the difference is a
    full fact scan vs a date-pruned one; a pipeline deployment serves
    this from the PERSISTED store_daily MV instead
    (``pipeline.run_daily_pipeline`` phase C), which its sale_date
    partitioning prunes the same way."""
    return _export_store_summaries_from(
        store_day_metrics(txns.filter(F.col("sale_date").between(start, end)))
    )


def _export_store_summaries_from(daily: DataFrame) -> DataFrame:
    """x1's serving shape of an A1-shaped store-day frame already cut
    to the export window: ``metrics.store_day_metrics`` over the
    range's facts, the pipeline's store_daily, or
    ``metrics.store_day_dollars`` of the ``history.STORE_DAILY``
    artifact."""
    return daily.select(
        F.col("sale_date").alias("date"),
        "store_id",
        F.concat(F.lit("Store "), F.col("store_id")).alias("store_name"),
        "total_sales",
        F.col("transaction_count").alias("transactions"),
        F.col("item_count").alias("items_sold"),
        F.col("avg_transaction").alias("average_transaction"),
    )


def _ranked_top5_shared(txns: DataFrame, start: str, end: str) -> DataFrame:
    """The range-filtered per-(store, day) top-5 rank rows, persisted
    (r14, guide §2.1): x2's dataset and x6's manifest row count are
    both row-preserving consumers of this exact subtree, so the cache
    manager dedupes their persists into one session-lifetime
    materialization and the rank window runs once. Caller-owned
    lifetime like every operator cache
    (``session.clear_operator_caches``)."""
    return top_products_per_store_day(
        txns.filter(F.col("sale_date").between(start, end)), 5
    ).persist(StorageLevel.MEMORY_AND_DISK)


def export_top_products(txns: DataFrame, start: str, end: str) -> DataFrame:
    """Flattened top_products dataset
    (``export-to-quicksight/lambda_function.py:217-248``): the per-store
    top-5 lists exploded to flat (date, store, rank, sku) rows — same
    intentional top-5-only lossiness as A6 parity mode.

    Range filter on the FACTS (exact: ranks are computed within each
    (store, day) group independently) — see
    :func:`export_store_summaries` for the measured rationale."""
    return _export_top_products_from(_ranked_top5_shared(txns, start, end))


def _export_top_products_from(top5: DataFrame) -> DataFrame:
    """x2's serving shape of per-(store, day) top-5 rank rows already
    cut to the export window: the facts' rank step or store_daily's
    nested lists (``metrics.top_products_long``)."""
    return top5.select(
        F.col("sale_date").alias("date"),
        "store_id",
        "rank",
        F.col("item_sku").alias("sku"),
        F.concat(F.lit("part-"), F.col("item_sku").cast("string")).alias(
            "product_name"
        ),
        F.col("units").alias("units_sold"),
        "revenue",
    )


def export_anomalies(txns: DataFrame) -> DataFrame:
    """Flattened anomalies dataset
    (``export-to-quicksight/lambda_function.py:251-285``) with the
    human-readable description line the reference assembles per row."""
    return _export_anomalies_from(classify_anomalies(txns))


def _export_anomalies_from(an: DataFrame) -> DataFrame:
    desc = F.format_string(
        "%s %s at store %s: %.1f%% vs trailing average",
        F.col("severity"),
        F.col("anomaly_type"),
        F.col("store_id"),
        F.col("deviation_pct"),
    )
    return an.select(
        F.col("sale_date").alias("date"),
        "store_id",
        F.col("anomaly_type").alias("type"),
        "severity",
        "deviation_pct",
        desc.alias("description"),
    )


def export_trends(txns: DataFrame) -> DataFrame:
    """Flattened trends dataset
    (``export-to-quicksight/lambda_function.py:288-307``)."""
    return _export_trends_from(trend_insights(txns))


def _export_trends_from(tr: DataFrame) -> DataFrame:
    desc = F.format_string(
        "store %s %s on %s",
        F.col("store_id"),
        F.col("trend_direction"),
        F.col("sale_date"),
    )
    return tr.select(
        F.col("sale_date").alias("date"),
        "store_id",
        F.col("trend_direction").alias("direction"),
        F.col("metric_value").alias("sales"),
        desc.alias("description"),
    )


def export_recommendations(txns: DataFrame) -> DataFrame:
    """Flattened recommendations dataset
    (``export-to-quicksight/lambda_function.py:310-328``), with the O5
    priority rank as the sort key and an array_join'd affected list
    (``:283-284`` uses ``', '.join(affected_items)``)."""
    return _export_recommendations_from(recommendations(txns))


def _export_recommendations_from(re: DataFrame) -> DataFrame:
    affected = F.array_join(
        F.array(F.concat(F.lit("Store "), F.col("store_id"))), ", "
    )
    return re.select(
        F.col("sale_date").alias("date"),
        "priority",
        "priority_rank",
        "action",
        affected.alias("affected"),
        F.format_string(
            "[%s] %s (%.1f%%)",
            F.col("priority"),
            F.col("action"),
            F.col("deviation_pct"),
        ).alias("description"),
    )


def export_datasets(
    txns: DataFrame, start: str, end: str
) -> dict[str, DataFrame]:
    """The five datasets of one export run, keyed by dataset name.

    The insight-derived datasets share ONE persisted store_daily_cents
    and ONE persisted anomaly set — a single fact scan feeds anomalies,
    trends, and recommendations, instead of each dataset re-running the
    whole window chain (the reference rereads its persisted store_daily
    MV the same way, SURVEY §4). The single-dataset entry points
    (:func:`export_anomalies` and its siblings) build only their own
    chain and persist nothing."""
    frames = shared_insight_frames(txns)
    frames["daily"].persist(StorageLevel.MEMORY_AND_DISK)
    frames["an"].persist(StorageLevel.MEMORY_AND_DISK)
    return {
        "store_summaries": export_store_summaries(txns, start, end),
        "top_products": export_top_products(txns, start, end),
        "anomalies": _export_anomalies_from(frames["an"]),
        "trends": _export_trends_from(frames["trends"]),
        "recommendations": _export_recommendations_from(frames["recs"]),
    }


# dataset -> len(columns), filled once per process from the REAL
# dataset plans (export_manifest's first build). Column counts are a
# pure function of the builders' select lists — no data dependence —
# so the memo cannot go stale against anything but a code edit, which
# replaces the process. Memoizing them saves rebuilding and
# re-analyzing all five dataset plans (~1.4 s of driver time, the
# dominant cost of every x6 call after the first — measured r14).
_MANIFEST_NCOLS: dict[str, int] = {}


def export_manifest(txns: DataFrame, start: str, end: str) -> DataFrame:
    """Manifest as data: dataset name + row count + column count
    (the reference manifest lists each dataset's files and sizes,
    ``export-to-quicksight/lambda_function.py:363-388``).

    Counts come from the narrowest shared source (r11/r14): the
    store_summaries row count is the (store, day) group count in
    range, read off the SAME persisted store_daily_cents MV the three
    insight datasets already consume — exact, because sale_date is a
    group key, so filtering the full-history MV to the range yields
    precisely the groups of the range-filtered facts; it also skips
    the dataset plan's countDistinct(transaction_id) shuffle, which a
    bare row count never needed. top_products counts the persisted
    rank rows x2 serves (:func:`_ranked_top5_shared` — the dataset is
    a row-preserving select over them, so the counts are equal by
    construction), and the three insight counts read the persisted
    daily/anomaly frames directly — no dataset plan is rebuilt for
    counting. column_count still comes from the real dataset plans
    (``_MANIFEST_NCOLS``, built once per process from
    :func:`export_datasets`), so the manifest can never drift from
    what ``write_ndjson_export`` writes."""
    if not _MANIFEST_NCOLS:
        _MANIFEST_NCOLS.update(
            {
                name: len(df.columns)
                for name, df in export_datasets(txns, start, end).items()
            }
        )
    frames = shared_insight_frames(txns)
    daily = frames["daily"].persist(StorageLevel.MEMORY_AND_DISK)
    an = frames["an"].persist(StorageLevel.MEMORY_AND_DISK)
    count_src = {
        "store_summaries": daily.filter(
            F.col("sale_date").between(start, end)
        ),
        "top_products": _ranked_top5_shared(txns, start, end),
        "anomalies": an,
        "trends": _export_trends_from(frames["trends"]),
        "recommendations": frames["recs"],
    }
    parts = [
        count_src[name]
        .agg(F.count(F.lit(1)).alias("row_count"))
        .select(
            F.lit(name).alias("dataset"),
            "row_count",
            F.lit(_MANIFEST_NCOLS[name]).cast("int").alias("column_count"),
        )
        for name in count_src
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_ndjson_export(
    datasets: dict[str, DataFrame], out_dir: str, single_file: bool = False
) -> dict:
    """S7 sink: write each dataset as NDJSON (Spark's JSON writer is
    JSON-lines natively, matching ``wr.s3.to_json(..., lines=True)`` at
    ``export-to-quicksight/lambda_function.py:331-360``) plus a
    ``manifest.json`` naming every part file per dataset. The datasets
    are written concurrently (``concurrent_writes.write_all``); the
    manifest is written only after every one of them committed."""
    paths = {name: os.path.join(out_dir, name) for name in datasets}
    write_all(
        {
            name: partial(
                (df.coalesce(1) if single_file else df)
                .write.mode("overwrite").json,
                paths[name],
            )
            for name, df in datasets.items()
        }
    )
    manifest: dict = {"datasets": {}}
    for name, df in datasets.items():
        files = sorted(
            f for f in os.listdir(paths[name])
            if f.startswith("part-") and f.endswith(".json")
        )
        manifest["datasets"][name] = {
            "path": paths[name],
            "files": files,
            "columns": df.columns,
        }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest
