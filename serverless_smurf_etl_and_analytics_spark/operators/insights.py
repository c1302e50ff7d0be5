"""Deterministic insights layer (SURVEY.md §2.10, §2.2 P5, A18).

In the reference, anomaly/trend/recommendation rows are produced by an
LLM that *labels* pre-computed statistics
(``detect-anomalies/lambda_function.py:139-301``,
``analyze-trends/lambda_function.py:284-475``,
``generate-recommendations/lambda_function.py:48-171``) — all numeric
work happens before the model. Here the statistical layer is exact
(operators/history.py) and the labeling is the documented threshold
ladder, implemented as ``when``-chains:

- severity: |deviation| > 50% => critical, 25-50% => warning
  (``detect-anomalies/lambda_function.py:268-271``)
- taxonomy: sudden_spike / sudden_drop by deviation sign (the
  historical_low|historical_high|peer_outlier labels in the prompt
  taxonomy at ``:256`` need model judgment; the two deterministic ones
  are implemented, the rest stay with the optional LLM UDF)
- recommendations: priority ladder high < medium < low (O5 sort,
  ``generate-recommendations/lambda_function.py:210-211``)

Insight ids in the reference are ``uuid4()[:8]``
(``combine-insights/lambda_function.py:39``) — nondeterministic and
excluded here; a deterministic ``md5(type|store|date)`` surrogate keeps
rows addressable without breaking golden comparisons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .history import (
    deviation_from_daily,
    store_daily_cents,
    trend_from_daily,
)


def shared_insight_frames(
    txns: DataFrame, min_days: int = 3
) -> dict[str, DataFrame]:
    """The insight chain's four lazy frames over one fact table: the
    store_daily_cents MV, the anomaly set, and the trend and
    recommendation plans derived from them. Nothing is persisted here:
    the multi-output consumers (export_datasets, export_manifest,
    combine_insights, report.render_report) persist ``daily`` and
    ``an`` themselves, so one fact scan feeds every branch; a one-shot
    consumer builds only the frame it returns and pins no cache."""
    daily = store_daily_cents(txns)
    an = classify_anomalies_from_daily(daily, min_days)
    return {
        "daily": daily,
        "an": an,
        "trends": trend_insights_from_daily(daily),
        "recs": recommendations_from(an),
    }


def classify_anomalies(txns: DataFrame, min_days: int = 3) -> DataFrame:
    """Anomaly rows: store-days whose deviation vs the trailing average
    exceeds ±25%, with the reference's severity ladder."""
    return classify_anomalies_from_daily(store_daily_cents(txns), min_days)


def classify_anomalies_from_daily(
    daily: DataFrame, min_days: int = 3
) -> DataFrame:
    """classify_anomalies over a shared (often persisted)
    store_daily_cents input — multi-output consumers derive every
    branch from ONE fact scan, mirroring the reference's persisted
    store_daily MV (``write-metrics/lambda_function.py:77-104``)."""
    dev = deviation_from_daily(daily, min_days)
    sev = (
        F.when(F.abs(F.col("deviation_pct")) > 50.0, F.lit("critical"))
        .when(F.abs(F.col("deviation_pct")) > 25.0, F.lit("warning"))
    )
    kind = F.when(F.col("deviation_pct") > 0, F.lit("sudden_spike")).otherwise(
        F.lit("sudden_drop")
    )
    return (
        dev.filter(F.abs(F.col("deviation_pct")) > 25.0)
        .select(
            "store_id",
            "sale_date",
            F.lit("anomaly").alias("insight_type"),
            kind.alias("anomaly_type"),
            sev.alias("severity"),
            F.col("today_sales").alias("metric_value"),
            "deviation_pct",
            F.md5(
                F.concat_ws("|", F.lit("anomaly"), "store_id", "sale_date")
            ).alias("insight_id"),
        )
    )


def trend_insights(txns: DataFrame) -> DataFrame:
    """Trend rows: stores whose ±5% recent-vs-earlier direction is not
    stable (insufficient_data rows are dropped, mirroring the >=
    history gates)."""
    return trend_insights_from_daily(store_daily_cents(txns))


def trend_insights_from_daily(daily: DataFrame) -> DataFrame:
    """trend_insights over a shared store_daily_cents input."""
    t = trend_from_daily(daily)
    return (
        t.filter(F.col("trend_direction").isin("increasing", "decreasing"))
        .select(
            "store_id",
            "sale_date",
            F.lit("trend").alias("insight_type"),
            "trend_direction",
            F.col("today_sales").alias("metric_value"),
            F.md5(
                F.concat_ws("|", F.lit("trend"), "store_id", "sale_date")
            ).alias("insight_id"),
        )
    )


def recommendations(txns: DataFrame) -> DataFrame:
    """Recommendation rows from the anomaly set: the deterministic rule
    ladder (critical drop => urgent investigation; warning drop =>
    review; spike => restock), with the O5 priority sort key."""
    return recommendations_from(classify_anomalies(txns))


def recommendations_from(an: DataFrame) -> DataFrame:
    """recommendations derived from an existing anomaly DataFrame —
    consumers that emit both anomalies AND recommendations reuse one
    (persisted) anomaly set instead of evaluating the window chain
    twice."""
    action = (
        F.when(
            (F.col("anomaly_type") == "sudden_drop")
            & (F.col("severity") == "critical"),
            F.lit("investigate_store_operations"),
        )
        .when(F.col("anomaly_type") == "sudden_drop", F.lit("review_pricing"))
        .otherwise(F.lit("increase_inventory"))
    )
    priority = (
        F.when(F.col("severity") == "critical", F.lit("high"))
        .when(F.col("anomaly_type") == "sudden_drop", F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    priority_rank = (
        F.when(priority == "high", 1)
        .when(priority == "medium", 2)
        .otherwise(3)
        .cast("int")
    )
    return an.select(
        "store_id",
        "sale_date",
        F.lit("recommendation").alias("insight_type"),
        action.alias("action"),
        priority.alias("priority"),
        priority_rank.alias("priority_rank"),
        "deviation_pct",
        F.md5(
            F.concat_ws("|", F.lit("recommendation"), "store_id", "sale_date")
        ).alias("insight_id"),
    )


def combine_insights(txns: DataFrame) -> DataFrame:
    """CombineInsights (``combine-insights/lambda_function.py:105-208``):
    merge the three result sets into one discriminated table. Columns
    not applicable to a type are null (P5: the reference strips None
    attributes before write; Spark keeps nullable columns).

    One fact scan total: store_daily_cents is persisted and feeds both
    the anomaly and trend branches; the anomaly set is persisted and
    feeds both its own rows and the recommendations — the union's three
    branches read materialized inputs instead of re-running the window
    chain per branch."""
    frames = shared_insight_frames(txns)
    frames["daily"].persist(StorageLevel.MEMORY_AND_DISK)
    an = frames["an"].persist(StorageLevel.MEMORY_AND_DISK).select(
        "insight_id", "insight_type", "store_id", "sale_date",
        F.col("anomaly_type").alias("detail"), "severity",
        F.lit(None).cast("string").alias("priority"),
        "deviation_pct",
    )
    tr = frames["trends"].select(
        "insight_id", "insight_type", "store_id", "sale_date",
        F.col("trend_direction").alias("detail"),
        F.lit(None).cast("string").alias("severity"),
        F.lit(None).cast("string").alias("priority"),
        F.lit(None).cast("double").alias("deviation_pct"),
    )
    re = frames["recs"].select(
        "insight_id", "insight_type", "store_id", "sale_date",
        F.col("action").alias("detail"),
        F.lit(None).cast("string").alias("severity"),
        "priority",
        "deviation_pct",
    )
    return an.unionByName(tr).unionByName(re)


def llm_classify(txns: DataFrame, classify_fn=None) -> DataFrame:
    """Optional LLM-classifier interface (SURVEY §2.10): the reference's
    Bedrock stage labels PRE-COMPUTED statistics with the taxonomy
    ``historical_low|historical_high|sudden_drop|sudden_spike|
    peer_outlier`` (``detect-anomalies/lambda_function.py:256``) — all
    numeric work happens before the model; the model only labels. Here
    the interface batches the deviation table through an Arrow
    ``mapInPandas`` stage:

    - ``classify_fn(pdf) -> iterable of labels`` is the pluggable model
      call (one batch = one prompt batch; ``llm_adapter.make_classify_fn``
      is the real backend: prompt-format -> OpenAI-compatible transport
      -> the markdown-fence extraction of ``:279-301`` -> row-aligned
      labels);
    - with no explicit ``classify_fn``, the env gate
      (``llm_adapter.classify_fn_from_env``: SMURF_LLM_BASE_URL) is
      consulted, so a deployment reaches a real model by config alone;
    - the offline default is a DETERMINISTIC FAKE mirroring the
      documented thresholds, so tests run offline and reproducibly.

    Deliberately NOT in the oracle path: a model-backed classifier is
    nondeterministic by nature (SURVEY §5 — rows-only checks at best).
    """
    from . import llm_adapter
    from .history import deviation_vs_trailing

    if classify_fn is None:
        classify_fn = llm_adapter.classify_fn_from_env()

    dev = deviation_vs_trailing(txns)

    def default_fake(pdf):
        labels = []
        for d in pdf["deviation_pct"]:
            if d is None:
                labels.append("peer_outlier")
            elif d <= -50:
                labels.append("historical_low")
            elif d >= 50:
                labels.append("historical_high")
            elif d <= -25:
                labels.append("sudden_drop")
            elif d >= 25:
                labels.append("sudden_spike")
            else:
                labels.append("peer_outlier")
        return labels

    fn = classify_fn or default_fake

    def classify(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = pdf[
                ["store_id", "sale_date", "today_sales", "deviation_pct"]
            ].copy()
            out["label"] = list(fn(pdf))
            yield out

    return dev.mapInPandas(
        classify,
        "store_id string, sale_date string, today_sales double, "
        "deviation_pct double, label string",
    )


def insight_summary(txns: DataFrame) -> DataFrame:
    """A18: counts by insight type over the combined set
    (``combine-insights/lambda_function.py:169-204``)."""
    return combine_insights(txns).groupBy("insight_type").agg(
        F.count(F.lit(1)).alias("insight_count"),
        # the distinct shuffle here runs over the already-tiny insight
        # set (post-classify anomaly/trend rows), so folding it into a
        # collect_set measured no faster at sf0.1 (r13) — left as-is.
        F.countDistinct("store_id").alias("stores_affected"),
    )
