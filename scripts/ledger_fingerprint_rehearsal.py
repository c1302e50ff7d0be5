"""Measured proof of the r9 O(ledger) fingerprint path at rehearsal
scale: how much of a "cached" cold ANN query was the per-session
corpus fingerprint scan, and that the ledger pair removes exactly it.

Two phases (run in SEPARATE processes — the artifact-hit cost being
measured is a cross-session cold cost):

``setup``   — commit the sf10 embeddings into a tablelog-managed
              table with ``fingerprint_cols`` (timing the commit both
              with and without fingerprinting: the recording overhead
              rides the staged-shard scan the commit already does),
              then run sim2 once so the band artifact exists (the
              maintained-pipeline warm state).
``measure-ledger`` / ``measure-scan`` — each in its OWN fresh
              process (a shared session orders one variant behind the
              other's JVM/parquet/worker warmup and the bias swamps
              the delta — measured 25.1 vs 19.9 s for IDENTICAL
              artifact-hit plans when run back-to-back): sim2 cold
              fed the LEDGER pair (zero corpus scans before the
              artifact read) vs sim2 cold on the default scan path.
              ``measure-ledger`` also times the full-scan fingerprint
              alone — the exact stage the ledger eliminates — and
              asserts ledger pair == scan pair.

Usage:
    python scripts/ledger_fingerprint_rehearsal.py setup          [SF_DIR] [WORK]
    python scripts/ledger_fingerprint_rehearsal.py measure-ledger [SF_DIR] [WORK] [OUT_JSON]
    python scripts/ledger_fingerprint_rehearsal.py measure-scan   [SF_DIR] [WORK] [OUT_JSON]
Defaults: /root/repo/.scratch/sf10  /root/repo/.scratch/ledger_rehearsal
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from serverless_smurf_etl_and_analytics_spark.operators import (  # noqa: E402
    artifacts,
    similarity,
)
from serverless_smurf_etl_and_analytics_spark.session import get_spark  # noqa: E402
from serverless_smurf_etl_and_analytics_spark.sources import tablelog  # noqa: E402

EMB_COLS = ["vec_id", "embedding"]


def _spark():
    spark = get_spark(
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def setup(sf_dir: str, work: str) -> None:
    spark = _spark()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    os.makedirs(work, exist_ok=True)
    t0 = time.monotonic()
    tablelog.commit_version(
        spark, os.path.join(work, "emb_plain"), emb, mode="overwrite"
    )
    t_plain = time.monotonic() - t0
    t0 = time.monotonic()
    tablelog.commit_version(
        spark,
        os.path.join(work, "emb_fp"),
        emb,
        mode="overwrite",
        fingerprint_cols=EMB_COLS,
    )
    t_fp = time.monotonic() - t0
    # warm state: band artifact built once by the pipeline
    cache = os.path.join(work, "artifact_cache")
    tdir = os.path.join(work, "emb_fp")
    # read_snapshot pins ONE head for both the rows and the
    # fingerprint — the unpinned two-call form can pair version N's
    # cache key with version N+1's data under a concurrent commit
    emb_fp, fp, _ = tablelog.read_snapshot(spark, tdir, EMB_COLS)
    t0 = time.monotonic()
    n = similarity.cosine_neardup_pairs(
        emb_fp,
        0.3,
        band_cache=cache,
        fingerprint=fp,
    ).count()
    t_first = time.monotonic() - t0
    print(
        json.dumps(
            {
                "phase": "setup",
                "commit_sec_plain": round(t_plain, 2),
                "commit_sec_with_fingerprint": round(t_fp, 2),
                "first_contact_query_sec": round(t_first, 2),
                "pairs": n,
            }
        )
    )


def measure(
    sf_dir: str, work: str, variant: str, out_json: str | None
) -> None:
    spark = _spark()
    tdir = os.path.join(work, "emb_fp")
    cache = os.path.join(work, "artifact_cache")
    # pinned snapshot: rows + fingerprint from the SAME head
    emb, led_fp, _ = tablelog.read_snapshot(spark, tdir, EMB_COLS)

    result = {"sf_dir": sf_dir, "variant": variant}
    if variant == "ledger":
        # the stage the ledger eliminates, measured alone (runs
        # first, so it also absorbs this process's JVM warmup the
        # same way the scan variant's in-query scan does)
        t0 = time.monotonic()
        scan_fp = artifacts.corpus_fingerprint(emb, EMB_COLS)
        result["fingerprint_full_scan_alone_sec"] = round(
            time.monotonic() - t0, 2
        )
        assert led_fp == scan_fp, (led_fp, scan_fp)
        result["ledger_equals_scan_fingerprint"] = True
        t0 = time.monotonic()
        result["pairs"] = similarity.cosine_neardup_pairs(
            emb, 0.3, band_cache=cache, fingerprint=led_fp
        ).count()
        result["sim2_cold_sec"] = round(time.monotonic() - t0, 2)
    else:
        t0 = time.monotonic()
        result["pairs"] = similarity.cosine_neardup_pairs(
            emb, 0.3, band_cache=cache
        ).count()
        result["sim2_cold_sec"] = round(time.monotonic() - t0, 2)

    line = json.dumps(result)
    print(line)
    if out_json:
        with open(out_json, "a") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    phase = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/repo/.scratch/sf10"
    work = (
        sys.argv[3]
        if len(sys.argv) > 3
        else "/root/repo/.scratch/ledger_rehearsal"
    )
    if phase == "setup":
        setup(sf_dir, work)
    else:
        measure(
            sf_dir,
            work,
            phase.split("-", 1)[1],
            sys.argv[4] if len(sys.argv) > 4 else None,
        )
