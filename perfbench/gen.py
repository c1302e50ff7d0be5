"""Seeded input generator owned by the benchmark.

Builds a TPC-H-shaped retail slice (the ten tables the engine reads)
and, for the newest dates, reference-shaped upload files
(``store_XXXX_YYYY-MM-DD.json``, one JSON array per store-day). Every
value comes from one ``numpy`` generator seeded with the run's seed; DuckDB
(single-threaded) writes the parquet files and shapes the upload
records, so the same seed and profile give byte-identical inputs.

The engine is never called here: a change under test cannot change its
own inputs. A seed-chosen share of upload files is malformed (corrupt
JSON, a payment method outside the enum, or quantity 0) and the
expected valid and rejected row counts per date are recorded in
``manifest.json`` next to the tables.

Used by ``run.py``: ``generate(out_dir, seed, profile)``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import re
import shutil

import duckdb
import numpy as np
import pyarrow as pa

# Upload file-name contract, as in the engine's schema.FILENAME_PATTERN
# (kept here so the generator imports nothing from the engine).
FILENAME_PATTERN = r"store_(\d{4})_(\d{4}-\d{2}-\d{2})\.json"
PAYMENT_OF_FLAG = {"A": "cash", "N": "credit", "R": "debit"}
BAD_PAYMENT = "barter"

# Input sizes per profile. ``n_dates`` ship dates end at ``last_date``;
# the newest ``upload_dates`` of them also get upload files.
PROFILES = {
    "daily": dict(
        stores=40, parts=1500, customers=1000, facts=3200, n_dates=8,
        upload_dates=1, events=2000, users=60, documents=300,
        embeddings=300,
    ),
    "queries": dict(
        stores=20, parts=400, customers=300, facts=8000, n_dates=730,
        upload_dates=0, events=2000, users=30, documents=500,
        embeddings=500,
    ),
    "toy": dict(
        stores=10, parts=200, customers=150, facts=600, n_dates=6,
        upload_dates=1, events=300, users=15, documents=120,
        embeddings=120,
    ),
}
LAST_DATE = dt.date(2001, 11, 4)
BAD_FILE_SHARE = 0.04  # per malformation kind, at least one file each

ADJECTIVES = ["small", "blue", "cold", "old", "new", "hot", "red", "large"]
NOUNS = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
LANGS = ["en", "zh", "de", "es", "fr"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = (
    "the fast key order sort table scan merge part window small hash "
    "join batch stream spark dup group query row data slow filter "
    "customer line value column agg vector a big"
).split()


def _ts(days: np.ndarray, base: dt.date) -> pa.Array:
    """Midnight timestamps ``base + days``."""
    epoch = np.datetime64(base.isoformat(), "us")
    return pa.array(epoch + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int):
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def build_tables(rng: np.random.Generator, p: dict) -> dict[str, pa.Table]:
    first = LAST_DATE - dt.timedelta(days=p["n_dates"] - 1)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, npart = p["customers"], p["stores"], p["parts"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -99999, 999999, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -99999, 999999, ns),
    })
    tables["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, npart),
                            rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": (9000 + np.arange(npart) % 200) / 10.0,
    })

    # orders of 1-7 lines; lines ship within 3 days of the order's
    # base date, clipped to the slice
    nf = p["facts"]
    n_orders = nf // 3
    lines = rng.integers(1, 8, n_orders)
    lines = lines[: int(np.searchsorted(np.cumsum(lines), nf)) + 1]
    lines[-1] -= int(lines.sum()) - nf
    n_orders = len(lines)
    base = rng.integers(0, p["n_dates"], n_orders)
    order_of = np.repeat(np.arange(n_orders), lines)
    ship = np.minimum(
        base[order_of] + rng.integers(0, 3, nf), p["n_dates"] - 1
    )
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, n_orders),
        "o_orderstatus": [
            "FOP"[i] for i in rng.integers(0, 3, n_orders)
        ],
        "o_totalprice": _money(rng, 100000, 50000000, n_orders),
        "o_orderdate": _ts(base - rng.integers(0, 30, n_orders), first),
        "o_orderpriority": [
            PRIORITIES[i] for i in rng.integers(0, 5, n_orders)
        ],
    })
    linenumber = np.arange(nf) - np.repeat(np.cumsum(lines) - lines, lines)
    tables["lineitem"] = pa.table({
        "l_orderkey": order_of.astype(np.int64),
        "l_partkey": rng.integers(0, npart, nf),
        "l_suppkey": rng.integers(0, ns, nf),
        "l_linenumber": (linenumber + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nf).astype(np.float64),
        "l_extendedprice": _money(rng, 90000, 10500000, nf),
        "l_discount": rng.integers(0, 11, nf) / 100.0,
        "l_tax": rng.integers(0, 9, nf) / 100.0,
        "l_returnflag": ["ANR"[i] for i in rng.integers(0, 3, nf)],
        "l_linestatus": ["OF"[i] for i in rng.integers(0, 2, nf)],
        "l_shipdate": _ts(ship, first),
    })

    ne = p["events"]
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, p["users"], ne),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": _money(rng, 1, 40000, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    # documents: random word sequences, ~15% near-duplicates of an
    # earlier document with one or two words replaced
    texts: list[str] = []
    for i in range(p["documents"]):
        if i > 10 and rng.random() < 0.15:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
        else:
            n = int(rng.integers(8, 90))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), n)]
        texts.append(" ".join(words))
    nd = p["documents"]
    tables["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    # embeddings: unit vectors around 10 labelled centroids
    nv = p["embeddings"]
    centroids = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, nv)
    vec = centroids[label] + 0.6 * rng.normal(size=(nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return tables


UPLOAD_SQL = """
SELECT lpad(cast(l_suppkey AS varchar), 4, '0')      AS store_id,
       strftime(l_shipdate, '%Y-%m-%d')              AS sale_date,
       cast(l_orderkey AS varchar)                   AS transaction_id,
       cast(l_partkey AS varchar)                    AS item_sku,
       cast(l_quantity AS integer)                   AS quantity,
       round(l_extendedprice, 2)                     AS line_total,
       round(l_extendedprice * l_discount, 2)        AS discount_amount,
       l_returnflag                                  AS flag,
       l_orderkey % 500                              AS cust
FROM lineitem
WHERE strftime(l_shipdate, '%Y-%m-%d') IN (SELECT unnest(?::varchar[]))
ORDER BY store_id, sale_date, l_orderkey, l_linenumber
"""


def write_uploads(
    con: duckdb.DuckDBPyConnection, rng: np.random.Generator,
    dates: list[str], root: str,
) -> dict:
    """One upload directory per date; returns the expected ingest
    outcome per date."""
    files: dict[tuple[str, str], list[dict]] = {}
    for r in con.execute(UPLOAD_SQL, [dates]).fetchall():
        store, date, txn, sku, qty, total, disc, flag, cust = r
        files.setdefault((store, date), []).append({
            "transaction_id": txn,
            "transaction_timestamp": "%sT%02d:%02d:%02d" % (
                date, rng.integers(0, 24), rng.integers(0, 60),
                rng.integers(0, 60),
            ),
            "item_sku": sku,
            "item_name": f"part-{sku}",
            "quantity": qty,
            "unit_price": round(total / qty, 2),
            "line_total": total,
            "discount_amount": disc,
            "payment_method": PAYMENT_OF_FLAG[flag],
            "customer_id": f"CUST-{cust:04d}",
        })
    keys = sorted(files)
    # three disjoint seed-chosen sets of files, one per malformation
    n_bad = max(1, int(round(BAD_FILE_SHARE * len(keys))))
    pick = rng.permutation(len(keys))
    corrupt = {keys[i] for i in pick[:n_bad]}
    bad_enum = {keys[i] for i in pick[n_bad: 2 * n_bad]}
    qty_zero = {keys[i] for i in pick[2 * n_bad: 3 * n_bad]}
    expected = {
        d: {"files": 0, "valid": 0, "rejected": 0, "bytes": 0} for d in dates
    }
    for key in keys:
        store, date = key
        recs = files[key]
        exp = expected[date]
        if key in bad_enum:
            recs[int(rng.integers(0, len(recs)))]["payment_method"] = BAD_PAYMENT
        if key in qty_zero:
            recs[int(rng.integers(0, len(recs)))]["quantity"] = 0
        text = json.dumps(recs)
        if key in corrupt:
            # truncated upload: the whole file is one corrupt record
            text = text[: len(text) // 2]
            exp["rejected"] += 1
        else:
            bad = (key in bad_enum) + (key in qty_zero)
            exp["rejected"] += bad
            exp["valid"] += len(recs) - bad
        name = f"store_{store}_{date}.json"
        assert re.fullmatch(FILENAME_PATTERN, name)
        d = os.path.join(root, date)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, name), "w") as f:
            f.write(text)
        exp["files"] += 1
        exp["bytes"] += len(text.encode())
    return expected


def write_history(
    con: duckdb.DuckDBPyConnection, data: str, history: str, new: list[str]
) -> None:
    """The fact table as it stood before the upload dates landed; the
    other tables are copied unchanged."""
    os.makedirs(history, exist_ok=True)
    for name in os.listdir(data):
        if name != "lineitem.parquet":
            shutil.copyfile(
                os.path.join(data, name), os.path.join(history, name)
            )
    dates = ", ".join(f"'{d}'" for d in new)
    con.execute(
        f"COPY (SELECT * FROM lineitem WHERE strftime(l_shipdate, "
        f"'%Y-%m-%d') NOT IN ({dates})) TO "
        f"'{os.path.join(history, 'lineitem.parquet')}' (FORMAT parquet)"
    )


def digest(out_dir: str) -> str:
    """SHA-256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(out_dir):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, out_dir).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(out_dir: str, seed: int, profile: str = "daily") -> dict:
    """Write the slice under ``out_dir/data``, the same tables without
    the upload dates' facts under ``out_dir/history`` and the uploads
    under ``out_dir/uploads/<date>``; return (and write) the
    manifest."""
    p = PROFILES[profile]
    rng = np.random.default_rng(seed)
    tables = build_tables(rng, p)
    data = os.path.join(out_dir, "data")
    os.makedirs(data, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    try:
        for name, tbl in tables.items():
            con.register(name, tbl)
            con.execute(
                f"COPY (SELECT * FROM {name}) TO "
                f"'{os.path.join(data, name)}.parquet' (FORMAT parquet)"
            )
        dates = [
            r[0] for r in con.execute(
                "SELECT DISTINCT strftime(l_shipdate, '%Y-%m-%d') AS d "
                "FROM lineitem ORDER BY d"
            ).fetchall()
        ]
        new = dates[len(dates) - p["upload_dates"]:] if p["upload_dates"] else []
        expected = write_uploads(
            con, rng, new, os.path.join(out_dir, "uploads")
        )
        if new:
            write_history(con, data, os.path.join(out_dir, "history"), new)
    finally:
        con.close()
    manifest = {
        "seed": seed,
        "profile": profile,
        "sizes": {
            "facts": p["facts"], "stores": p["stores"],
            "dates": len(dates), "upload_dates": len(new),
            "upload_files": sum(e["files"] for e in expected.values()),
        },
        "history_dates": dates[: len(dates) - len(new)],
        "new_dates": new,
        "expected_ingest": expected,
        "fact_bytes": os.path.getsize(os.path.join(data, "lineitem.parquet")),
        "upload_bytes": sum(e["bytes"] for e in expected.values()),
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest
