"""Output checks, run outside the timed region.

Every expected value is computed here with DuckDB from the generated
inputs, never by the program under test. Each check returns a list of
mismatch descriptions; an empty list means the outputs are right.
"""

from __future__ import annotations

import json
import math
import os

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, t)}.parquet')"
        )
    return con


# -- query results: the canonical form of the oracle-parity tests ------
def _cell(v):
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(float(v)))
    if isinstance(v, int):
        return ("i", int(v))
    if isinstance(v, (list, tuple)):
        return ("a", tuple(_cell(x) for x in v))
    return ("s", str(v))


def canon(pdf) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows as sorted tuples of typed cells
    (floats compared by ``repr``)."""
    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return cols, rows


def oracle_result(con: duckdb.DuckDBPyConnection, oracle: str):
    """The canonical form of ``oracle``'s result."""
    return canon(con.execute(oracle).df())


def query_result(pdf, want) -> list:
    """Compare ``pdf`` with an ``oracle_result``."""
    got = canon(pdf)
    if got[0] != want[0]:
        return [f"columns {got[0]} != {want[0]}"]
    if len(got[1]) != len(want[1]):
        return [f"rows {len(got[1])} != {len(want[1])}"]
    bad = [(a, b) for a, b in zip(got[1], want[1]) if a != b]
    return [f"{len(bad)} rows differ, first {bad[0]}"] if bad else []


# -- the daily lifecycle -----------------------------------------------
def ingest_counts(result, expected: dict) -> list:
    want = (expected["valid"], expected["rejected"])
    return [] if tuple(result) == want else [f"ingest {result} != {want}"]


# per-date totals of the fact slice, in integer cents
FACT_TOTALS = """
SELECT strftime(cast(l_shipdate AS date), '%Y-%m-%d') AS d,
       count(DISTINCT l_suppkey)                     AS stores,
       sum(cast(round(l_extendedprice * 100) AS bigint)) AS sales_c,
       count(*)                                      AS lines,
       sum(cast(l_quantity AS bigint))               AS items
FROM lineitem GROUP BY d
"""


def _by_date(rows) -> dict:
    return {r[0]: tuple(int(x) for x in r[1:]) for r in rows}


def daily_tables(con: duckdb.DuckDBPyConnection, out: str) -> list:
    """``store_daily`` and ``company_daily`` totals per date equal the
    fact slice's."""
    want = _by_date(con.execute(FACT_TOTALS).fetchall())
    sd = _by_date(con.execute(
        "SELECT sale_date::varchar, count(*), "
        "sum(cast(round(total_sales * 100) AS bigint)), "
        "sum(transaction_count), sum(item_count) FROM read_parquet(?, "
        "hive_partitioning = true, hive_types_autocast = false) GROUP BY 1",
        [os.path.join(out, "store_daily", "*", "*.parquet")],
    ).fetchall())
    co = _by_date(con.execute(
        "SELECT sale_date, store_count, "
        "cast(round(total_sales * 100) AS bigint), total_transactions, "
        "total_items FROM read_parquet(?)",
        [os.path.join(out, "company_daily", "*.parquet")],
    ).fetchall())
    errors = []
    for name, got in (("store_daily", sd), ("company_daily", co)):
        if got != want:
            diff = sorted(d for d in set(got) | set(want)
                          if got.get(d) != want.get(d))
            errors.append(f"{name} differs on {len(diff)} dates, "
                          f"first {diff[0]}: {got.get(diff[0])} != "
                          f"{want.get(diff[0])}")
    return errors


def exports(out: str) -> list:
    with open(os.path.join(out, "exports", "manifest.json")) as f:
        n = len(json.load(f)["datasets"])
    return [] if n == 5 else [f"export manifest lists {n} datasets"]


def ledger(con: duckdb.DuckDBPyConnection, out: str, dates: list) -> list:
    """Exactly one succeeded ledger row per run date, and no other."""
    rows = con.execute(
        "SELECT run_date, count(*) FROM read_parquet(?) "
        "WHERE status = 'succeeded' GROUP BY 1",
        [os.path.join(out, "run_ledger", "*.parquet")],
    ).fetchall()
    got = dict(rows)
    want = {d: 1 for d in dates}
    return [] if got == want else [f"ledger {got} != {want}"]
