"""The driver-query correctness gate: a ``queries()`` entry and its
``oracle_sql()`` DuckDB twin must agree on column names, row count and
order-insensitive canonical values over one tables directory.

Shared by ``tests/test_driver_oracles.py`` (sf0.001) and
``bench_extra.py --oracle`` (sf0.01 by default)."""

from __future__ import annotations

import math

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def canon(rows, cols) -> list[tuple]:
    """Rows as sorted tuples of strings, columns in name order; floats to
    9 significant digits."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else f"{v:.9g}"
            elif isinstance(v, bool):
                v = str(v)
            elif v is None:
                v = "NULL"
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort()
    return out


def check(sdf, con, sql: str) -> int:
    """Row count of the Spark frame ``sdf``; AssertionError unless it
    matches the DuckDB query ``sql`` on ``con``."""
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    dcols = [c[0] for c in res.description]
    drows = res.fetchall()
    if sorted(scols) != sorted(dcols):
        raise AssertionError("column names differ")
    if len(srows) != len(drows):
        raise AssertionError(f"rowcount spark={len(srows)} duckdb={len(drows)}")
    a, b = canon(srows, scols), canon(drows, dcols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        raise AssertionError(f"value mismatch, first diffs: {diff}")
    return len(srows)
