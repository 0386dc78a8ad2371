"""Local replica of the driver's differential check: run each declared
Spark query and its DuckDB oracle at a given SF and compare row count,
schema (column names), and exact values order-insensitively. Each
comparison also returns the sha256 of the normalized Spark rows, so two
sweeps (say, of two commits) can show their results are identical.

Stricter than a tolerance check on purpose — the driver hash-compares,
so we demand exact equality of the normalized string form of every
cell (floats compared via repr of the exact double both engines
returned)."""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime

import duckdb


def _norm_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (int,)):
        return str(v)
    return str(v)


def _norm_rows(cols, rows):
    # order-insensitive: sort columns by name, then sort row tuples
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(normed)


def run_duckdb(sql: str, sf_dir: str):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # Spark-written table = a DIRECTORY of part files (the
            # replicated scale corpora); glob the parts for DuckDB
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def compare_query(spark, query_fn, oracle: str | None, sf_dir: str, name: str = "?"):
    df = query_fn(spark, sf_dir)
    sc, sr = _norm_rows(df.columns, [tuple(r) for r in df.collect()])
    digest = hashlib.sha256(repr((sc, sr)).encode()).hexdigest()
    if oracle is None:
        return {"name": name, "rows": len(sr), "oracle": "rows-only", "hash": digest}
    d_cols, d_rows = run_duckdb(oracle, sf_dir)
    dc, dr = _norm_rows(d_cols, d_rows)
    assert sc == dc, f"{name}: column mismatch spark={sc} duck={dc}"
    assert len(sr) == len(dr), f"{name}: rowcount spark={len(sr)} duck={len(dr)}"
    mism = [(a, b) for a, b in zip(sr, dr) if a != b]
    assert not mism, f"{name}: {len(mism)} mismatched rows; first: {mism[:3]}"
    return {"name": name, "rows": len(sr), "oracle": "match", "hash": digest}
