"""Local replica of the driver's DuckDB-oracle comparison: row count, sorted
column names, and order-insensitive value comparison (columns sorted by name,
rows sorted; floats compared exactly after the query-side rounding, since the
driver hashes values)."""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb

TABLES = "documents embeddings".split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm_cell(v):
    """Type-TAGGED normalization mirroring the driver's value hash: the driver
    fetches DuckDB results through Arrow, where an uncast HUGEINT sum() arrives
    as Decimal/float and hashes differently from Spark's LONG — so int, float,
    and Decimal must NOT collapse to the same string here (the round-1 replica
    blind spot, VERDICT.md 'What's wrong' #2)."""
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, datetime.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, datetime.date):
        return f"dt:{v.isoformat()}"
    if hasattr(v, "asDict"):  # Spark Row (a tuple subclass — check BEFORE tuple)
        v = v.asDict()
    if isinstance(v, dict):  # Spark Row / arrow struct → key-sorted form
        return "s:{" + ",".join(f"{k}={_norm_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(_norm_cell(x) for x in v) + "]"
    return f"o:{v}"


def canonical_rows(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return sorted_cols, out


def compare(spark_df, oracle_sql: str, con: duckdb.DuckDBPyConnection) -> dict:
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = spark_df.columns
    rel = con.sql(oracle_sql)
    d_cols = list(rel.columns)
    # Fetch through Arrow, as the driver does: HUGEINT/DECIMAL stay Decimal
    # here (they'd be silently converted to lossless Python ints by fetchall()).
    d_tbl = rel.arrow()
    d_rows = [tuple(d[c] for c in d_cols) for d in d_tbl.to_pylist()]
    sc, sr = canonical_rows(s_cols, s_rows)
    dc, dr = canonical_rows(d_cols, d_rows)
    return {
        "rows_match": len(sr) == len(dr),
        "schema_match": sc == dc,
        "values_match": sr == dr,
        "n_spark": len(sr),
        "n_duck": len(dr),
        "spark_cols": sc,
        "duck_cols": dc,
        "sample_diff": [
            (a, b) for a, b in zip(sr, dr) if a != b
        ][:3]
        if len(sr) == len(dr)
        else [],
    }
