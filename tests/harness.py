"""Local replica of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet dir, compare
row-count + column names + type kinds + order-insensitive values (columns
sorted by name; multiplicity-aware diff reporting).
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def sf_variant(sf_dir: str, out_dir, table: str, select_sql: str) -> str:
    """A copy of the scale-factor dir at ``out_dir`` whose ``table`` is
    ``select_sql`` (DuckDB, reading the original as ``src``); the other
    tables are symlinked. Returns the new dir for ``compare_query``."""
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        if t != table:
            os.symlink(f"{sf_dir}/{t}.parquet", f"{out_dir}/{t}.parquet")
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW src AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{table}.parquet')")
        con.execute(f"COPY ({select_sql}) TO '{out_dir}/{table}.parquet' "
                    "(FORMAT parquet)")
    return str(out_dir)


def _canon(v) -> str:
    import decimal

    if isinstance(v, np.floating):
        v = float(v)
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isinf(v):
            return "<inf>" if v > 0 else "<-inf>"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.9g}"
    if isinstance(v, (bool, np.bool_)):
        return str(int(v))
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def _kind(dtype) -> str:
    """Coarse type kind — catches string-vs-number schema drift that name-only
    comparison misses (the driver's gate checks schemas) without
    false-failing legitimate width differences (int32 vs int64)."""
    k = getattr(dtype, "kind", "O")
    if k in "iu":
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "ts"
    return "obj"


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = [tuple(_canon(v) for v in row) for row in df[cols].itertuples(index=False)]
    return sorted(out)


def query_frames(
    spark, query_fn, oracle: str, sf_dir: str
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(Spark result, DuckDB oracle result) of one query as pandas frames."""
    sdf = query_fn(spark, sf_dir).toPandas()
    with duckdb_con(sf_dir) as con:
        odf = con.execute(oracle).df()
    return sdf, odf


def compare_query(spark, name: str, query_fn, oracle: str, sf_dir: str) -> list[str]:
    """Returns a list of problem strings (empty == pass)."""
    return compare_frames(name, *query_frames(spark, query_fn, oracle, sf_dir))


def compare_frames(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    """Problem strings for a Spark result against its oracle result."""
    problems: list[str] = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(
            f"{name}: column mismatch spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
        )
        return problems
    for c in sorted(sdf.columns):
        ks, ko = _kind(sdf[c].dtype), _kind(odf[c].dtype)
        # all-null object columns legitimately read as 'obj' on either side
        if ks != ko and "obj" not in (ks, ko):
            problems.append(f"{name}: dtype kind mismatch on {c}: spark={ks} oracle={ko}")
    if len(sdf) != len(odf):
        problems.append(f"{name}: rowcount spark={len(sdf)} oracle={len(odf)}")
    a, b = canon_rows(sdf), canon_rows(odf)
    if a != b:
        ca, cb = Counter(a), Counter(b)
        only_a = list((ca - cb).elements())[:3]
        only_b = list((cb - ca).elements())[:3]
        problems.append(
            f"{name}: value mismatch; spark-only={only_a} oracle-only={only_b}"
        )
    return problems
