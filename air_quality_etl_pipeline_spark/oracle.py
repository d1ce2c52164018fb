"""The DuckDB side of the cross-engine check: one registered query's
Spark result against its oracle SQL over the same parquet tables.

:func:`compare` applies the checks an order-insensitive value hash of
the two results depends on, in order: column names (the hash sorts
columns by name), hash-compatible physical result types, row count,
then the canonical row set. The type check catches the class where every cell
is value-equal but DuckDB's side is HUGEINT (``SUM(BIGINT)`` promotes
to decimal128 in the Arrow path) while Spark's is int64.

``tests/test_oracle_parity.py`` runs it over the whole registry at
sf0.001; ``scripts/verify_subset.py`` runs it at any scale factor, its
pool workers calling :func:`run_oracle` and the main process
:func:`compare_result`.
"""

from __future__ import annotations

import math
import os

import duckdb

from air_quality_etl_pipeline_spark.functions.typealign import arrow_ok

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

#: (column names, Arrow type per column, canonical sorted rows)
OracleResult = tuple[list[str], dict[str, str], list[tuple]]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of *sf_dir*."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            # Spark-written table: a DIRECTORY of part files (the shape
            # scripts/stress_sf1.py generates); DuckDB needs the glob
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def canon(value):
    """Canonicalize a cell the way a value hash would: floats to a fixed
    repr (exact — rounding already happened inside the query)."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return str(int(value))
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return repr(value)
    return str(value)


def rows_canon(cols, rows):
    """*rows* with cells canonicalized and columns sorted by name, as a
    sorted list: equal lists mean equal order-insensitive hashes."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in idx) for r in rows)


def run_oracle(con: duckdb.DuckDBPyConnection, sql: str) -> OracleResult:
    """Run *sql* and return its :data:`OracleResult`. The types come
    from the Arrow schema of the same relation limited to no rows, so
    the full result is computed only once."""
    rel = con.sql(sql)
    types = {f.name: str(f.type) for f in rel.limit(0).arrow().schema}
    return rel.columns, types, rows_canon(rel.columns, rel.fetchall())


def compare_result(sdf, oracle: OracleResult) -> str | None:
    """The first way Spark frame *sdf* differs from *oracle*, or None."""
    d_cols, d_types, d_rows = oracle
    s_cols = sdf.columns
    if sorted(s_cols) != sorted(d_cols):
        return f"column names differ: spark={sorted(s_cols)} duck={sorted(d_cols)}"
    bad = [
        (col, st, d_types[col])
        for col, st in sdf.dtypes
        if not arrow_ok(st, d_types[col], strict=False)
    ]
    if bad:
        return f"hash-incompatible result types (spark vs duckdb-arrow): {bad}"
    s_rows = rows_canon(s_cols, sdf.collect())
    if len(s_rows) != len(d_rows):
        return f"row count differs: spark={len(s_rows)} duck={len(d_rows)}"
    diff = [(a, b) for a, b in zip(s_rows, d_rows) if a != b]
    if diff:
        return f"first mismatches (spark, duck): {diff[:5]}"
    return None


def compare(sdf, con: duckdb.DuckDBPyConnection, sql: str) -> str | None:
    """The first way Spark frame *sdf* differs from oracle *sql* run on
    *con* — column names, types, row count, rows — or None."""
    return compare_result(sdf, run_oracle(con, sql))
