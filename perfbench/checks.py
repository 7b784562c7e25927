"""Output checks run once per operation per run, outside the timed passes.

Queries are compared with their DuckDB twin (`oracle_sql()`) by the
rule of the project's oracle-parity test: same column names, same
result-type families, same row count and the same order-insensitive
value digest.  Written datasets are compared with their source by row
count and a key digest, both computed by DuckDB over the parquet files.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import math
import os
from decimal import Decimal

import duckdb


class CheckFailed(AssertionError):
    pass


def _family(dt: str) -> str:
    """Collapse a Spark or DuckDB type name to a cross-engine family."""
    d = dt.lower()
    if d.endswith("[]") or d.startswith("array"):
        return "list"
    if d.startswith("decimal"):
        return "decimal"
    if d in ("double", "float", "real"):
        return "float"
    if "int" in d or d == "long":
        return "int"
    if d in ("string", "varchar", "text", "bpchar"):
        return "str"
    if d.startswith("timestamp"):
        return "timestamp"
    return d


def _norm_value(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v + 0.0, 9)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    return v


def result_digest(columns: list[str], types: list[str], rows) -> dict:
    """Row count, sorted (name, family) schema and an order-insensitive
    sha256 over the normalized rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(
        (repr(tuple(_norm_value(r[i]) for i in order)) for r in rows)
    )
    h = hashlib.sha256("\n".join(norm).encode()).hexdigest()
    return {
        "rows": len(norm),
        "schema": [(columns[i], _family(types[i])) for i in order],
        "digest": h,
    }


def spark_digest(df) -> dict:
    return result_digest(
        df.columns, [t for _, t in df.dtypes], [tuple(r) for r in df.collect()]
    )


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    types = [r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()]
    return result_digest(cols, types, rows)


def compare(name: str, got: dict, want: dict) -> None:
    for key in ("schema", "rows", "digest"):
        if got[key] != want[key]:
            raise CheckFailed(
                f"{name}: {key} differs: got {got[key]!r}, want {want[key]!r}"
            )


def duck_with_tables(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per staged input table."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def dataset_key_digest(
    con: duckdb.DuckDBPyConnection, source_sql: str, keys: list[str]
) -> tuple[int, int]:
    """(row count, order-insensitive sum of row hashes over `keys`)."""
    cols = ", ".join(keys)
    row = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) "
        f"FROM ({source_sql})"
    ).fetchone()
    return int(row[0]), int(row[1])


def check_dataset(
    con: duckdb.DuckDBPyConnection,
    name: str,
    written_path: str,
    expected_sql: str,
    keys: list[str],
) -> None:
    files = written_path
    if os.path.isdir(written_path):
        files = os.path.join(written_path, "**", "*.parquet")
    got = dataset_key_digest(
        con,
        f"SELECT * FROM read_parquet('{files}', hive_partitioning = true)",
        keys,
    )
    want = dataset_key_digest(con, expected_sql, keys)
    if got != want:
        raise CheckFailed(
            f"{name}: (rows, key digest) of {written_path} is {got}, "
            f"its source gives {want}"
        )
