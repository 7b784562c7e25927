"""Local mirror of the driver's correctness gate: every oracle-backed
query must match its DuckDB twin on row count, column names, and values
(order-insensitive).  Rows-only queries must at least execute and
return a stable schema.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import pytest

from bigdata_gamedb_etl_spark.registry import all_oracle, all_queries

QUERIES = all_queries()
ORACLE = all_oracle()
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLE))


def _spark_family(dt: str) -> str:
    """Collapse a Spark dtype string to a cross-engine type family."""
    dt = dt.lower()
    if dt.startswith("decimal"):
        return "decimal"
    if dt in ("double", "float"):
        return "float"
    if dt in ("tinyint", "smallint", "int", "integer", "bigint", "long"):
        return "int"
    if dt in ("string", "varchar"):
        return "str"
    if dt.startswith("timestamp"):
        return "timestamp"
    if dt.startswith("array"):
        return "list"
    return dt


def _duck_family(dt: str) -> str:
    """Collapse a DuckDB column_type string to the same families."""
    dt = dt.upper()
    if dt.endswith("[]"):
        return "list"
    if dt.startswith("DECIMAL"):
        return "decimal"
    if dt in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if "INT" in dt:  # TINYINT..BIGINT, HUGEINT, unsigned variants
        return "int"
    if dt in ("VARCHAR", "TEXT", "STRING", "BPCHAR"):
        return "str"
    if dt.startswith("TIMESTAMP"):
        return "timestamp"
    return dt.lower()


def _norm_value(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # queries round explicitly; this guard only collapses residual
        # representation noise (e.g. -0.0).
        return round(v + 0.0, 9)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _normalize(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [columns[i] for i in order], out


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_parity(name, spark, duck, sf_dir):
    sdf = QUERIES[name](spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    cur = duck.execute(ORACLE[name])
    duck_cols = [d[0] for d in cur.description]
    duck_rows = cur.fetchall()

    s_cols, s_vals = _normalize(spark_cols, spark_rows)
    d_cols, d_vals = _normalize(duck_cols, duck_rows)

    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"

    # Result-TYPE families must match before any value normalization:
    # the driver's value hash is exact, so a Spark DECIMAL column vs a
    # DuckDB DOUBLE hash-fails even when every value is numerically
    # equal (r8: sql_supplier_distribution).  Coercing Decimal->float
    # below would mask exactly that class of drift.
    spark_fam = {c: _spark_family(t) for c, t in sdf.dtypes}
    dd = duck.execute(f"DESCRIBE {ORACLE[name]}").fetchall()
    duck_fam = {r[0]: _duck_family(r[1]) for r in dd}
    drift = {
        c: (spark_fam[c], duck_fam[c])
        for c in s_cols
        if spark_fam[c] != duck_fam[c]
    }
    assert not drift, f"{name}: result-type family drift {drift}"
    assert len(s_vals) == len(d_vals), (
        f"{name}: row count {len(s_vals)} vs {len(d_vals)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_vals, d_vals) if a != b
    ]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"
    )


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_executes(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    assert df.columns, f"{name}: empty schema"
    assert df.count() >= 0


def test_duck_fixture_memory_limit_is_capped(duck):
    """The oracle connection runs under the conftest cap, not DuckDB's
    default of 80% of the machine's RAM: a runaway oracle raises
    OutOfMemoryException instead of getting the test process killed."""
    (limit,) = duck.execute("SELECT current_setting('memory_limit')").fetchone()
    assert limit == "3.7 GiB"  # DuckDB's rendering of '4GB' (10^9 bytes)
