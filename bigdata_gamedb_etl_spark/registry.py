"""Central query registry — merges every operator module's QUERIES and
ORACLE dicts into the driver contract surface (__spark_entry__.py).

Each operator module exports:
  QUERIES: dict[name, (spark, sf_dir) -> DataFrame]
  ORACLE:  dict[name, ANSI SQL string runnable by DuckDB]
A name present in QUERIES but absent from ORACLE is a declared
rows-only check (non-SQL-expressible or approximate by design).

``all_queries()`` keeps registration order: MODULES order, then each
module's QUERIES order.  Every caller looks queries up by name, and the
test suite checks every registered query, so the order carries no
contract.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import (
    behavior,
    core,
    dedup,
    extended,
    graph,
    joins,
    marts,
    multimodal,
    pipeline,
    similarity,
    sketches,
    sqlqueries,
    temporal,
    textops,
    tpch,
    tpch2,
    windows,
)

MODULES = [
    dedup, similarity, textops, multimodal,
    extended, marts, temporal, tpch2, sketches, tpch,
    pipeline, behavior, core, sqlqueries, windows, joins, graph,
]


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in MODULES:
        overlap = merged.keys() & m.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names from {m.__name__}: {overlap}")
        merged.update(m.QUERIES)
    return merged


def all_oracle() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in MODULES:
        out.update(m.ORACLE)
    unknown = out.keys() - all_queries().keys()
    if unknown:
        raise ValueError(f"oracle entries without queries: {unknown}")
    return out
