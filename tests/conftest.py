"""Shared fixtures for the one test profile: `pytest tests/` runs every
test, the degenerate-input, empty-table and property sweeps, the
curation goldens and the sf0.01 legs included.  Only the opt-in scale
probe and the protobuf-gated stream test may skip."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from bigdata_gamedb_etl_spark.session import get_spark  # noqa: E402
from bigdata_gamedb_etl_spark.sources.catalog import TABLE_NAMES  # noqa: E402

#: tests default to the smallest SF for speed; override to harden.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: DuckDB's default memory limit is 80% of the machine's RAM, so a
#: runaway oracle could get the whole test process killed.  Under this
#: cap it raises DuckDB's OutOfMemoryException instead.
DUCKDB_MEMORY_LIMIT = "4GB"


def duck_connect():
    """The one way tests open a DuckDB connection: in memory, capped at
    `DUCKDB_MEMORY_LIMIT`."""
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{DUCKDB_MEMORY_LIMIT}'")
    return con


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duck_connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    yield con
    con.close()
