"""Table catalog: explicit schemas + readers for the driver testdata.

The reference relies on ``inferSchema=True`` and then patches types with
casts (reference: spark_eda.py:42-46).  The engine declares one explicit
``StructType`` per table in ``TABLE_SCHEMAS`` and reads every table with
it (``spark.read.schema(...)``), so building a table's DataFrame starts
no Spark job: Spark would otherwise run a schema-inference job over the
parquet footers on every read.  The declared schema is also what the
DuckDB oracles assume, and the scan keeps column pruning and predicate
pushdown (SURVEY.md §4).  A declared column missing from the files
would read as all-null, so ``table`` checks the first file's footer on
the driver (pyarrow, no Spark job) and fails with a ``ValueError``.
The one read that still infers is the legacy TIMESTAMP(NANOS) events
generation, whose ``ts`` must surface as a long to be decoded.

Parquet is the primary format (the reference's own data had a parquet
twin — reference: .MISSING_LARGE_BLOBS:2); CSV/JSON readers are provided
for source parity (reference: spark_eda.py:42, stage3.ipynb cell 2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Fixed-cardinality dimension tables (region: 5 rows, nation: 25) —
#: the ONLY relations the engine may hint-broadcast.  supplier and
#: part are deliberately NOT here (r8 sweep): they scale ×SF (×10k and
#: ×200k rows respectively), so joins against them are AQE/size-
#: decided like customer/orders — broadcast while they fit, shuffle
#: join at 100 TB.
DIMENSION_TABLES = {"region", "nation"}


def _s(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


TABLE_SCHEMAS: dict[str, StructType] = {
    "region": _s(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _s(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _s(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _s(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _s(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _s(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _s(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    "events": _s(
        ("event_id", LongType()),
        ("ts", TimestampType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _s(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _s(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}


def _first_parquet_file(path: str) -> str:
    """`path` is either a single parquet file or a directory of them
    (Spark sinks, streaming staging dirs); return one concrete file so
    the footer can be probed."""
    if os.path.isfile(path):
        return path
    names = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    if not names:
        raise FileNotFoundError(f"no .parquet files under {path}")
    return os.path.join(path, names[0])


def _footer_schema(path: str):
    """Driver-side pyarrow read of the parquet footer of `path` (first
    file of a directory): no Spark job, no data pages touched, safe to
    call at plan-build time at any scale."""
    import pyarrow.parquet as pq

    return pq.read_schema(_first_parquet_file(path))


def _check_declared_columns(name: str, path: str) -> None:
    """Fail fast when the files at `path` lack a column `TABLE_SCHEMAS`
    declares for `name` — a declared-schema read would return it as
    silent nulls."""
    present = set(_footer_schema(path).names)
    missing = [f.name for f in TABLE_SCHEMAS[name].fields if f.name not in present]
    if missing:
        raise ValueError(
            f"table {name!r} at {path} lacks declared column(s) {missing} "
            "(sources.catalog.TABLE_SCHEMAS)"
        )


def events_ts_unit(path: str) -> str:
    """Parquet-footer probe: the physical unit of the `events.ts`
    column ('ns', 'us', 'ms', 's').

    Testdata generations differ — TIMESTAMP(NANOS) through round 3,
    TIMESTAMP(MICROS, isAdjustedToUTC=false) since round 4 — and batch
    and streaming MUST decode identically, so both go through this one
    probe instead of each hard-coding generation knowledge (r4 broke
    exactly that way: the batch path was fixed for the regeneration and
    the stream kept the nanos decode).  Footer-only read (`_footer_schema`).
    """
    t = _footer_schema(path).field("ts").type
    unit = getattr(t, "unit", None)
    # Plain int64 with no logical type: the legacy generation's
    # nanos-as-long encoding.
    return unit if unit is not None else "ns"


def read_events(spark: SparkSession, path: str) -> DataFrame:
    """Batch events reader — the ONE decode path (streaming mirrors it
    via the same `events_ts_unit` probe, streaming/windowed.py).

    - MICROS/MILLIS files read with the declared events schema
      (`TABLE_SCHEMAS["events"]`, session-tz TIMESTAMP `ts`; no Spark
      job, no cast wrapper, so scan-level predicate pushdown on `ts` is
      preserved).
    - legacy NANOS (or unannotated int64) files read by inference as
      nano-longs and truncate to microseconds (identical to DuckDB/Arrow
      ns → µs downcasting).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if events_ts_unit(path) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return df
    return spark.read.schema(TABLE_SCHEMAS["events"]).parquet(path)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame (Parquet scan).

    The scan is built with the declared `TABLE_SCHEMAS[name]`, so no
    Spark job runs until an action; Catalyst prunes columns and pushes
    predicates into the scan for anything expressed declaratively on
    top of this.  Columns the files carry beyond the declared ones are
    not read.  A declared column missing from the files raises
    `ValueError` (footer check of the first file, on the driver); a
    missing path raises Spark's `PATH_NOT_FOUND` as before.

    Timestamp normalization: the engine (and all driver evidence) is
    built on session-tz TIMESTAMP — `unix_micros`, `session_window`,
    and the DuckDB oracles all assume it.  Naive parquet timestamps
    read as the declared TIMESTAMP; `events.ts` additionally goes
    through the unit-probed `read_events` (encodings vary across
    testdata generations).
    """
    # Pin the session timezone: naive parquet timestamps must yield the
    # same date parts here as in DuckDB regardless of the host JVM's TZ.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        df = read_events(spark, path)
    else:
        df = spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)
    _check_declared_columns(name, path)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: table(spark, sf_dir, n) for n in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Expose all tables to the SQL surface (reference: spark_eda.py:243,271)."""
    for n in TABLE_NAMES:
        table(spark, sf_dir, n).createOrReplaceTempView(n + suffix)


def read_csv(
    spark: SparkSession, path: str, schema: StructType, escape: str = '"'
) -> DataFrame:
    """CSV source with explicit schema (reference: spark_eda.py:42 uses
    header+inferSchema+escape; engine requires the schema up front)."""
    return spark.read.csv(path, header=True, schema=schema, escape=escape)


def read_csv_permissive(
    spark: SparkSession,
    path: str,
    schema: StructType,
    escape: str = '"',
    required: list[str] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """CSV ingestion that survives malformed rows — the shape a 100 TB
    feed needs (real dumps always contain broken lines, and FAILFAST
    would kill a day-long job on row one billion).

    PERMISSIVE mode parses what it can and captures unparseable raw
    lines in a `_corrupt_record` column; returns (clean, corrupt)
    splits of ONE underlying scan so the caller can load the clean
    rows and quarantine the bad lines (e.g. via write_parquet) in the
    same job.  The corrupt split carries the FULL augmented row
    (partially-parsed fields + the raw line) — both because that is
    the more useful quarantine record and because Spark disallows
    querying ONLY the corrupt column from a raw scan
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN).

    TOKEN-COUNT BEHAVIOR (verified on this Spark build,
    tests/test_sources_sinks.py::test_csv_permissive_token_count_mismatch):
    a row with FEWER tokens than the schema is null-padded and a row
    with MORE tokens is truncated, but BOTH are flagged — Spark 4's
    univocity parser records the raw line in `_corrupt_record`
    alongside the partially-parsed fields, so token-count mismatches
    DO reach the corrupt split (older Spark generations let them pass
    silently; do not assume this without the pinned test).  The
    `required=[...]` guard is an additional integrity gate: rows where
    any of those columns parsed to NULL are routed to the corrupt
    split even when the line itself parsed cleanly — catching
    genuinely-null mandatory fields, which violate a feed contract
    just as short rows do."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    augmented = StructType(
        schema.fields + [StructField("_corrupt_record", StringType())]
    )
    raw = spark.read.csv(
        path,
        header=True,
        schema=augmented,
        escape=escape,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )
    bad = F.col("_corrupt_record").isNotNull()
    for col in required or []:
        bad = bad | F.col(col).isNull()
    clean = raw.where(~bad).drop("_corrupt_record")
    corrupt = raw.where(bad)
    return clean, corrupt


def read_json(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    return spark.read.json(path, schema=schema)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source (schema self-describing, predicate pushdown like
    parquet) — for interop with Hive-era warehouses."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).orc(path)


def read_evolving(spark: SparkSession, *paths: str) -> DataFrame:
    """Read parquet written under an EVOLVING schema (columns added over
    time): mergeSchema unions the file schemas and older files surface
    the newer columns as nulls.

    At 100 TB a dataset is never rewritten when a column is added — new
    partitions just carry the wider schema.  mergeSchema pays a footer
    read per file at planning time, so production pins the merged schema
    in a catalog; this helper is the discovery path."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """Line-oriented text source (one `value` column) — raw-corpus
    ingestion; pair with functions in operators/textops.py."""
    return spark.read.text(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """Parquet sink; partitioned layout enables partition pruning at read
    time (SURVEY.md §4 'partition pruning')."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
