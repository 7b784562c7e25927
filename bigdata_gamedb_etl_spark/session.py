"""SparkSession factory tuned for the engine.

The reference pins ``local[1]``, 2g heaps, and disables Arrow
(reference: spark_eda.py:25-33) — scars of a Windows PythonRDD crash it
worked around (SURVEY.md §0).  The new engine flips all of that:

- ``local[N]`` by default (N from ``SPARK_GRAFT_CPUS``), real cluster
  masters accepted via ``SPARK_GRAFT_MASTER``.
- AQE on (coalesce + skew-join) so runtime statistics re-plan shuffles —
  the mechanism that keeps the same code working at 100 TB.
- Arrow on: every pandas interchange and Pandas UDF is batch-columnar.
- UTC session timezone: deterministic date math against naive parquet
  timestamps (and against the DuckDB oracle).
- Shuffle partitions fixed at ``DEFAULT_SHUFFLE_PARTITIONS`` unless the
  caller passes ``shuffle_partitions`` (the tests and perfbench pass 8);
  AQE coalesces either way.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: Configs applied to every engine session.  Kept as data so tests and
#: bench can introspect / override them.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # dimension tables (region/nation/supplier/part at any SF that fits)
    # should broadcast; 64m is safe in a 128 GiB local JVM and typical
    # executor sizings.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Runtime bloom-filter join pruning: when a shuffle join's build side
    # carries a selective filter, inject bloom_filter_agg(build keys) and
    # prune the probe-side scan with might_contain BEFORE the shuffle —
    # at 100 TB this turns "shuffle the whole fact table" into "shuffle
    # the ~matching fraction".  On by default in Spark 3.5+/4.x; pinned
    # here so the plan contract (tests/test_plan_quality.py) doesn't
    # depend on upstream defaults.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
}


def get_spark(
    app_name: str = "bigdata-gamedb-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    configs: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (configs or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
