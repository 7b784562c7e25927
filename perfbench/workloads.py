"""The benchmark's workloads: their operations, inputs and output checks.

A workload is a list of chains; a chain is a list of operations that
must run in order (a read-back after the write it reads).  Each timed
pass runs every chain once, in an order drawn from the workload seed.
Every operation calls the engine's public API and sends its result to a
sink: `noop` for queries, parquet or PNG for writes and figures.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from . import checks, datagen

#: The `query` workload: relational report queries that run as JVM
#: code (plus the figure sink), and curation queries whose time goes to
#: Python Arrow kernels and loops of many small Spark jobs.
#: One query per operator module (the cheapest oracle-checked one where
#: the module's named query costs seconds a pass at this scale).
REPORT_QUERIES = [
    "tpch_q1_pricing_summary", "tpch_q18_large_volume", "a1_word_revenue",
    "j1_region_revenue", "w4_daily_event_rollup", "sql_word_price_stats",
    "mart_supplier_summary", "ga2_cube_segment_priority", "asof_purchase_click",
]
CURATION_QUERIES = [
    "dedup_cluster_assign", "sim_cosine_topk", "text_stats", "pipeline_train_val_test",
    "mm_feature_extract",
]

#: Stream input: the staged events split into this many files, one
#: micro-batch each.
STREAM_BATCHES = 2
#: Files of the small-file write that `compact` merges.
SMALL_FILES = 8


@dataclass
class Ctx:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    queries: dict
    oracle: dict
    duck: object = None
    pass_id: int = 0
    #: per-operation records of the current pass: name -> {metric: value}
    record: dict = field(default_factory=dict)
    #: StreamingQueryProgress objects of the current pass, per stream op
    progress: dict = field(default_factory=dict)

    def out(self, *parts: str) -> str:
        return os.path.join(self.work_dir, "out", *parts)


@dataclass
class Op:
    name: str
    run: Callable[[Ctx], None]
    check: Callable[[Ctx], None]
    #: extra metric names (e.g. "sources.write_s") the op's time adds to
    adds_to: tuple[str, ...] = ()


# -- query operations (report, curation) ------------------------------


def query_module(ctx: Ctx, name: str) -> str:
    return ctx.queries[name].__module__.rsplit(".", 1)[-1]


def _query_op(ctx: Ctx, name: str) -> Op:
    fn = ctx.queries[name]

    def run(c: Ctx) -> None:
        t0 = time.perf_counter()
        df = fn(c.spark, c.data_dir)
        c.record.setdefault(name, {})["call_s"] = time.perf_counter() - t0
        df.write.format("noop").mode("overwrite").save()

    def check(c: Ctx) -> None:
        got = checks.spark_digest(fn(c.spark, c.data_dir))
        checks.compare(name, got, checks.oracle_digest(c.duck, c.oracle[name]))

    return Op(name, run, check)


def _figure_op(ctx: Ctx) -> Op:
    """The year-trend line chart of the reference report, rendered by
    the figure sink from its oracle-checked query."""
    from bigdata_gamedb_etl_spark.sinks import save_chart_png

    name = "a3_year_trend"
    fn = ctx.queries[name]

    def run(c: Ctx) -> None:
        path = c.out("figures", "year_trend.png")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        save_chart_png(fn(c.spark, c.data_dir), "order_count", path, "o_year", "line")
        c.record.setdefault("figures", {})["path"] = path

    def check(c: Ctx) -> None:
        got = checks.spark_digest(fn(c.spark, c.data_dir))
        checks.compare(name, got, checks.oracle_digest(c.duck, c.oracle[name]))
        run(c)
        path = c.record["figures"]["path"]
        with open(path, "rb") as f:
            head = f.read(8)
        if head != b"\x89PNG\r\n\x1a\n" or os.path.getsize(path) < 100:
            raise checks.CheckFailed(f"figures: {path} is not a PNG image")

    return Op("figures", run, check)


# -- ingest operations -------------------------------------------------

LINEITEM_KEYS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_extendedprice",
    "l_returnflag",
]


def stage_ingest_inputs(data_dir: str, seed: int) -> dict:
    """Seeded inputs derived from the base tables: an orders update
    batch, a customer history and its updates, and the events split
    into micro-batch files.  Returns the derived parameters."""
    rng = random.Random(seed)
    orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
    n_orders = orders.num_rows
    modulus = 7
    residue = rng.randrange(modulus)
    keys = orders.column("o_orderkey").to_pylist()
    picked = [i for i, k in enumerate(keys) if k % modulus == residue]
    upd = orders.take(picked)
    day = datagen.DAY_US
    upd = upd.set_column(
        upd.schema.get_field_index("o_orderdate"),
        "o_orderdate",
        pa.array(
            [v + 30 * day for v in upd.column("o_orderdate").cast(pa.int64()).to_pylist()],
            pa.timestamp("us"),
        ),
    )
    upd = upd.set_column(
        upd.schema.get_field_index("o_orderstatus"),
        "o_orderstatus",
        pa.array(["F"] * upd.num_rows),
    )
    upd = upd.set_column(
        upd.schema.get_field_index("o_totalprice"),
        "o_totalprice",
        pa.array([round(v * 1.1, 2) for v in upd.column("o_totalprice").to_pylist()]),
    )
    n_new = max(1, n_orders // 100)
    new = orders.slice(0, n_new)
    new = new.set_column(0, "o_orderkey", pa.array(range(n_orders, n_orders + n_new), pa.int64()))
    pq.write_table(pa.concat_tables([upd, new]), os.path.join(data_dir, "orders_updates.parquet"))

    cust = pq.read_table(os.path.join(data_dir, "customer.parquet"))
    t0 = datagen.us("2024-01-01")
    hist = cust.append_column(
        "valid_from", pa.array([t0] * cust.num_rows, pa.timestamp("us"))
    )
    pq.write_table(hist, os.path.join(data_dir, "customer_history.parquet"))
    cres = rng.randrange(modulus)
    rows = [i for i, k in enumerate(cust.column("c_custkey").to_pylist()) if k % modulus == cres]
    cu = hist.take(rows)
    cu = cu.set_column(
        cu.schema.get_field_index("c_acctbal"),
        "c_acctbal",
        pa.array([round(v + 100.0, 2) for v in cu.column("c_acctbal").to_pylist()]),
    )
    cu = cu.set_column(
        cu.schema.get_field_index("valid_from"),
        "valid_from",
        pa.array([t0 + 31 * day + i * 1_000_000 for i in range(cu.num_rows)], pa.timestamp("us")),
    )
    pq.write_table(cu, os.path.join(data_dir, "customer_updates.parquet"))

    events = pq.read_table(os.path.join(data_dir, "events.parquet"))
    n = events.num_rows
    cuts = sorted(rng.sample(range(1, n), STREAM_BATCHES - 1))
    stream_dir = os.path.join(data_dir, "events_stream")
    os.makedirs(stream_dir, exist_ok=True)
    for i, (a, b) in enumerate(zip([0] + cuts, cuts + [n])):
        pq.write_table(
            events.slice(a, b - a), os.path.join(stream_dir, f"part-{i:03d}.parquet")
        )
    lineitem = pq.read_table(os.path.join(data_dir, "lineitem.parquet"))
    n_parts = max(lineitem.column("l_partkey").to_pylist()) + 1
    lo = rng.randrange(n_parts)
    return {
        "orders_residue": residue,
        "customer_residue": cres,
        "stream_cuts": cuts,
        "range": (lo, lo + max(1, n_parts // 20)),
        "n_orders": n_orders,
        "n_lineitem": lineitem.num_rows,
    }


def _files_and_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _ingest_ops(ctx: Ctx, params: dict) -> list[list[Op]]:
    from bigdata_gamedb_etl_spark import streaming
    from bigdata_gamedb_etl_spark.functions.merge import scd2_apply, scd2_init, upsert_latest
    from bigdata_gamedb_etl_spark.functions.observability import write_with_metrics
    from bigdata_gamedb_etl_spark.sources import catalog, layout

    d = ctx.data_dir
    li_sql = f"SELECT * FROM '{d}/lineitem.parquet'"

    def lineitem(c):
        return catalog.table(c.spark, d, "lineitem")

    def written(name, path, *sources):
        """Record the files and bytes `name` wrote, and its input bytes."""
        in_bytes = sum(os.path.getsize(f"{d}/{s}.parquet") for s in sources)

        def note(c):
            files, size = _files_and_bytes(path)
            rec = c.record.setdefault(name, {})
            rec["files_written"], rec["bytes_written"] = files, size
            rec["input_bytes"] = in_bytes

        return note

    def write_op(name, path, write):
        note = written(name, path, "lineitem")

        def run(c):
            write(c, path)
            note(c)

        def check(c):
            run(c)
            checks.check_dataset(c.duck, name, path, li_sql, LINEITEM_KEYS)

        return Op(name, run, check, ("sources.write_s",))

    p_z = ctx.out("lineitem_zordered")
    p_small = ctx.out("lineitem_small_files")
    p_orders = ctx.out("orders_with_metrics")
    p_upsert = ctx.out("orders_upserted")
    p_scd2 = ctx.out("customer_scd2")
    n_li = params["n_lineitem"]

    w_z = write_op(
        "write_zordered", p_z,
        lambda c, p: layout.write_zordered(
            lineitem(c), p, "l_partkey", "l_suppkey", max(1, n_li // 8)
        ),
    )
    w_small = write_op(
        "write_small_files", p_small,
        lambda c, p: catalog.write_parquet(lineitem(c).repartition(SMALL_FILES), p),
    )

    def compact_run(c):
        layout.compact(c.spark, p_small, 2)

    def compact_check(c):
        compact_run(c)
        files, _ = _files_and_bytes(p_small)
        if files > 2:
            raise checks.CheckFailed(f"compact: {files} files left, want <= 2")
        checks.check_dataset(c.duck, "compact", p_small, li_sql, LINEITEM_KEYS)

    compact_op = Op("compact", compact_run, compact_check, ("sources.compact_s",))

    note_metrics = written("write_with_metrics", p_orders, "orders")

    def metrics_run(c):
        obs = write_with_metrics(
            catalog.table(c.spark, d, "orders"),
            p_orders,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("o_totalprice").isNull().cast("int")).alias("null_price"),
        )
        c.record.setdefault("write_with_metrics", {})["observed"] = obs
        note_metrics(c)

    def metrics_check(c):
        metrics_run(c)
        obs = c.record["write_with_metrics"]["observed"]
        if obs.get("rows") != params["n_orders"] or obs.get("null_price") != 0:
            raise checks.CheckFailed(f"write_with_metrics: observed {obs}")
        checks.check_dataset(
            c.duck, "write_with_metrics", p_orders,
            f"SELECT * FROM '{d}/orders.parquet'",
            ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
        )

    metrics_op = Op(
        "write_with_metrics", metrics_run, metrics_check,
        ("functions.write_with_metrics_s",),
    )

    note_upsert = written("upsert_latest", p_upsert, "orders", "orders_updates")

    def upsert_run(c):
        merged = upsert_latest(
            catalog.table(c.spark, d, "orders"),
            c.spark.read.parquet(f"{d}/orders_updates.parquet"),
            ["o_orderkey"],
            "o_orderdate",
        )
        catalog.write_parquet(merged, p_upsert)
        note_upsert(c)

    upsert_expected = f"""
        SELECT * FROM (
          SELECT *, row_number() OVER (
            PARTITION BY o_orderkey ORDER BY o_orderdate DESC, src DESC) AS rn
          FROM (SELECT *, 0 AS src FROM '{d}/orders.parquet'
                UNION ALL
                SELECT *, 1 AS src FROM '{d}/orders_updates.parquet'))
        WHERE rn = 1"""

    def upsert_check(c):
        upsert_run(c)
        checks.check_dataset(
            c.duck, "upsert_latest", p_upsert, upsert_expected,
            ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"],
        )

    upsert_op = Op(
        "upsert_latest", upsert_run, upsert_check,
        ("functions.upsert_latest_s",),
    )

    note_scd2 = written("scd2_apply", p_scd2, "customer_history", "customer_updates")

    def scd2_run(c):
        hist = scd2_init(c.spark.read.parquet(f"{d}/customer_history.parquet"))
        upd = c.spark.read.parquet(f"{d}/customer_updates.parquet")
        catalog.write_parquet(scd2_apply(hist, upd, ["c_custkey"], "valid_from"), p_scd2)
        note_scd2(c)

    scd2_expected = f"""
        SELECT *, valid_to IS NULL AS is_current FROM (
          SELECT *, lead(valid_from) OVER (
            PARTITION BY c_custkey ORDER BY valid_from) AS valid_to
          FROM (SELECT * FROM '{d}/customer_history.parquet'
                UNION ALL SELECT * FROM '{d}/customer_updates.parquet'))"""

    def scd2_check(c):
        scd2_run(c)
        checks.check_dataset(
            c.duck, "scd2_apply", p_scd2, scd2_expected,
            ["c_custkey", "c_acctbal", "is_current"],
        )

    scd2_op = Op("scd2_apply", scd2_run, scd2_check, ("functions.scd2_apply_s",))

    lo, hi = params["range"]

    def range_df(c):
        return (
            c.spark.read.parquet(p_z)
            .where(F.col("l_partkey").between(lo, hi))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
        )

    range_sql = (
        f"SELECT count(*) AS n, sum(l_quantity) AS qty FROM '{d}/lineitem.parquet' "
        f"WHERE l_partkey BETWEEN {lo} AND {hi}"
    )

    def range_run(c):
        range_df(c).collect()

    def range_check(c):
        checks.compare(
            "range_read", checks.spark_digest(range_df(c)),
            checks.oracle_digest(c.duck, range_sql),
        )

    range_op = Op("range_read", range_run, range_check, ("sources.range_read_s",))

    stream_src = os.path.join(d, "events_stream")

    def stream_dirs(c, name):
        base = c.out(name, f"p{c.pass_id}")
        shutil.rmtree(base, ignore_errors=True)
        return os.path.join(base, "out"), os.path.join(base, "ckpt")

    def per_user(events):
        return events.groupBy("user_id").agg(
            F.count("*").alias("event_count"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
            F.max(F.unix_micros("ts")).alias("last_us"),
        )

    def mart_run(c):
        out, ckpt = stream_dirs(c, "stream_mart")
        events = streaming.read_events_stream(c.spark, stream_src)
        q = streaming.upsert_stream_to_parquet(per_user(events), out, ckpt)
        q.awaitTermination()
        c.progress["stream_upsert_mart"] = [p for p in q.recentProgress]
        c.record.setdefault("stream_upsert_mart", {})["out"] = out

    mart_expected = f"""
        SELECT user_id, count(*) AS event_count,
               round(sum(value::DECIMAL(18,6)), 2)::DOUBLE AS total_value,
               max(epoch_us(ts)) AS last_us
        FROM '{d}/events.parquet' GROUP BY user_id"""

    def mart_check(c):
        mart_run(c)
        checks.check_dataset(
            c.duck, "stream_upsert_mart", c.record["stream_upsert_mart"]["out"],
            mart_expected, ["user_id", "event_count", "total_value", "last_us"],
        )

    mart_op = Op("stream_upsert_mart", mart_run, mart_check)

    return [
        [w_z, range_op], [metrics_op],
        [w_small, compact_op], [upsert_op], [scd2_op], [mart_op],
    ]


def known_defect_int96_stream(ctx: Ctx) -> str | None:
    """Events written by the engine's own parquet sink (Spark's default
    INT96 timestamps) streamed back through `read_events_stream`.

    Returns the error text, or None when the stream reads them.  The
    footer probe `events_ts_unit` sees INT96 as `timestamp[ns]` and
    applies the nanos-as-long schema, which Spark rejects."""
    from bigdata_gamedb_etl_spark import streaming
    from bigdata_gamedb_etl_spark.sources import catalog

    src = ctx.out("int96_events")
    catalog.write_parquet(catalog.table(ctx.spark, ctx.data_dir, "events"), src)
    try:
        events = streaming.read_events_stream(ctx.spark, src)
        streaming.run_stream_to_memory(
            streaming.daily_rollup_stream(events), "perfbench_int96_rollup"
        )
    except Exception as e:  # noqa: BLE001 - any failure is the finding
        text = str(e)
        tag = "PARQUET_COLUMN_DATA_TYPE_MISMATCH"
        return tag if tag in text else text.splitlines()[0][:200]
    return None


def build(name: str, ctx: Ctx) -> tuple[list[list[Op]], dict]:
    """(chains, derived parameters) for workload `name`."""
    if name == "query":
        chains = [[_query_op(ctx, q)] for q in REPORT_QUERIES + CURATION_QUERIES]
        return chains + [[_figure_op(ctx)]], {}
    if name == "ingest":
        params = stage_ingest_inputs(ctx.data_dir, ctx.seed)
        return _ingest_ops(ctx, params), params
    raise ValueError(f"unknown workload {name!r}")



def chain_order(chains: list[list[Op]], seed: int, pass_id: int) -> list[list[Op]]:
    order = list(chains)
    random.Random(seed * 1000 + pass_id).shuffle(order)
    return order


def pass_order(chains: list[list[Op]], seed: int, pass_id: int) -> list[Op]:
    return [op for chain in chain_order(chains, seed, pass_id) for op in chain]
