"""Structured Streaming operators over the events stream.

The reference is batch-only (SURVEY.md §2.6); its time-series surface
is per-year/month batch aggregation.  The engine adds the streaming
twins the north star asks for: watermarked tumbling-window rollups and
an arbitrary-stateful operator (running per-user totals via
applyInPandasWithState).

Design for scale: the file source here is a stand-in for Kafka/object
storage; the same query graph (readStream → watermark → window agg →
sink) is what runs continuously on a cluster.  Watermark = 1 day:
late events older than a day are dropped instead of keeping unbounded
state.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..sources.catalog import TABLE_SCHEMAS, read_declared


#: Decoded schema every stream/batch consumer sees: the catalog's
#: declared events schema (ts is session-tz TIMESTAMP).
EVENTS_STREAM_SCHEMA = TABLE_SCHEMAS["events"]


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a DIRECTORY of events parquet files
    (Spark's file stream source rejects single-file paths; stage files
    or symlinks into a directory — new arrivals become micro-batches).

    Same decode as the batch `sources.catalog.read_events`: the declared
    events schema behind the driver-side footer check
    (`catalog.read_declared`), so an undecodable `ts` encoding or a
    missing column in any file present now fails here with `ValueError`,
    and building the stream runs no Spark job.  Files that arrive after
    the stream is built are not footer-checked."""
    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    return read_declared(spark, reader, "events", source_dir)


def read_documents_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a DIRECTORY of documents parquet files —
    the ingestion feed a live curation pipeline consumes (each arriving
    file is one micro-batch of crawled/ingested documents).  Read like
    every table (`catalog.read_declared`)."""
    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    return read_declared(spark, reader, "documents", source_dir)


def quality_monitor_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of the quality-mix core of
    operators.textops.dq_source_quality_drift: per source, running
    quality-bucket counts over the document feed (the same exact
    bucket predicate as textops.text_quality).  Complete-mode
    scorecard; a live monitor diffs successive emissions to get the
    per-batch mix the batch audit computes per ingest range, and
    alerts on the same drift rule.

    Scale: stateless per-row classification then one hash-agg — state
    is |sources| rows regardless of feed rate (no windows, no
    timestamps needed: the grain is provenance, not time)."""
    toks = F.expr(
        "size(filter(split(text, ' '), t -> t <> ''))"
    )
    distinct = F.expr(
        "size(array_distinct(filter(split(text, ' '), t -> t <> '')))"
    )
    ratio = distinct * F.lit(1.0) / toks
    bucket = (
        F.when((toks >= 200) & (ratio >= 0.1), "high")
        .when(toks >= 50, "medium")
        .otherwise("low")
    )
    return (
        docs.select("source", bucket.alias("quality_bucket"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("quality_bucket") == "high").cast("long")).alias(
                "hi_docs"
            ),
            F.sum(
                (F.col("quality_bucket") == "medium").cast("long")
            ).alias("med_docs"),
            F.sum((F.col("quality_bucket") == "low").cast("long")).alias(
                "low_docs"
            ),
        )
    )


def read_rate_stream(
    spark: SparkSession, rows_per_batch: int = 100, num_partitions: int = 2
) -> DataFrame:
    """Deterministic synthetic stream (rate-micro-batch source): batch k
    carries `rows_per_batch` rows with consecutive `value` longs and
    timestamps advancing one minute per batch from epoch — the built-in
    load generator for throughput tests and sink smoke checks, no input
    files needed.  (The plain `rate` source is wall-clock-driven and
    never terminates; this variant replays identically every run.)"""
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("numPartitions", num_partitions)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60_000)
        .load()
    )


def daily_rollup_stream(events: DataFrame) -> DataFrame:
    """Watermarked tumbling-window rollup — the streaming twin of
    operators.windows.w4_daily_event_rollup.

    Twin contract on null event times: rows with ts IS NULL never
    reach the windowed aggregate (dropped at the watermark operator),
    while the batch twin keeps them as a NULL-day group — so
    stream result == batch twin WHERE day IS NOT NULL (pinned by
    tests/test_streaming.py::
    test_streaming_rollup_drops_null_ts_rows_batch_keeps_them; the
    same asymmetry is documented on conformity_monitor_stream)."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.to_date(F.col("win.start")).alias("day"),
            "event_type",
            "event_count",
            "total_value",
        )
    )


def logbin_value_sketch_stream(events: DataFrame) -> DataFrame:
    """Streaming PARTIAL stage of the decimal-log quantile sketch
    (operators.sketches.sketch_logbin_quantiles): per-day watermarked
    (digits, lead-two) bin counts over positive event values.  The
    partial is what a pipeline PERSISTS next to each day's partition —
    bin counts merge by plain addition, so the stream's output feeds
    the same merge/read stage the batch sketch runs on lineitem.
    State per window is bounded by the bin universe (≤ ~15·90), the
    same reason the batch window is safe."""
    c = F.round(F.col("value") * 100).cast("long")
    return (
        events.where(F.col("value") > 0)
        .withWatermark("ts", "1 day")
        .select(
            "ts",
            F.length(c.cast("string")).alias("d"),
            F.substring(c.cast("string"), 1, 2).cast("long").alias("lead2"),
        )
        .groupBy(F.window("ts", "1 day").alias("win"), "d", "lead2")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.to_date(F.col("win.start")).alias("day"), "d", "lead2", "cnt"
        )
    )


def ohlc_hourly_stream(events: DataFrame) -> DataFrame:
    """Watermarked hourly OHLC bars — the streaming twin of
    operators.temporal.ts_ohlc_hourly.  min_by/max_by over the
    (unix_micros, event_id) composite are plain streaming-aggregable
    functions (one running candidate per window in the state store),
    so downsampling works identically over a live stream."""
    key = F.struct(F.unix_micros("ts").alias("us"), F.col("event_id"))
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("*").alias("volume"),
        )
        .select(
            F.to_date(F.col("win.start")).alias("day"),
            F.hour(F.col("win.start")).alias("hour"),
            "open",
            "high",
            "low",
            "close",
            "volume",
        )
    )


def freshness_monitor_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of operators.extended.dq_freshness_lag: per
    event_type, watermarked hourly windows carrying the row count and
    the latest event time seen in the window.  A live monitoring job
    consumes the update stream and derives staleness as
    (trigger clock − max windowed latest_us) per type — the same
    arithmetic the batch audit performs against the corpus max; the
    batch-twin test folds the windows back to per-type totals and
    matches them against the batch scan exactly.

    Scale: state is |event_types| × |open windows| rows — bounded by
    the 1-hour watermark regardless of input rate."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.max(F.unix_micros("ts")).alias("latest_us"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "latest_us",
        )
    )


def conformity_monitor_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of operators.extended.dq_event_conformity: per
    watermarked hourly window, the row count and the same NULL-
    inclusive rule-violation counts (unknown type, value range, JSON
    props field, null keys) — the live feed-integrity gate.  The
    timestamp-window rule is omitted in the streaming form: the
    watermark already bounds event-time, so a wildly-out-of-range ts
    is dropped as late data rather than counted (documented semantic
    difference; the batch audit remains the authority for it).  For
    the same reason bad_keys here checks only event_id/user_id and
    omits the batch twin's ts-IS-NULL term: a null-ts row never
    reaches the windowed aggregate at all (no window can be assigned,
    so it is dropped before grouping), hence the two "twin" counters
    can legitimately differ on data containing null timestamps.

    Scale: pure conditional sums per window — state is one row per
    open hourly window, bounded by the watermark."""
    viol = lambda c: F.sum(c.cast("long"))  # noqa: E731
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            viol(
                ~F.col("event_type").isin(
                    "view", "click", "purchase", "signup", "error"
                )
                | F.col("event_type").isNull()
            ).alias("bad_type"),
            viol(
                ~((F.col("value") > 0) & (F.col("value") <= 1000))
                | F.col("value").isNull()
            ).alias("bad_value"),
            viol(
                F.expr(
                    "try_cast(get_json_object(props, '$.k') AS BIGINT)"
                ).isNull()
            ).alias("bad_props"),
            viol(
                F.col("event_id").isNull() | F.col("user_id").isNull()
            ).alias("bad_keys"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "n_events",
            "bad_type",
            "bad_value",
            "bad_props",
            "bad_keys",
        )
    )


def daily_active_users_stream(events: DataFrame) -> DataFrame:
    """Watermarked streaming DAU: per tumbling day window, the row
    count and the APPROXIMATE distinct-user count.  Exact
    count_distinct is structurally unsupported in streaming
    aggregations (it would need unbounded per-window user sets in the
    state store); approx_count_distinct keeps state at one
    HLL-sketch-per-window — the same mergeable-sketch trade the batch
    tier makes in operators/sketches.py, here as the streaming-legal
    form of w9's DAU column.  The batch-twin test bounds the sketch
    against the exact batch count (±5%, HLL's standard error at the
    default rsd) instead of asserting equality."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(
            F.count("*").alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.to_date(F.col("win.start")).alias("day"),
            "n_events",
            "approx_users",
        )
    )


def daily_heavy_users_stream(events: DataFrame, k: int = 5) -> DataFrame:
    """Watermarked streaming heavy hitters: per tumbling day window,
    the approx_top_k users by event count — the streaming twin of the
    sketch tier (operators/sketches.py): state per window is ONE
    bounded frequent-items sketch, never a per-user count map, so the
    job survives unbounded user cardinality.  With the tracker sized
    above the true cardinality the sketch is exact (the same
    exact-below-cardinality property sketch_approx_topk_tokens'
    pytest asserts), which is what the batch-twin test pins."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.expr(f"approx_top_k(user_id, {k}, 16384)").alias("tk"))
        .select(
            F.to_date(F.col("win.start")).alias("day"),
            F.posexplode("tk").alias("rank", "entry"),
        )
        .select(
            "day",
            (F.col("rank") + 1).cast("int").alias("rank"),
            F.col("entry.item").alias("user_id"),
            F.col("entry.count").alias("est_count"),
        )
    )


def user_running_totals_stream(events: DataFrame) -> DataFrame:
    """Arbitrary stateful streaming: per-user running totals via
    applyInPandasWithState (Arrow-batched, state in the state store —
    the 100 TB path for custom stateful logic)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # nested, so cloudpickle ships it by value: executor workers need
    # not have this package on sys.path
    def _running_totals(
        key: tuple, batches: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        """Update fn: per-user running count/sum."""
        count, total = state.get() if state.exists else (0, 0.0)
        for pdf in batches:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "event_count": [count], "total_value": [round(total, 2)]}
        )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_count", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("count", LongType()), StructField("total", DoubleType())]
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def user_running_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals via transformWithStateInPandas — the
    Spark 4 arbitrary-stateful API (StatefulProcessor + typed state
    handles) that supersedes applyInPandasWithState: state is declared
    per-variable (ValueState/ListState/MapState with optional TTL),
    timers are first-class, and the operator requires the RocksDB state
    store — the provider that actually scales to 100 TB keyspaces
    (incremental checkpoints, off-heap, changelog uploads) versus the
    default in-memory HDFS-backed store.

    Kept semantically identical to user_running_totals_stream so the
    test asserts old API == new API == batch groupBy.

    Environment gate: the transformWithState driver/worker protocol
    speaks protobuf; this container has no `google.protobuf`, so the
    operator raises ImportError with a clear message here rather than a
    crashed-worker streaming error at run time.  The test skips on the
    same probe; on a real cluster (protobuf ships with every Spark
    distro's python env) it runs as written."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas requires google.protobuf "
            "(PySpark's state-server protocol); install protobuf or use "
            "user_running_totals_stream (applyInPandasWithState)"
        ) from e
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_count", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "count BIGINT, total DOUBLE"
            )

        def handleInputRows(
            self, key: tuple, rows: Iterator[pd.DataFrame], timer_values: Any
        ) -> Iterator[pd.DataFrame]:
            count, total = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                count += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((count, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "event_count": [count],
                    "total_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotals(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )


def watermarked_hourly_counts_stream(
    events: DataFrame,
    delay: str = "5 minutes",
    window_dur: str = "1 hour",
) -> DataFrame:
    """Windowed event counts under a real event-time watermark — the
    streaming op whose late-data DROP behavior the batch lateness
    audit (operators/temporal.py::ts_watermark_lateness) exists to
    size: pick the watermark delay from the histogram, and every
    bucket entirely above it is the data this op discards.

    Drop granularity is the WINDOW, not the event: Spark evicts a
    window's state once the watermark passes its END, so a late event
    is dropped iff lateness > delay + (window_end − event_time) — the
    delay sized from the histogram is the guaranteed-keep bound, and
    up to one window_dur of extra slack is kept for free.  The exact
    kept/dropped equivalence is pinned with second-granularity windows
    (single-key feed, one event per micro-batch, so the global
    watermark IS the per-key prior max the batch audit computes) in
    tests/test_streaming.py::
    test_watermark_drop_split_matches_batch_lateness_histogram."""
    return (
        events.withWatermark("ts", delay)
        .groupBy(F.window("ts", window_dur).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def run_stream_to_memory(
    df: DataFrame, table_name: str, output_mode: str = "complete"
) -> None:
    """Drain a stream into an in-memory table with the available-now
    trigger (test/verification harness; a deployment would use a
    durable sink + checkpoint)."""
    q = (
        df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dedup_stream(events: DataFrame, key: str = "event_id") -> DataFrame:
    """Streaming dedup by key: dropDuplicatesWithinWatermark evicts a
    key's state once the watermark passes its event time, so state is
    bounded to keys seen inside the watermark horizon — the streaming
    twin of the batch exact-dedup operators (operators/dedup.py).

    Plain dropDuplicates([key]) would NOT work here: without the
    event-time column in the subset the watermark never evicts dedup
    state and it grows without bound in a continuous deployment.
    """
    return events.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark([key])


def enrich_stream_with_static(events: DataFrame, user_profile: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch joins against a static
    (batch) dimension — the standard enrichment pattern.  The static
    side broadcasts per micro-batch; no streaming state is kept."""
    return events.join(user_profile, "user_id", "left").select(
        "event_id", "user_id", "event_type", "value", "user_tier"
    )


def session_window_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Streaming gap sessionization: the native session_window operator
    under a watermark — the streaming twin of the batch
    sess2_session_window (operators/extended.py).  State holds one open
    session per user; the watermark closes and emits sessions whose gap
    horizon has passed."""
    return (
        events.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", f"{gap_minutes} minutes"), "user_id")
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("start_us"),
            "event_count",
            "session_value",
        )
    )


def stream_stream_error_click_join(
    errors: DataFrame, clicks: DataFrame, window_sec: int = 600
) -> DataFrame:
    """Stream-stream inner join with a time-range condition: clicks
    within `window_sec` AFTER an error by the same user — the streaming
    twin of the batch banded interval join
    (operators/temporal.py::interval_error_click_burst).

    Both sides carry watermarks, and the range condition bounds how
    long each side's state is retained (Spark derives the state
    horizon from watermark + time bounds — without the range bound the
    join state would grow forever)."""
    e = (
        errors.withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
    )
    c = (
        clicks.withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
    )
    return e.join(
        c,
        F.expr(
            f"""
            e_user = c_user AND
            c_ts >= e_ts AND
            c_ts < e_ts + INTERVAL {window_sec} SECONDS
            """
        ),
    ).select("error_id", F.col("e_user").alias("user_id"), "c_ts", "click_value")


def upsert_stream_to_parquet(
    per_user: DataFrame,
    target_path: str,
    checkpoint_path: str,
    keys: list[str] = ["user_id"],
    order_col: str = "last_us",
):
    """foreachBatch sink: maintain a latest-wins parquet mart from a
    streaming aggregate.  Each micro-batch merges into the target with
    functions/merge.py::upsert_latest — the streaming analogue of a
    MERGE INTO target USING batch sink.

    Plain parquet has no transactional MERGE, so the batch function
    rewrites the mart (read → upsert → overwrite to a temp-then-swap
    is the table format's job; Delta/Iceberg would do this in-place).
    The pattern under test is the composition: streaming aggregate →
    foreachBatch → deterministic merge, restart-safe via the
    checkpoint (a replayed batch re-merges idempotently because
    latest-wins is idempotent on (key, order_col)).

    Returns the started StreamingQuery (caller awaits termination).
    """
    from ..functions.merge import upsert_latest

    spark = per_user.sparkSession
    schema = per_user.schema

    def _merge_batch(batch: DataFrame, batch_id: int) -> None:
        s = batch.sparkSession
        try:
            current = s.read.schema(schema).parquet(target_path)
        except Exception:
            current = s.createDataFrame([], schema)
        merged = upsert_latest(current, batch, keys=keys, order_col=order_col)
        # materialize before overwrite: the plan reads target_path
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(target_path)

    return (
        per_user.writeStream.outputMode("update")
        .foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
