"""Streaming verified against its batch twin: the same daily rollup
computed by Structured Streaming (file source, available-now trigger)
must equal the batch window query on the same data.
"""

from __future__ import annotations

import os

import pytest

from bigdata_gamedb_etl_spark import streaming
from bigdata_gamedb_etl_spark.operators.windows import w4_daily_event_rollup
from bigdata_gamedb_etl_spark.sources.catalog import read_events, table, write_parquet

from pyspark.sql import functions as F


@pytest.fixture()
def events_dir(sf_dir, tmp_path):
    d = tmp_path / "events_stream"
    d.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_streaming_daily_rollup_matches_batch(spark, sf_dir, events_dir):
    events = streaming.read_events_stream(spark, events_dir)
    assert events.isStreaming
    rollup = streaming.daily_rollup_stream(events)
    streaming.run_stream_to_memory(rollup, "daily_rollup_t", "complete")

    got = {
        (r["day"], r["event_type"]): (r["event_count"], r["total_value"])
        for r in spark.table("daily_rollup_t").collect()
    }
    want = {
        (r["day"], r["event_type"]): (r["event_count"], r["total_value"])
        for r in w4_daily_event_rollup(spark, sf_dir).collect()
    }
    assert got == want


def test_stateful_running_totals(spark, sf_dir, events_dir):
    events = streaming.read_events_stream(spark, events_dir)
    totals = streaming.user_running_totals_stream(events)
    streaming.run_stream_to_memory(totals, "user_totals_t", "update")

    # update-mode memory sink keeps every emitted row; the final state
    # per user is the last emission — with a single available-now batch
    # over one file there is exactly one emission per user.
    got = {
        r["user_id"]: (r["event_count"], r["total_value"])
        for r in spark.table("user_totals_t").collect()
    }
    want = {
        r["user_id"]: (r["event_count"], pytest.approx(r["total_value"], abs=0.011))
        for r in (
            table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("event_count"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .collect()
        )
    }
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][0] == want[uid][0]
        assert got[uid][1] == want[uid][1]


def test_streaming_dedup_matches_batch_distinct(spark, sf_dir, events_dir):
    events = streaming.read_events_stream(spark, events_dir)
    deduped = streaming.dedup_stream(events, "event_id")
    streaming.run_stream_to_memory(deduped, "dedup_t", "append")
    got = spark.table("dedup_t").count()
    want = table(spark, sf_dir, "events").select("event_id").distinct().count()
    assert got == want


def test_stream_static_join(spark, sf_dir, events_dir):
    # static dim derived from batch: per-user tier by event volume
    profile = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.when(F.col("n") >= 100, "heavy").otherwise("light").alias("user_tier"),
        )
    )
    events = streaming.read_events_stream(spark, events_dir)
    enriched = streaming.enrich_stream_with_static(events, profile)
    streaming.run_stream_to_memory(enriched, "enriched_t", "append")
    out = spark.table("enriched_t")
    assert out.count() == table(spark, sf_dir, "events").count()
    assert out.where(F.col("user_tier").isNull()).count() == 0


def test_checkpoint_recovery_processes_only_new_files(spark, tmp_path):
    """Durability: a restarted stream with the same checkpoint resumes
    from where it left off — the second run ingests only the new file."""
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    os.symlink("/root/testdata/sf0.001/events.parquet", src / "f1.parquet")

    def run_once():
        events = streaming.read_events_stream(spark, str(src))
        q = (
            events.select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == 1000  # sf0.001 events

    os.symlink("/root/testdata/sf0.01/events.parquet", src / "f2.parquet")
    run_once()
    total = spark.read.parquet(out).count()
    assert total == 1000 + 10000  # f1 not reprocessed, f2 ingested once


def test_streaming_session_window_subset_of_batch(spark, sf_dir, events_dir):
    from bigdata_gamedb_etl_spark.operators.extended import sess2_session_window

    events = streaming.read_events_stream(spark, events_dir)
    sessions = streaming.session_window_stream(events)
    streaming.run_stream_to_memory(sessions, "sessions_t", "append")

    got = {
        (r["user_id"], r["start_us"]): (r["event_count"], r["session_value"])
        for r in spark.table("sessions_t").collect()
    }
    want = {
        (r["user_id"], r["start_us"]): (r["event_count"], r["session_value"])
        for r in sess2_session_window(spark, sf_dir).collect()
    }
    # append mode emits only watermark-closed sessions: everything
    # emitted must match the batch twin exactly, and most sessions
    # (all but the final day inside the watermark horizon) must emit
    assert got, "no sessions emitted"
    assert set(got) <= set(want)
    for k in got:
        assert got[k] == want[k]
    assert len(got) >= len(want) // 2


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_dir):
    from bigdata_gamedb_etl_spark.operators.temporal import (
        interval_error_click_burst,
    )

    ev = streaming.read_events_stream(spark, events_dir)
    errors = ev.where(F.col("event_type") == "error")
    clicks = ev.where(F.col("event_type") == "click")
    joined = streaming.stream_stream_error_click_join(errors, clicks)
    streaming.run_stream_to_memory(joined, "ss_join_t", "append")

    got_pairs = spark.table("ss_join_t").count()
    want_pairs = (
        interval_error_click_burst(spark, sf_dir)
        .agg(F.sum("clicks_10m").alias("n"))
        .first()["n"]
    ) or 0
    assert got_pairs == want_pairs


def _per_user_totals(events):
    return events.groupBy("user_id").agg(
        F.count("*").alias("event_count"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_value"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )


def _batch_totals(spark, events_dir):
    batch = read_events(spark, events_dir)
    return {
        r["user_id"]: (r["event_count"], r["total_value"], r["last_us"])
        for r in _per_user_totals(batch).collect()
    }


def test_foreach_batch_upsert_mart(spark, sf_dir, events_dir, tmp_path):
    mart = str(tmp_path / "user_mart")
    ckpt = str(tmp_path / "ckpt_upsert")

    def run():
        events = streaming.read_events_stream(spark, events_dir)
        q = streaming.upsert_stream_to_parquet(
            _per_user_totals(events), mart, ckpt
        )
        q.awaitTermination(120)

    run()
    got = {
        r["user_id"]: (r["event_count"], r["total_value"], r["last_us"])
        for r in spark.read.parquet(mart).collect()
    }
    assert got == _batch_totals(spark, events_dir)

    # a late-arriving second file updates only the touched users via the
    # same checkpoint (incremental MERGE semantics)
    first = (
        read_events(spark, events_dir)
        .orderBy("event_id")
        .limit(100)
    )
    (
        first.withColumn("event_id", F.col("event_id") + 10_000_000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 24 HOURS"))
        .write.mode("overwrite")
        .parquet(str(tmp_path / "late"))
    )
    late = spark.read.parquet(str(tmp_path / "late"))
    late.write.mode("append").parquet(events_dir)

    run()
    got2 = {
        r["user_id"]: (r["event_count"], r["total_value"], r["last_us"])
        for r in spark.read.parquet(mart).collect()
    }
    assert got2 == _batch_totals(spark, events_dir)
    assert got2 != got


def test_rate_source_windowed_agg_deterministic(spark):
    """The rate-micro-batch generator must replay identically: one
    availableNow pass yields the first batch's 100 rows in the first
    one-minute window with sum(value) = 0+..+99."""
    from bigdata_gamedb_etl_spark.streaming.windowed import read_rate_stream

    src = read_rate_stream(spark, rows_per_batch=100)
    agg = src.groupBy(F.window("timestamp", "1 minute").alias("win")).agg(
        F.count("*").alias("n"), F.sum("value").alias("s")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_smoke")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select n, s from rate_smoke").collect()
    assert [(r["n"], r["s"]) for r in rows] == [(100, 4950)]


_EPOCH_2024_S = 1_704_067_200  # 2024-01-01T00:00:00Z


def _write_events_fixture(tmp_path, name: str, unit: str):
    """Write a tiny events-shaped `events.parquet` into a fresh dir —
    a table dir for `catalog.table` and a stream source dir at once —
    with ts in the given encoding: 'us' → INT64 TIMESTAMP(MICROS) like
    the testdata, 'ms' → TIMESTAMP(MILLIS), 'int96' → INT96 like
    Spark's default sink output; 'ns' → TIMESTAMP(NANOS) and 'raw_s'
    → unannotated int64 seconds, two encodings the engine rejects."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 10
    ts = pa.array([_EPOCH_2024_S + i * 60 for i in range(n)], pa.int64())
    if unit != "raw_s":
        arrow_unit = "ns" if unit == "int96" else unit
        ts = ts.cast(pa.timestamp("s")).cast(pa.timestamp(arrow_unit))
    t = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts,
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["click"] * n),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    d = tmp_path / name
    d.mkdir()
    pq.write_table(
        t, d / "events.parquet", version="2.6",
        use_deprecated_int96_timestamps=unit == "int96",
    )
    return str(d)


def _ts_encoding(path):
    import pyarrow.parquet as pq

    with pq.ParquetFile(path) as pf:
        return pf.schema.column(pf.schema.names.index("ts")).physical_type


def test_decodable_ts_encodings_read_the_same_instant(spark, tmp_path):
    """MICROS, MILLIS and INT96 all read through the one declared-schema
    decode: batch and stream see the same first event time,
    2024-01-01 00:00:00 in the pinned UTC session."""
    from datetime import datetime

    for unit in ("us", "ms", "int96"):
        d = _write_events_fixture(tmp_path, f"ev_{unit}", unit)
        batch_first = read_events(spark, d).orderBy("event_id").first()["ts"]
        assert batch_first == datetime(2024, 1, 1), unit
        assert table(spark, d, "events").orderBy("event_id").first()["ts"] == batch_first
        ev = streaming.read_events_stream(spark, d)
        streaming.run_stream_to_memory(
            ev.select("event_id", "ts"), f"decode_{unit}_t", "append"
        )
        stream_first = (
            spark.table(f"decode_{unit}_t").orderBy("event_id").first()["ts"]
        )
        assert stream_first == batch_first, unit


def test_engine_written_events_stream_back_like_batch(spark, sf_dir, tmp_path):
    """Round trip of the engine's own sink under default confs: events
    written by `catalog.write_parquet` store ts as INT96, and both the
    batch `read_events` and the stream rollup must equal the batch
    twin `w4_daily_event_rollup` over the same files."""
    out = tmp_path / "events.parquet"  # a table dir for `table` / w4
    write_parquet(table(spark, sf_dir, "events"), str(out))
    part = next(out.glob("part-*.parquet"))
    assert _ts_encoding(str(part)) == "INT96"

    def rollup(rows):
        return {
            (r["day"], r["event_type"]): (r["event_count"], r["total_value"])
            for r in rows
        }

    want = rollup(w4_daily_event_rollup(spark, str(tmp_path)).collect())
    assert want == rollup(w4_daily_event_rollup(spark, sf_dir).collect())

    batch = rollup(
        read_events(spark, str(out))
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count("*").alias("event_count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
    )
    assert batch == want

    events = streaming.read_events_stream(spark, str(out))
    streaming.run_stream_to_memory(
        streaming.daily_rollup_stream(events), "int96_rollup_t", "complete"
    )
    assert rollup(spark.table("int96_rollup_t").collect()) == want


def test_stream_and_batch_agree_on_first_event_ts(spark, sf_dir, events_dir):
    """The exact round-4 regression: stream and batch must decode the
    real testdata's first event timestamp identically (not 1000× off)."""
    batch_min = table(spark, sf_dir, "events").agg(F.min("ts")).first()[0]
    ev = streaming.read_events_stream(spark, events_dir)
    streaming.run_stream_to_memory(
        ev.groupBy().agg(F.min("ts").alias("mn")), "first_ts_t", "complete"
    )
    stream_min = spark.table("first_ts_t").first()["mn"]
    assert stream_min == batch_min


def test_unit_skew_guard_fires_on_unknown_encoding(spark, tmp_path):
    """A ts encoding the declared-schema read cannot decode (NANOS, raw
    int64 seconds) must raise an immediate, attributable error on the
    driver — from batch `table` and at stream construction alike — not
    a task failure or silently-wrong windows."""
    for unit in ("ns", "raw_s"):
        d = _write_events_fixture(tmp_path, f"ev_{unit}", unit)
        for read in (
            lambda: table(spark, d, "events"),
            lambda: streaming.read_events_stream(spark, d),
        ):
            with pytest.raises(ValueError, match="'events'.*unit skew"):
                read()


def test_footer_check_reads_every_file_of_a_directory(spark, tmp_path):
    """A directory whose first file decodes but whose second is NANOS
    must fail on the driver, naming the second file, from `table`,
    `read_events` and `read_events_stream` alike — not build cleanly
    and then fail inside an executor."""
    import shutil

    good = _write_events_fixture(tmp_path, "ev_us", "us")
    bad = _write_events_fixture(tmp_path, "ev_ns", "ns")
    mixed = tmp_path / "mixed" / "events.parquet"
    mixed.mkdir(parents=True)
    shutil.copy(os.path.join(good, "events.parquet"), mixed / "a.parquet")
    shutil.copy(os.path.join(bad, "events.parquet"), mixed / "b.parquet")
    for read in (
        lambda: table(spark, str(mixed.parent), "events"),
        lambda: read_events(spark, str(mixed)),
        lambda: streaming.read_events_stream(spark, str(mixed)),
    ):
        with pytest.raises(ValueError, match=r"'events'.*b\.parquet.*unit skew"):
            read()


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas' state protocol needs protobuf, "
    "not installed in this container (operator gated the same way)",
)
def test_transform_with_state_matches_old_api_and_batch(spark, sf_dir, events_dir):
    """transformWithStateInPandas (Spark 4 StatefulProcessor) must agree
    with the applyInPandasWithState operator and the batch groupBy.
    Requires the RocksDB state store provider — set only for this query
    via the conf pair, then restored."""
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        events = streaming.read_events_stream(spark, events_dir)
        totals = streaming.user_running_totals_tws(events)
        streaming.run_stream_to_memory(totals, "user_totals_tws_t", "update")
        got = {
            r["user_id"]: (r["event_count"], r["total_value"])
            for r in spark.table("user_totals_tws_t").collect()
        }
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    want = {
        r["user_id"]: (r["event_count"], r["total_value"])
        for r in (
            table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count("*").alias("event_count"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .collect()
        )
    }
    assert set(got) == set(want)
    for uid in want:
        assert got[uid][0] == want[uid][0]
        assert got[uid][1] == pytest.approx(want[uid][1], abs=0.011)


def test_streaming_ohlc_matches_batch(spark, sf_dir, events_dir):
    """Downsampling parity: the streaming hourly OHLC bars must equal
    the batch ts_ohlc_hourly on the same files — min_by/max_by keep
    one candidate per window in the state store, so open/close survive
    the incremental path bit-identically."""
    from bigdata_gamedb_etl_spark.operators.temporal import ts_ohlc_hourly

    events = streaming.read_events_stream(spark, events_dir)
    bars = streaming.ohlc_hourly_stream(events)
    streaming.run_stream_to_memory(bars, "ohlc_t", "complete")

    got = {
        (r["day"], r["hour"]): (
            r["open"], r["high"], r["low"], r["close"], r["volume"]
        )
        for r in spark.table("ohlc_t").collect()
    }
    want = {
        (r["day"], r["hour"]): (
            r["open"], r["high"], r["low"], r["close"], r["volume"]
        )
        for r in ts_ohlc_hourly(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_freshness_monitor_matches_batch(spark, sf_dir, events_dir):
    """Folding the hourly freshness windows back to per-type totals
    must reproduce the batch dq_freshness_lag inputs exactly: same
    per-type row counts and same latest event time (so the derived
    staleness is identical)."""
    from bigdata_gamedb_etl_spark.operators.extended import dq_freshness_lag

    events = streaming.read_events_stream(spark, events_dir)
    monitor = streaming.freshness_monitor_stream(events)
    streaming.run_stream_to_memory(monitor, "freshness_t", "complete")

    folded = {
        r["event_type"]: (r["n"], r["latest"])
        for r in spark.table("freshness_t")
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n"),
            F.max("latest_us").alias("latest"),
        )
        .collect()
    }
    batch = {
        r["event_type"]: (r["n_events"], r["latest_us"])
        for r in (
            table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.max(F.unix_micros("ts")).alias("latest_us"),
            )
            .collect()
        )
    }
    assert folded == batch
    # and the derived per-type staleness matches the registered audit
    global_us = max(v[1] for v in batch.values())
    derived = {
        t: round((global_us - v[1]) / 3_600_000_000.0, 4)
        for t, v in folded.items()
    }
    audit = {
        r["event_type"]: r["staleness_hours"]
        for r in dq_freshness_lag(spark, sf_dir).collect()
    }
    assert derived == audit


def test_streaming_conformity_monitor_matches_batch(spark, sf_dir, events_dir):
    """Folding the hourly conformity windows back to totals must
    reproduce the batch dq_event_conformity scorecard exactly for the
    rules both forms share (the ts-window rule is batch-only by
    documented design — the stream's watermark owns event-time)."""
    from bigdata_gamedb_etl_spark.operators.extended import dq_event_conformity

    events = streaming.read_events_stream(spark, events_dir)
    monitor = streaming.conformity_monitor_stream(events)
    streaming.run_stream_to_memory(monitor, "conformity_t", "complete")

    folded = (
        spark.table("conformity_t")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("bad_type").alias("bad_type"),
            F.sum("bad_value").alias("bad_value"),
            F.sum("bad_props").alias("bad_props"),
            F.sum("bad_keys").alias("bad_keys"),
        )
        .collect()[0]
    )
    batch = dq_event_conformity(spark, sf_dir).collect()[0]
    for col in ("n_events", "bad_type", "bad_value", "bad_props", "bad_keys"):
        assert folded[col] == batch[col], col
    # sanity on this corpus: the feed conforms (all-zero violations
    # would also pass a broken always-zero monitor, so pin n_events>0)
    assert folded["n_events"] > 0


def test_streaming_quality_monitor_matches_batch_drift_totals(
    spark, sf_dir, tmp_path
):
    """quality_monitor_stream's per-source scorecard must equal the
    batch dq_source_quality_drift rows folded over ingest batches —
    the same exact bucket predicate classifying the same feed."""
    from bigdata_gamedb_etl_spark.operators.textops import (
        dq_source_quality_drift,
    )

    d = tmp_path / "docs_stream"
    d.mkdir()
    os.symlink(f"{sf_dir}/documents.parquet", d / "documents.parquet")
    docs = streaming.read_documents_stream(spark, str(d))
    assert docs.isStreaming
    monitor = streaming.quality_monitor_stream(docs)
    streaming.run_stream_to_memory(monitor, "quality_t", "complete")

    got = {
        r["source"]: (r["n_docs"], r["hi_docs"], r["med_docs"], r["low_docs"])
        for r in spark.table("quality_t").collect()
    }
    folded: dict = {}
    for r in dq_source_quality_drift(spark, sf_dir).collect():
        n, hi, med, lo = folded.get(r["source"], (0, 0, 0, 0))
        folded[r["source"]] = (
            n + r["n_docs"],
            hi + r["hi_docs"],
            med + r["med_docs"],
            lo + r["low_docs"],
        )
    assert got == folded
    assert sum(v[0] for v in got.values()) > 0


def test_streaming_dau_sketch_bounds_exact_batch(spark, sf_dir, events_dir):
    """daily_active_users_stream: n_events must equal the batch count
    exactly; approx_users must land within HLL's ±5% of the exact
    batch distinct-user count for every day."""
    events = streaming.read_events_stream(spark, events_dir)
    dau = streaming.daily_active_users_stream(events)
    streaming.run_stream_to_memory(dau, "dau_stream_t", "complete")

    got = {
        r["day"]: (r["n_events"], r["approx_users"])
        for r in spark.table("dau_stream_t").collect()
    }
    exact = {
        r["day"]: (r["n_events"], r["exact_users"])
        for r in read_events(spark, events_dir)
        .groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("exact_users"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for day, (n, approx) in got.items():
        n_exact, u_exact = exact[day]
        assert n == n_exact, f"{day}: row count {n} != {n_exact}"
        assert abs(approx - u_exact) <= max(1, 0.05 * u_exact), (
            f"{day}: approx {approx} outside ±5% of exact {u_exact}"
        )


def test_streaming_heavy_users_exact_below_cardinality(spark, sf_dir, events_dir):
    """daily_heavy_users_stream with the tracker sized above the true
    user cardinality: every reported count must equal the user's exact
    daily count, and the reported top-k floor must dominate the exact
    k-th count (ties may permute, counts may not drift)."""
    events = streaming.read_events_stream(spark, events_dir)
    hh = streaming.daily_heavy_users_stream(events, k=5)
    streaming.run_stream_to_memory(hh, "heavy_users_t", "complete")

    got = [
        (r["day"], r["user_id"], r["est_count"])
        for r in spark.table("heavy_users_t").collect()
    ]
    assert got, "stream produced no heavy-hitter rows"
    exact = {
        (r["day"], r["user_id"]): r["n"]
        for r in read_events(spark, events_dir)
        .groupBy(
            F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id"
        )
        .agg(F.count("*").alias("n"))
        .collect()
    }
    per_day_counts: dict = {}
    for (day, _), n in exact.items():
        per_day_counts.setdefault(day, []).append(n)
    for day, user, est in got:
        assert est == exact[(day, user)], (
            f"{day}/{user}: sketch count {est} != exact {exact[(day, user)]}"
        )
    from collections import Counter

    got_days = Counter(d for d, _, _ in got)
    for day, n_rows in got_days.items():
        kth = sorted(per_day_counts[day], reverse=True)[: n_rows][-1]
        floor = min(est for d, _, est in got if d == day)
        assert floor >= kth, (day, floor, kth)


def test_streaming_rollup_drops_null_ts_rows_batch_keeps_them(
    spark, tmp_path
):
    """Declared twin semantics on a null-heavy feed: the watermark
    operator drops rows whose event time is NULL before the windowed
    aggregate (same reason conformity_monitor_stream's bad_keys
    omits the ts rule), while the batch twin keeps them as a
    NULL-day group.  Pin the exact relationship:
    stream result == batch twin restricted to ts IS NOT NULL."""
    from datetime import datetime

    from bigdata_gamedb_etl_spark.operators.windows import (
        w4_daily_event_rollup,
    )
    from bigdata_gamedb_etl_spark.sources.catalog import TABLE_SCHEMAS

    rows = [
        (1, None, 7, "click", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 1, 0, 0), 7, "click", 2.0, "{}"),
        (3, datetime(2024, 1, 1, 2, 0, 0), 8, "click", 3.0, "{}"),
        (4, None, 8, "view", 4.0, "{}"),
        (5, datetime(2024, 1, 2, 1, 0, 0), 8, "view", 5.0, "{}"),
    ]
    d = tmp_path / "null_ts_events"
    d.mkdir()
    staged = tmp_path / "staged"
    spark.createDataFrame(rows, TABLE_SCHEMAS["events"]).coalesce(
        1
    ).write.mode("overwrite").parquet(str(staged))
    # the catalog expects events.parquet to be a FILE (like the
    # driver-generated testdata), not a directory
    import shutil as _sh

    part = next(staged.glob("part-*.parquet"))
    _sh.copy(str(part), str(d / "events.parquet"))

    events = streaming.read_events_stream(spark, str(d))
    rollup = streaming.daily_rollup_stream(events)
    streaming.run_stream_to_memory(rollup, "null_ts_rollup_t", "complete")
    got = {
        (str(r["day"]), r["event_type"]): (r["event_count"], r["total_value"])
        for r in spark.table("null_ts_rollup_t").collect()
    }

    batch = {
        (str(r["day"]), r["event_type"]): (r["event_count"], r["total_value"])
        for r in w4_daily_event_rollup(spark, str(d))
        .where(F.col("day").isNotNull())
        .collect()
    }
    assert got == batch
    # and the batch twin DID see the null-day group the stream dropped
    null_day = (
        w4_daily_event_rollup(spark, str(d))
        .where(F.col("day").isNull())
        .collect()
    )
    assert {(r["event_type"], r["event_count"]) for r in null_day} == {
        ("click", 1),
        ("view", 1),
    }


def test_watermark_drop_split_matches_batch_lateness_histogram(
    spark, tmp_path
):
    """Closes the loop on ts_watermark_lateness's docstring claim: the
    batch histogram SIZES a streaming watermark delay, so a real
    watermarked streaming aggregation fed the same disordered events
    must keep exactly the events in buckets below the chosen delay and
    drop exactly the ones above it.

    Feed construction makes the two lateness definitions coincide: a
    single user (per-key prior max == global max) arriving one event
    per micro-batch (the watermark — prior max ts minus delay —
    advances between every pair of events, exactly the batch audit's
    'prior per-user max' in ingestion order).  Delay = 5 minutes, a
    bucket EDGE, so buckets 1-2 (< 1 m) are kept and buckets 4-5
    (>= 5 m late) are dropped — no fixture event sits on the edge."""
    import datetime

    from bigdata_gamedb_etl_spark.operators import temporal

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ts(sec):
        return t0 + datetime.timedelta(seconds=sec)

    # (event_id, ts, lateness vs prior max): in-order, 30 s late,
    # 400 s late, 2000 s late — same user-1 sequence the batch
    # histogram fixture uses
    rows = [
        (1, ts(1000)),
        (2, ts(970)),
        (3, ts(600)),
        (4, ts(-1000)),
    ]
    src = tmp_path / "late_src"
    src.mkdir()
    for i, (eid, t) in enumerate(rows):
        df = spark.createDataFrame(
            [(eid, t, 1, "click", 1.0, "{}")],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )
        staged = tmp_path / f"stage_{i}"
        df.coalesce(1).write.parquet(str(staged))
        part = next(staged.glob("part-*.parquet"))
        dst = src / f"f{i}.parquet"
        part.rename(dst)
        # the file source orders micro-batches by modification time —
        # make arrival order explicit and strictly increasing
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    events = streaming.read_events_stream(spark, str(src))
    # 1-second windows: drop granularity is the WINDOW end, so
    # second-granularity windows make 'window closed' == 'event later
    # than the delay' and the split exact (see the op's docstring)
    counts = streaming.watermarked_hourly_counts_stream(
        events, "5 minutes", window_dur="1 second"
    )
    streaming.run_stream_to_memory(counts, "wm_drop_t", "update")
    # update mode re-emits a window each time its count changes; a
    # window's count only grows, so max() per window is its final value
    kept = {
        r["window_start"]: r["n_events"]
        for r in spark.table("wm_drop_t")
        .groupBy("window_start")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    n_kept = sum(kept.values())

    # batch histogram over the same feed
    e = spark.createDataFrame(
        [(eid, t, 1) for eid, t in rows],
        "event_id long, ts timestamp, user_id long",
    )
    hist = {
        r["late_bucket"]: r["n_events"]
        for r in temporal._lateness_histogram(e).collect()
    }
    below_delay = sum(
        n
        for b, n in hist.items()
        if b in ("1_in_order", "2_lt_1m", "3_lt_5m")
    )
    above_delay = sum(
        n for b, n in hist.items() if b in ("4_lt_30m", "5_gte_30m")
    )
    assert hist == {
        "1_in_order": 1,
        "2_lt_1m": 1,
        "4_lt_30m": 1,
        "5_gte_30m": 1,
    }
    assert n_kept == below_delay == 2
    assert len(rows) - n_kept == above_delay == 2
    # the dropped events' (1-second) windows never materialize at all
    assert ts(600) not in kept and ts(-1000) not in kept
    # and the kept ones are exactly the in-order + 30 s-late events
    assert kept == {ts(1000): 1, ts(970): 1}


def test_streaming_logbin_partials_match_batch_and_merge(spark, sf_dir, events_dir):
    """The streaming quantile-sketch partial must equal the identical
    batch binning per (day, bin), and — the mergeable-sketch point —
    summing the streamed partials must equal the batch whole-corpus
    bin counts (partials merge by plain addition)."""
    events = streaming.read_events_stream(spark, events_dir)
    part = streaming.logbin_value_sketch_stream(events)
    streaming.run_stream_to_memory(part, "logbin_partials_t", "complete")

    got = {
        (r["day"], r["d"], r["lead2"]): r["cnt"]
        for r in spark.table("logbin_partials_t").collect()
    }
    e = table(spark, sf_dir, "events").where(
        F.col("value") > 0
    ).where(F.col("ts").isNotNull())
    c = F.round(F.col("value") * 100).cast("long")
    batch = e.select(
        F.to_date(F.date_trunc("DAY", "ts")).alias("day"),
        F.length(c.cast("string")).alias("d"),
        F.substring(c.cast("string"), 1, 2).cast("long").alias("lead2"),
    ).groupBy("day", "d", "lead2").agg(F.count("*").alias("cnt"))
    want = {
        (r["day"], r["d"], r["lead2"]): r["cnt"] for r in batch.collect()
    }
    assert got == want

    merged_from_stream: dict = {}
    for (day, d, lead2), cnt in got.items():
        merged_from_stream[(d, lead2)] = (
            merged_from_stream.get((d, lead2), 0) + cnt
        )
    whole = {
        (r["d"], r["lead2"]): r["cnt"]
        for r in batch.groupBy("d", "lead2")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged_from_stream == whole
