"""Streaming + windowed-aggregation tests.

One real Structured Streaming run (file source → memory sink) proves
the streaming path; the rest exercise the shared batch/stream
transform bodies on batch frames (the bodies are identical by
construction). The stream-stream attribution join is checked on both
faces: batch semantics and real two-watermark streaming runs.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from airflow_subscription_etl_spark.schemas import EVENTS_SCHEMA
from airflow_subscription_etl_spark.streaming import events as EV
from airflow_subscription_etl_spark.streaming.events import (
    purchase_attribution_join,
)


def _ts(minute: float, base_hour: int = 10) -> dt.datetime:
    whole = int(minute)
    return dt.datetime(2024, 1, 1, base_hour, whole, int((minute - whole) * 60))


@pytest.fixture()
def ev(spark):
    rows = [
        (1, _ts(0), 1, "click", 1.0, '{"k": 1}'),
        (2, _ts(4), 1, "click", 2.0, '{"k": 2}'),
        (3, _ts(11), 1, "view", 3.0, '{"k": 3}'),
        (4, _ts(50), 1, "click", 4.0, '{"k": 4}'),  # 39-min gap → new session
        (5, _ts(2), 2, "click", 5.0, '{"k": 5}'),
    ]
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


def test_tumbling_counts_batch(ev):
    out = {
        (r["w_start"].minute, r["event_type"]): r["n_events"]
        for r in EV.tumbling_counts(ev, "10 minutes").collect()
    }
    assert out[(0, "click")] == 3  # events at :00, :04 (u1) and :02 (u2)
    assert out[(10, "view")] == 1
    assert out[(50, "click")] == 1


def test_sliding_counts_each_event_in_two_windows(ev):
    rows = EV.sliding_counts(ev, "10 minutes", "5 minutes").collect()
    total = sum(r["n_events"] for r in rows)
    assert total == 2 * ev.count()


def test_sessionize_batch_gap_splits(ev):
    out = EV.sessionize_batch(ev, gap_minutes=30)
    sessions = out.filter(F.col("user_id") == 1).orderBy("session_seq").collect()
    assert len(sessions) == 2
    assert sessions[0]["n_events"] == 3
    assert sessions[1]["n_events"] == 1


def test_stream_dedup_batch_path(spark, ev):
    dup = ev.union(ev.limit(2))
    assert EV.stream_dedup(dup).count() == ev.count()


def test_streaming_end_to_end_tumbling(spark, ev, tmp_path):
    """Real readStream → window agg with watermark → memory sink."""
    src = str(tmp_path / "events_parquet")
    ev.write.parquet(src)
    stream = EV.read_events_stream(spark, src)
    assert stream.isStreaming
    agg = EV.tumbling_counts(stream, "10 minutes", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_tumbling")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["w_start"].minute, r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    assert got[(0, "click")] == 3
    q.stop()


def test_streaming_stateful_user_totals(spark, ev, tmp_path):
    """applyInPandasWithState accumulates per-user state ACROSS
    micro-batches (2 files × maxFilesPerTrigger=1 → 2 batches)."""
    src = str(tmp_path / "events_state")
    ev.repartition(2).write.parquet(src)
    stream = EV.read_events_stream(spark, src, max_files_per_trigger=1)
    q = (
        EV.stateful_user_totals(stream)
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT max(n_events) AS n FROM t_state WHERE user_id = 1"
    ).collect()
    assert rows[0]["n"] == 4  # all 4 user-1 events, accumulated across batches
    q.stop()
    # batch fallback: same logical result from a plain groupBy
    got = {
        r["user_id"]: r["n_events"] for r in EV.stateful_user_totals(ev).collect()
    }
    assert got == {1: 4, 2: 1}


def test_streaming_dedup_within_watermark(spark, ev, tmp_path):
    """dropDuplicatesWithinWatermark drops the cross-batch replay of the
    same event_ids (bounded state keyed by event_id)."""
    src = str(tmp_path / "events_dup")
    ev.write.parquet(src)
    ev.limit(3).write.mode("append").parquet(src)  # replay 3 event_ids
    stream = EV.read_events_stream(spark, src, max_files_per_trigger=1)
    q = (
        EV.stream_dedup(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("t_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n = spark.sql("SELECT count(DISTINCT event_id) c, count(*) n FROM t_dedup").collect()[0]
    assert n["c"] == 5
    assert n["n"] == 5  # replayed ids were dropped, not re-emitted
    q.stop()


def test_streaming_session_window(spark, ev, tmp_path):
    src = str(tmp_path / "events_parquet2")
    ev.write.parquet(src)
    stream = EV.read_events_stream(spark, src)
    agg = EV.session_windows_stream(stream, gap="30 minutes", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM t_sessions WHERE user_id = 1").collect()
    assert len(rows) == 2  # 39-min gap splits user 1 into two sessions
    q.stop()


def test_stream_static_enrich_end_to_end(spark, ev, tmp_path):
    """Real readStream joined to a static dim == the batch join."""
    from airflow_subscription_etl_spark.sources.io import read_star_table

    src = str(tmp_path / "events_enrich")
    ev.write.parquet(src)
    dim = read_star_table(spark, "/root/testdata/sf0.001", "customer")
    stream = EV.read_events_stream(spark, src)
    out = EV.enrich_stream_with_dim(stream, dim)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(customer_name) AS named FROM t_enrich"
    ).collect()[0]
    q.stop()
    batch = EV.enrich_stream_with_dim(ev, dim)
    expect_n = batch.count()
    expect_named = batch.filter("customer_name IS NOT NULL").count()
    assert (got["n"], got["named"]) == (expect_n, expect_named)
    assert expect_named > 0


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401, PLC0415

        return True
    except ImportError:
        return False


def test_streaming_tws_user_totals(spark, ev, tmp_path):
    """transformWithStateInPandas (new-gen stateful API) accumulates
    per-user state across micro-batches and matches the
    applyInPandasWithState operator's semantics.

    The streaming leg needs the ``protobuf`` package (the TWS state
    server speaks protobuf to the Python worker); environments without
    it still verify the batch fallback below."""
    if not _has_protobuf():
        a = {r["user_id"]: r["n_events"] for r in EV.tws_user_totals(ev).collect()}
        b = {
            r["user_id"]: r["n_events"]
            for r in EV.stateful_user_totals(ev).collect()
        }
        assert a == b == {1: 4, 2: 1}
        pytest.skip("protobuf not installed — TWS streaming leg unavailable")
    src = str(tmp_path / "events_tws")
    ev.repartition(2).write.parquet(src)
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = EV.read_events_stream(spark, src, max_files_per_trigger=1)
        q = (
            EV.tws_user_totals(stream)
            .writeStream.format("memory")
            .queryName("t_tws")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = spark.sql(
            "SELECT max(n_events) AS n FROM t_tws WHERE user_id = 1"
        ).collect()
        assert rows[0]["n"] == 4
        q.stop()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    # batch fallback mirrors the old-API operator exactly
    a = {r["user_id"]: r["n_events"] for r in EV.tws_user_totals(ev).collect()}
    b = {
        r["user_id"]: r["n_events"] for r in EV.stateful_user_totals(ev).collect()
    }
    assert a == b == {1: 4, 2: 1}


# --- stream-stream attribution join -----------------------------------------


@pytest.fixture()
def attrib_events(spark):
    rows = [
        # user 1: clicks at :00 and :25, purchase at :30 → both attach
        (1, _ts(0), 1, "click", 0.0, "{}"),
        (2, _ts(25), 1, "click", 0.0, "{}"),
        (3, _ts(30), 1, "purchase", 99.0, "{}"),
        # user 2: click 40 min before purchase → outside window
        (4, _ts(0), 2, "click", 0.0, "{}"),
        (5, _ts(45), 2, "purchase", 10.0, "{}"),
        # user 3: click AFTER purchase → never attaches
        (6, _ts(50), 3, "purchase", 5.0, "{}"),
        (7, _ts(55), 3, "click", 0.0, "{}"),
    ]
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


def test_attribution_join_batch_semantics(attrib_events):
    out = purchase_attribution_join(attrib_events, "30 minutes")
    got = sorted(
        (r["purchase_id"], r["click_id"]) for r in out.collect()
    )
    assert got == [(3, 1), (3, 2)]  # inclusive 30-min band, same user only


def test_attribution_join_streaming_end_to_end(spark, attrib_events, tmp_path):
    """Real two-sided watermarked stream-stream join via availableNow."""
    src = str(tmp_path / "ev_src")
    attrib_events.write.parquet(src)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    joined = purchase_attribution_join(stream, "30 minutes")
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("t_attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["purchase_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM t_attrib").collect()
    )
    assert got == [(3, 1), (3, 2)]


def test_attribution_left_join_streaming_emits_unmatched(
    spark, attrib_events, tmp_path
):
    """Stream-stream LEFT OUTER interval join: organic purchases (no
    click in window) emit with null click columns — but ONLY once a
    LATER batch's watermark proves no matching click can still arrive.
    Two far-future heartbeat batches advance the watermark so the
    unmatched state flushes within the run (the latency-for-correctness
    trade outer stream joins make)."""
    import time as _time

    from airflow_subscription_etl_spark.streaming.events import (
        purchase_attribution_left,
        read_events_stream,
    )

    src = str(tmp_path / "events_left")
    attrib_events.coalesce(1).write.parquet(src)
    # heartbeats: watermark computed from batch N's max ts applies in
    # batch N+1 — two advancing batches flush all earlier state
    # each heartbeat advances BOTH sides: the global watermark is the
    # MIN over the two per-side watermarks, so a click-only heartbeat
    # would leave the purchase watermark (and thus eviction) stuck
    for i, hour in enumerate([13, 16]):
        _time.sleep(1.1)  # file-source batches follow modification time
        hb = spark.createDataFrame(
            [
                (100 + i, dt.datetime(2024, 1, 1, hour, 0), 99, "click", 0.0, "{}"),
                (200 + i, dt.datetime(2024, 1, 1, hour, 0), 99, "purchase", 0.0, "{}"),
            ],
            EVENTS_SCHEMA,
        )
        hb.coalesce(1).write.mode("append").parquet(src)
    stream = read_events_stream(spark, src, max_files_per_trigger=1)
    q = (
        purchase_attribution_left(stream, "30 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("t_left")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    q.stop()
    rows = spark.sql("SELECT * FROM t_left WHERE user_id != 99").collect()
    batch = purchase_attribution_left(attrib_events, "30 minutes")
    got_matched = {
        (r["purchase_id"], r["click_id"]) for r in rows if r["click_id"] is not None
    }
    exp_matched = {
        (r["purchase_id"], r["click_id"])
        for r in batch.collect()
        if r["click_id"] is not None
    }
    assert got_matched == exp_matched
    exp_organic = {
        r["purchase_id"] for r in batch.collect() if r["click_id"] is None
    }
    got_organic = {r["purchase_id"] for r in rows if r["click_id"] is None}
    assert exp_organic and got_organic == exp_organic
