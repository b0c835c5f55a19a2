"""The keyed-state store (streaming/bucketed_state.py): last-writer-wins
upserts over digest-bucketed snapshot chains, same-id replay
idempotence and its write-aside crash states, null keys, prune and its
garbage collection, the plain ``batch=<id>`` chains, and a real
checkpointed stream driving the upsert through ``foreachBatch``."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from airflow_subscription_etl_spark.schemas import EVENTS_SCHEMA
from airflow_subscription_etl_spark.streaming import bucketed_state, fsio
from airflow_subscription_etl_spark.streaming import events as EV


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, minute)


def _batch(spark, rows):
    return spark.createDataFrame(rows, EVENTS_SCHEMA)


def _state(spark, root):
    return {
        r["k"]: r["v"]
        for r in bucketed_state.read_keyed_state(spark, root).collect()
    }


# ------------------------------------------ last-writer-wins upsert


def test_upsert_keeps_latest_per_key(spark, tmp_path):
    root = str(tmp_path / "snap")
    b0 = _batch(spark, [
        (1, _ts(0), 1, "click", 1.0, "{}"),
        (2, _ts(1), 2, "click", 2.0, "{}"),
    ])
    bucketed_state.upsert_keyed_buckets(b0, root, "user_id", "ts", 0)
    b1 = _batch(spark, [
        (3, _ts(5), 1, "purchase", 9.0, "{}"),   # newer → replaces user 1
        (4, _ts(0), 3, "view", 3.0, "{}"),       # new key
    ])
    bucketed_state.upsert_keyed_buckets(b1, root, "user_id", "ts", 1)
    snap = bucketed_state.read_keyed_state(spark, root)
    got = {r["user_id"]: r["event_id"] for r in snap.collect()}
    assert got == {1: 3, 2: 2, 3: 4}


def test_upsert_is_idempotent_on_replay(spark, tmp_path):
    root = str(tmp_path / "snap")
    b = _batch(spark, [(1, _ts(0), 1, "click", 1.0, "{}")])
    bucketed_state.upsert_keyed_buckets(b, root, "user_id", "ts", 0)

    def read():
        snap = bucketed_state.read_keyed_state(spark, root)
        return sorted(tuple(r) for r in snap.collect())

    before = read()
    # the foreachBatch retry contract: the failed batch is re-delivered
    # under the SAME id
    bucketed_state.upsert_keyed_buckets(b, root, "user_id", "ts", 0)
    after = read()
    assert before == after
    # a re-delivery under a later id is equally a no-op
    bucketed_state.upsert_keyed_buckets(b, root, "user_id", "ts", 1)
    after2 = read()
    assert before == after2


def test_keyed_state_on_file_uri(spark, tmp_path):
    """State discovery goes through the Hadoop FileSystem API, so a
    ``file:`` URI root (which driver-local ``os.listdir`` cannot list)
    finds its prior epochs."""
    root = f"file:{tmp_path}/snap"
    b0 = spark.createDataFrame([(1, "a", 0)], "k bigint, v string, o bigint")
    bucketed_state.upsert_keyed_buckets(b0, root, "k", "o", 0)
    b1 = spark.createDataFrame([(1, "b", 1)], "k bigint, v string, o bigint")
    bucketed_state.upsert_keyed_buckets(b1, root, "k", "o", 1)
    snap = bucketed_state.read_keyed_state(spark, root)
    assert [(r["k"], r["v"]) for r in snap.collect()] == [(1, "b")]


def test_read_keyed_state_before_batch_and_cold_start(spark, tmp_path):
    root = str(tmp_path / "u2")
    df0 = spark.createDataFrame([("a", 10), ("b", 20)], "k string, v long")
    df1 = spark.createDataFrame([("b", 25)], "k string, v long")
    bucketed_state.upsert_keyed_buckets(df0, root, "k", "v", 0, n_buckets=4)
    bucketed_state.upsert_keyed_buckets(df1, root, "k", "v", 1, n_buckets=4)
    assert _state(spark, root) == {"a": 10, "b": 25}
    # strictly-below bound: epoch 1's reader view is epoch 0's state
    before = {
        r["k"]: r["v"]
        for r in bucketed_state.read_keyed_state(
            spark, root, before_batch=1
        ).collect()
    }
    assert before == {"a": 10, "b": 20}
    assert bucketed_state.read_keyed_state(spark, str(tmp_path / "void")) is None


def test_same_id_replay_preserves_state_aqe_off(spark, tmp_path):
    """The REAL foreachBatch retry contract re-delivers a failed batch
    under the SAME id. The merge reads only snapshots STRICTLY below
    the batch id, so a replay never reads the dir it rewrites — with
    AQE off, overwriting a directory the same job reads destroys
    committed state."""
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    root = str(tmp_path / "replay")
    try:
        spark.conf.set(key, "false")
        df0 = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
        bucketed_state.upsert_keyed_buckets(df0, root, "k", "v", 0)
        df1 = spark.createDataFrame([(2, 25), (3, 30)], "k int, v int")
        bucketed_state.upsert_keyed_buckets(df1, root, "k", "v", 1)
        # the retry: same content, SAME id — must be a no-op, and rows
        # only present in prior state (k=1) must survive
        bucketed_state.upsert_keyed_buckets(df1, root, "k", "v", 1)
        got = _state(spark, root)
        assert got == {1: 10, 2: 25, 3: 30}
    finally:
        spark.conf.set(key, old)


def test_null_keys_round_trip_through_bucketed_state(spark, tmp_path):
    """crc32(NULL) is NULL, which partitionBy routes to the hive
    default-partition dir that the bucket=(\\d+) walk never matches —
    null-keyed rows were written once then SILENTLY DROPPED from every
    read. The null-safe bucket map keeps them round-tripping."""
    root = str(tmp_path / "nullk")
    df = spark.createDataFrame(
        [("a", 1), (None, 2)], "k string, v long"
    )
    bucketed_state.upsert_keyed_buckets(df, root, "k", "v", 0, n_buckets=4)
    got = {
        r["k"]: r["v"]
        for r in bucketed_state.read_keyed_state(spark, root).collect()
    }
    assert got == {"a": 1, None: 2}
    # and the null key merges as ONE key across epochs
    df2 = spark.createDataFrame([(None, 9)], "k string, v long")
    bucketed_state.upsert_keyed_buckets(df2, root, "k", "v", 1, n_buckets=4)
    got = {
        r["k"]: r["v"]
        for r in bucketed_state.read_keyed_state(spark, root).collect()
    }
    assert got == {"a": 1, None: 9}


# ------------------------------------------------------------- prune


def test_prune_removes_empty_epoch_dirs(spark, tmp_path):
    """An empty micro-batch's write leaves a bucket-less batch=<id>
    shell (_SUCCESS only); the old `buckets and ...` guard made such
    dirs permanently unprunable, defeating the ~n_buckets+keep_last
    listing bound."""
    root = str(tmp_path / "empty")
    full = spark.createDataFrame([("a", 1)], "k string, v long")
    empty = spark.createDataFrame([], "k string, v long")
    bucketed_state.upsert_keyed_buckets(full, root, "k", "v", 0, n_buckets=2)
    bucketed_state.upsert_keyed_buckets(empty, root, "k", "v", 1, n_buckets=2)
    bucketed_state.upsert_keyed_buckets(full, root, "k", "v", 2, n_buckets=2)
    names = fsio.list_names(spark, root)
    assert "batch=1" in names  # the empty shell exists pre-prune
    removed = bucketed_state.prune_bucketed_state(spark, root, keep_last=2)
    assert removed >= 1
    assert "batch=1" not in fsio.list_names(spark, root)
    # state unaffected
    got = {
        r["k"]: r["v"]
        for r in bucketed_state.read_keyed_state(spark, root).collect()
    }
    assert got == {"a": 1}


def test_prune_gcs_hive_default_partition_dirs(spark, tmp_path):
    """Roots written before the r12 null-key coalesce hold null-keyed
    rows under bucket=__HIVE_DEFAULT_PARTITION__ — invisible to the
    bucket=(\\d+) walk, previously undeletable inside retained batch
    dirs. The prune now removes them explicitly (removable dirs take
    theirs along wholesale)."""
    root = str(tmp_path / "hive")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    for i in range(4):
        bucketed_state.upsert_keyed_buckets(
            df.withColumn("v", df["v"] + i), root, "k", "v", i, n_buckets=4
        )
    before = {
        r["k"]: r["v"]
        for r in bucketed_state.read_keyed_state(spark, root).collect()
    }
    # simulate a pre-fix root: hive dirs inside a retained (newest) and
    # an old (removable) batch dir
    for b_id in (0, 3):
        hive = f"{root}/batch={b_id}/bucket=__HIVE_DEFAULT_PARTITION__"
        spark.createDataFrame([(None, 99)], "k string, v long").coalesce(
            1
        ).write.mode("overwrite").parquet(hive)
    bucketed_state.prune_bucketed_state(spark, root, keep_last=2)
    leftovers = [
        f"batch={name}/{sub}"
        for name in fsio.list_names(spark, root)
        if name.startswith("batch=")
        for sub in fsio.list_names(spark, f"{root}/{name}")
        if "HIVE_DEFAULT" in sub
    ]
    assert leftovers == []
    # numbered buckets and the visible state are untouched
    after = {
        r["k"]: r["v"]
        for r in bucketed_state.read_keyed_state(spark, root).collect()
    }
    assert after == before


def test_prune_removes_batch_dir_holding_only_hive_partition(
    spark, tmp_path
):
    """A batch dir whose ONLY content is the hive-default partition
    has no numbered buckets — it prunes as an empty shell (r12 rule),
    hive dir and all."""
    root = str(tmp_path / "hiveonly")
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    for i in (1, 2, 3):
        bucketed_state.upsert_keyed_buckets(df, root, "k", "v", i, n_buckets=2)
    hive = f"{root}/batch=0/bucket=__HIVE_DEFAULT_PARTITION__"
    spark.createDataFrame([(None, 9)], "k string, v long").write.mode(
        "overwrite"
    ).parquet(hive)
    bucketed_state.prune_bucketed_state(spark, root, keep_last=2)
    assert not fsio.exists(spark, f"{root}/batch=0")


# ------------------------------------------------- plain batch chains


def test_batch_ids_and_plain_chain_prune(spark, tmp_path):
    """``batch_ids`` lists only ``batch=<id>`` dirs, ascending by id
    (not by name), skipping write-asides and other names; a missing
    root has none. ``prune_plain_chain`` keeps the ``keep_last`` newest
    and refuses ``keep_last < 2``."""
    root = str(tmp_path / "chain")
    assert bucketed_state.batch_ids(spark, root) == []
    for name in ("batch=10", "batch=2", "batch=3", ".batch=4.inprogress", "_META"):
        fsio.mkdirs(spark, f"{root}/{name}")
    assert bucketed_state.batch_ids(spark, root) == [2, 3, 10]
    with pytest.raises(ValueError, match="keep_last"):
        bucketed_state.prune_plain_chain(spark, root, keep_last=1)
    assert bucketed_state.prune_plain_chain(spark, root, keep_last=2) == 1
    assert bucketed_state.batch_ids(spark, root) == [3, 10]
    assert fsio.exists(spark, f"{root}/.batch=4.inprogress")
    assert bucketed_state.prune_plain_chain(spark, root, keep_last=2) == 0


# --------------------------------------- model-based walks (seeded)


def test_random_walk_matches_dict_model(spark, tmp_path):
    """Seeded random sequences of batches, SAME-ID replays and
    interleaved prunes: the state must equal a driver-side dict model
    (last-writer-wins by (order, new)) after every step."""
    import random

    rng = random.Random(13)
    root = str(tmp_path / "bwalk")
    model: dict[int, int] = {}
    history: dict[int, list[tuple[int, int]]] = {}
    for bid in range(6):
        rows = [
            (rng.randrange(5), rng.randrange(100))
            for _ in range(rng.randrange(1, 4))
        ]
        history[bid] = rows
        df = spark.createDataFrame(rows, "k int, v int")
        bucketed_state.upsert_keyed_buckets(df, root, "k", "v", bid, n_buckets=4)
        for k, v in rows:
            if k not in model or v >= model[k]:
                model[k] = v
        if rng.random() < 0.5 and bid > 0:
            df_r = spark.createDataFrame(history[bid], "k int, v int")
            bucketed_state.upsert_keyed_buckets(
                df_r, root, "k", "v", bid, n_buckets=4
            )
        if rng.random() < 0.4:
            bucketed_state.prune_bucketed_state(spark, root, keep_last=2)
        got = _state(spark, root)
        assert got == model, (bid, got, model)


def test_replay_crash_walk_matches_dict_model(spark, tmp_path, monkeypatch):
    """Seeded walk where every replay is hit by an injected crash at
    one of the swap's two boundaries (before the delete — aside
    written, dest intact; before the rename — dest gone, aside
    complete), then re-delivered. Invariants at every step: a crash
    before the delete leaves readers on the CURRENT state; a crash
    before the rename leaves readers on the consistent PRE-BATCH state
    (each touched bucket falls back to its previous epoch — never
    torn, never an error); the re-delivery always heals to the dict
    model; prune GCs any orphan aside without changing state."""
    import random

    def read_state():
        df = bucketed_state.read_keyed_state(spark, root)
        return {r["k"]: r["v"] for r in df.collect()} if df is not None else {}

    rng = random.Random(14)
    root = str(tmp_path / "crashwalk")
    model: dict[int, int] = {}
    for bid in range(5):
        rows = [
            (rng.randrange(5), rng.randrange(100))
            for _ in range(rng.randrange(1, 4))
        ]
        prev_model = dict(model)
        df = spark.createDataFrame(rows, "k int, v int")
        bucketed_state.upsert_keyed_buckets(df, root, "k", "v", bid, n_buckets=4)
        for k, v in rows:
            if k not in model or v >= model[k]:
                model[k] = v
        assert read_state() == model, ("apply", bid)

        # every batch replays, and every replay crashes once inside the
        # shared swap (fsio.replace_dir): "before" = nothing swapped
        # yet (aside written, dest intact); "mid" = between the swap's
        # delete and rename (dest gone, aside complete)
        crash_at = rng.choice(["before", "mid"])
        real_replace = fsio.replace_dir

        def crasher(spark_, src, dst, _mode=crash_at):
            if _mode == "mid":
                fsio.delete(spark_, dst)
            raise IOError("injected crash")

        monkeypatch.setattr(fsio, "replace_dir", crasher)
        with pytest.raises(IOError, match="injected"):
            bucketed_state.upsert_keyed_buckets(
                df, root, "k", "v", bid, n_buckets=4
            )
        monkeypatch.setattr(fsio, "replace_dir", real_replace)

        if crash_at == "before":
            # aside written, dest intact: readers unaffected
            assert read_state() == model, ("crash-before", bid)
        else:
            # dest deleted, rename never ran: readers see the
            # consistent pre-batch state, loudly NOT a torn one
            assert read_state() == prev_model, ("crash-mid", bid)

        # the stream restarts and re-delivers the same batch: heals
        bucketed_state.upsert_keyed_buckets(df, root, "k", "v", bid, n_buckets=4)
        assert read_state() == model, ("heal", bid)
        assert not any(
            ".inprogress" in n for n in fsio.list_names(spark, root)
        ), ("aside-left", bid)

        if rng.random() < 0.5:
            bucketed_state.prune_bucketed_state(spark, root, keep_last=2)
            assert read_state() == model, ("prune", bid)


# ----------------------------------------------- a real checkpointed stream


def test_streaming_checkpoint_restart_resumes_state(spark, tmp_path):
    """A stateful streaming query stopped and RESTARTED from its
    checkpoint continues accumulating (state survives process
    boundaries) — the recovery contract a 1000-executor job relies on.
    Sink is a foreachBatch over the keyed upsert (memory sinks don't
    support checkpoint recovery)."""
    ev = _batch(spark, [
        (1, _ts(0), 1, "click", 1.0, '{"k": 1}'),
        (2, _ts(4), 1, "click", 2.0, '{"k": 2}'),
        (3, _ts(11), 1, "view", 3.0, '{"k": 3}'),
        (4, _ts(50), 1, "click", 4.0, '{"k": 4}'),
        (5, _ts(2), 2, "click", 5.0, '{"k": 5}'),
    ])
    src = str(tmp_path / "events_ckpt_src")
    ckpt = str(tmp_path / "events_ckpt")
    root = str(tmp_path / "events_ckpt_snap")
    ev.filter(F.col("event_id") <= 3).write.parquet(src)

    def upsert(batch, batch_id):
        bucketed_state.upsert_keyed_buckets(
            batch, root, "user_id", "n_events", batch_id
        )

    def run_round():
        stream = EV.read_events_stream(spark, src, max_files_per_trigger=1)
        q = (
            EV.stateful_user_totals(stream)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    def read():
        return {
            r["user_id"]: r["n_events"]
            for r in bucketed_state.read_keyed_state(spark, root).collect()
        }

    run_round()
    first = read()
    # second batch of data lands AFTER the first query stopped
    ev.filter(F.col("event_id") > 3).write.mode("append").parquet(src)
    run_round()
    resumed = read()
    # user 1 had 3 events pre-stop; post-restart the 4th arrives and the
    # checkpointed state continues from 3 -> 4 (not a fresh 1); the
    # restarted source also does NOT re-emit already-committed files
    assert first[1] == 3
    assert resumed[1] == 4
    assert resumed[2] == first.get(2, resumed[2])
