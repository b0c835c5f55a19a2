"""Round-12 hardening — VERDICT r11 #3/#4 + ADVICE r11:

- ``tools/plan_lint``'s ``single-partition-window`` walk no longer
  stops at the FIRST aggregate: a grouped aggregate over
  SinglePartition input inserts no new exchange (SinglePartition
  satisfies any required clustering), so a keyed Window/Sort above it
  still runs in one task — the r11 blind spot. Positive case pins the
  rule fires on that shape; the normal global-agg shape stays clean.
- ``bucketed_state.bucket_snapshots`` early-exits the newest-first
  batch-dir walk once every bucket (``_META``'s pinned count) has its
  newest snapshot — with prune deferred, the driver listing stays
  O(n_buckets), not O(retained epochs).
- ``bucketed_state.write_buckets`` pins ``partitionOverwriteMode`` to
  static on the write, so replay cleanup survives a session-level
  ``dynamic`` setting (ADVICE r11).
"""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, "tools")

import plan_lint  # noqa: E402

from airflow_subscription_etl_spark.streaming import bucketed_state, fsio


# ------------------------------------ plan-lint blind spot (VERDICT #3)


def test_spw_flags_keyed_window_above_grouped_agg_on_single_partition(spark):
    """The r11 blind spot: repartition(1) → grouped aggregate → keyed
    window. Spark inserts NO new exchange above the aggregate (its
    SinglePartition input satisfies any clustering), so the keyed
    window funnels through one task — the walk must continue through
    the grouped aggregate and flag it."""
    df = (
        spark.range(100)
        .withColumn("k", F.col("id") % 5)
        .repartition(1)
        .groupBy("k", "id")
        .agg(F.sum("id").alias("s"))
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("k").orderBy("s"))
        )
    )
    plan = plan_lint.render_plan(df)
    # precondition: the shape really has no exchange above the agg
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    flags = plan_lint.lint_plan(plan)
    assert "single-partition-window" in flags
    assert "SinglePartition" in flags["single-partition-window"]


def test_spw_still_clean_on_global_agg_above_single_partition(spark):
    """A zero-key aggregate above the SinglePartition exchange bounds
    the frame to ONE row — Sort/Window above it is the normal
    global-agg shape and must stay unflagged (orders_profile /
    dq_expectations)."""
    df = (
        spark.range(100)
        .repartition(1)
        .groupBy()
        .agg(F.sum("id").alias("s"), F.max("id").alias("m"))
        .select(F.explode(F.array("s", "m")).alias("v"))
        .orderBy("v")
    )
    assert "single-partition-window" not in plan_lint.lint_plan(
        plan_lint.render_plan(df)
    )


# ------------------------ bucket_snapshots early exit (VERDICT #4)


def test_bucket_snapshots_listing_stays_o_n_buckets(spark, tmp_path, monkeypatch):
    """With prune DEFERRED over many epochs, resolving current state
    must not list every retained batch dir: the walk is newest-first
    and stops once all _META-pinned buckets are found. 8 epochs all
    touching both of 2 buckets → the read lists the root + ONE batch
    dir, and never more than 1 + n_buckets dirs."""
    root = str(tmp_path / "bk")
    n_epochs, n_buckets = 8, 2
    for e in range(n_epochs):
        df = spark.createDataFrame(
            [(f"k{i}", e * 10 + i) for i in range(8)], "k string, v long"
        )
        bucketed_state.upsert_keyed_buckets(
            df, root, "k", "v", e, n_buckets=n_buckets
        )
    listed: list[str] = []
    real = fsio.list_names

    def counting(sp, path):
        listed.append(path)
        return real(sp, path)

    monkeypatch.setattr(bucketed_state.fsio, "list_names", counting)
    snaps = bucketed_state.bucket_snapshots(spark, root, n_epochs)
    assert set(snaps) == {0, 1}
    # every 8-key epoch touches both buckets, so the newest batch dir
    # alone satisfies both: root listing + exactly one batch listing
    batch_listings = [p for p in listed if "batch=" in p]
    assert len(batch_listings) == 1
    assert batch_listings[0].endswith(f"batch={n_epochs - 1}")
    assert len(listed) <= 1 + n_buckets
    # and the chosen snapshots are the newest epoch's
    assert all(f"batch={n_epochs - 1}/" in p for p in snaps.values())


def test_bucket_snapshots_without_meta_still_full_walk(spark, tmp_path):
    """A root with batch dirs but no _META (foreign layout) degrades to
    the full walk — correct, just unbounded — rather than erroring."""
    root = str(tmp_path / "nm")
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    bucketed_state.write_buckets(df, "k", 4, f"{root}/batch=0")
    snaps = bucketed_state.bucket_snapshots(spark, root, 5)
    assert len(snaps) == 1


# ------------------- static partition overwrite on replay (ADVICE r11)


def test_write_buckets_replay_clears_stale_buckets_under_dynamic(
    spark, tmp_path
):
    """A replayed epoch whose touched-bucket set SHRANK (non-
    deterministic source) must not leave the failed attempt's stale
    bucket dirs alive inside the replayed batch dir, even when the
    session sets partitionOverwriteMode=dynamic."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, None)
    path = str(tmp_path / "b0" / "batch=0")
    try:
        spark.conf.set(key, "dynamic")
        wide = spark.createDataFrame(
            [(f"k{i}", i) for i in range(64)], "k string, v long"
        )
        bucketed_state.write_buckets(wide, "k", 8, path)
        assert len([n for n in fsio.list_names(spark, path) if "bucket=" in n]) == 8
        narrow = spark.createDataFrame([("k0", 99)], "k string, v long")
        bucketed_state.write_buckets(narrow, "k", 8, path)
        live = [n for n in fsio.list_names(spark, path) if "bucket=" in n]
        assert len(live) == 1  # static overwrite cleared the other 7
        got = spark.read.parquet(path).collect()
        assert [(r["k"], r["v"]) for r in got] == [("k0", 99)]
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_budget_state_prune(spark, tmp_path):
    """budget_stream was the one state family without bounded-history
    maintenance; prune keeps the newest keep_last snapshots and the
    admission ledger still advances correctly afterwards."""
    from airflow_subscription_etl_spark.streaming.budget_stream import (
        process_budget_batch,
        prune_budget_state,
    )

    root = str(tmp_path / "budget")
    budgets = {"web": 6}
    for e in range(4):
        df = spark.createDataFrame(
            [(f"d{e}", "web", "one two three")],
            "doc_id string, source string, text string",
        )
        process_budget_batch(df, e, root, budgets)
    with pytest.raises(ValueError, match="keep_last"):
        prune_budget_state(spark, root, keep_last=1)
    removed = prune_budget_state(spark, root, keep_last=2)
    assert removed == 2
    names = fsio.list_names(spark, f"{root}/state")
    assert sorted(n for n in names if n.startswith("batch=")) == [
        "batch=2",
        "batch=3",
    ]
    # the ledger still reads and the budget stays exhausted (6 tokens
    # admitted over epochs 0-1, nothing after)
    df = spark.createDataFrame(
        [("d9", "web", "late words here")],
        "doc_id string, source string, text string",
    )
    process_budget_batch(df, 4, root, budgets)
    admitted = spark.read.parquet(f"{root}/admitted/batch=4")
    assert admitted.count() == 0


def test_drift_score_immune_to_baseline_swap_after_read(spark, tmp_path):
    """The baseline is materialized at read time (<= num_buckets rows
    by construction), so a rotation's rename/delete landing AFTER the
    score frame was built — the r12-review crash window — can no
    longer kill the scoring job with FILE_NOT_EXIST."""
    from airflow_subscription_etl_spark.streaming.drift_stream import (
        refresh_drift_baseline,
        score_drift_frame,
        write_drift_baseline,
    )

    base_path = str(tmp_path / "baseline")
    corpus = spark.createDataFrame(
        [("d1", "web", "alpha beta gamma"), ("d2", "web", "alpha beta")],
        "doc_id string, source string, text string",
    )
    write_drift_baseline(corpus, base_path, num_buckets=16)
    scored = score_drift_frame(spark, base_path, corpus)
    # the swap happens AFTER the read, BEFORE the action: old lazy
    # frames pinned the original part files and died here
    refresh_drift_baseline(
        corpus.withColumn("text", F.lit("delta epsilon")),
        base_path,
        num_buckets=16,
    )
    rows = scored.collect()  # must not raise
    assert rows and rows[0]["n_tokens"] == 5
