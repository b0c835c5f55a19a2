"""Round-10 hardening — VERDICT r9 #2/#3/#5 + ADVICE r9:

- :mod:`streaming.fsio`: all streaming state IO through the Hadoop
  FileSystem API, proven by running the state discipline against
  ``file:`` URIs (which driver-local ``os.listdir`` cannot list — the
  exact failure mode ADVICE r9 flagged for HDFS/S3 roots);
- drift-baseline rotation: a reader landing in the rename window
  falls back to the complete previous baseline at ``_old``;
- ``grouped_exact_rank``: the (score, id-key sub-bin) class split
  spreads mass ties across multiple fine-window partitions WITHOUT
  changing a single rank; nbins ≤ 2 no longer overflows on
  full-range scores;
- ``semantic_contamination``: the eval-side broadcast is bounded.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from airflow_subscription_etl_spark.streaming import fsio


# ---------------------------------------------------------------- fsio


def test_fsio_roundtrip_on_local_and_file_uri(spark, tmp_path):
    for root in (str(tmp_path / "plain"), f"file:{tmp_path}/uri"):
        fsio.mkdirs(spark, root)
        assert fsio.exists(spark, root) and fsio.is_dir(spark, root)
        fsio.write_text_atomic(spark, f"{root}/_CURRENT", "snapshot_1")
        assert fsio.read_text(spark, f"{root}/_CURRENT") == "snapshot_1"
        # atomic overwrite of an existing pointer
        fsio.write_text_atomic(spark, f"{root}/_CURRENT", "snapshot_2")
        assert fsio.read_text(spark, f"{root}/_CURRENT") == "snapshot_2"
        fsio.mkdirs(spark, f"{root}/batch=0")
        fsio.mkdirs(spark, f"{root}/batch=1")
        assert sorted(fsio.list_names(spark, root)) == [
            "_CURRENT",
            "batch=0",
            "batch=1",
        ]
        fsio.rename(spark, f"{root}/batch=1", f"{root}/batch=7")
        fsio.rename_overwrite(spark, f"{root}/batch=7", f"{root}/batch=0")
        assert sorted(fsio.list_names(spark, root)) == ["_CURRENT", "batch=0"]
        # missing-path shapes every caller relies on
        assert fsio.list_names(spark, f"{root}/nope") == []
        assert fsio.read_text(spark, f"{root}/nope", retries=0) is None
        fsio.delete(spark, f"{root}/nope")  # no-op, no raise


def test_budget_state_discovery_works_on_file_uri(spark, tmp_path):
    """The ADVICE r9 failure mode, pinned: the budget ledger lookup on
    a non-plain-local URI must FIND prior snapshots (os.listdir saw
    nothing there and silently reset every budget)."""
    from airflow_subscription_etl_spark.streaming.bucketed_state import (
        latest_plain_snapshot,
    )
    from airflow_subscription_etl_spark.streaming.budget_stream import (
        _STATE_SCHEMA,
        process_budget_batch,
    )

    out_root = f"file:{tmp_path}/budget"
    docs = spark.createDataFrame(
        [("a", i, "x " * 5, 5) for i in range(4)],
        "source string, doc_id bigint, text string, n_tokens bigint",
    )
    process_budget_batch(docs, 0, out_root, {"a": 12})
    prev = latest_plain_snapshot(spark, f"{out_root}/state", 1, _STATE_SCHEMA)
    state = (
        {r["source"]: r["admitted_tokens"] for r in prev.collect()}
        if prev is not None
        else {}
    )
    assert state.get("a", 0) > 0, (
        "prior snapshot invisible through a file: URI — state discovery "
        "regressed to driver-local listing"
    )
    # epoch 1 must see the REMAINING budget, not the full one
    process_budget_batch(docs, 1, out_root, {"a": 12})
    admitted1 = spark.read.parquet(f"{out_root}/admitted/batch=1")
    total0 = state["a"]
    total1 = sum(r["n_tokens"] for r in admitted1.collect())
    assert total0 + total1 <= 12 + 5  # ≤ budget + one-doc overshoot


# ------------------------------------------------- drift rotation window


def test_score_drift_frame_falls_back_to_old_during_swap(spark, tmp_path):
    """A monitor read landing between refresh_drift_baseline's two
    renames (baseline dir momentarily absent, complete previous copy at
    ``_old``) scores against the old baseline instead of crashing."""
    from airflow_subscription_etl_spark.streaming.drift_stream import (
        score_drift_frame,
        write_drift_baseline,
    )

    base_path = str(tmp_path / "baseline")
    corpus = spark.createDataFrame(
        [("s", "alpha beta gamma delta"), ("s", "alpha beta")],
        "source string, text string",
    )
    write_drift_baseline(corpus, base_path, num_buckets=16)
    expected = {
        (r["source"], r["llr_micro"])
        for r in score_drift_frame(spark, base_path, corpus).collect()
    }
    # simulate the mid-swap instant: path moved aside, aside not yet in
    fsio.rename(spark, base_path, f"{base_path}_old")
    got = {
        (r["source"], r["llr_micro"])
        for r in score_drift_frame(spark, base_path, corpus).collect()
    }
    assert got == expected


# ------------------------------------------ grouped_exact_rank fallback


def _naive_ranks(df, tiers_bp=None):
    w = Window.partitionBy("grp").orderBy("score", "id")
    n = df.groupBy("grp").agg(F.count("*").alias("n"))
    out = df.withColumn("rank", F.row_number().over(w)).join(n, "grp")
    rows = {}
    for r in out.collect():
        if tiers_bp is None:
            rows[r["id"]] = r["rank"]
        else:
            h, m = tiers_bp
            tier = (
                "head"
                if r["rank"] * 10_000 <= r["n"] * h
                else "middle"
                if r["rank"] * 10_000 <= r["n"] * (h + m)
                else "tail"
            )
            rows[r["id"]] = (r["rank"], tier)
    return rows


def test_mass_ties_split_across_fine_partitions(spark):
    """Constant scores (the 100%-mass-tie worst case): the class split
    must spread the group across >1 fine-window partition — the
    VERDICT r9 'multi-task fine windows' property — while every rank
    stays bit-identical to the naive single-partition window."""
    from airflow_subscription_etl_spark.operators.scale import (
        _grouped_rank_frames,
        grouped_exact_rank,
    )

    df = spark.createDataFrame(
        [(f"id{i:05d}", "g", 7) for i in range(400)],
        "id string, grp string, score bigint",
    )
    got = {
        r["id"]: r["rank"]
        for r in grouped_exact_rank(
            df, "grp", "score", "id", nbins=100, nsub=8
        ).collect()
    }
    assert got == _naive_ranks(df)

    # partition-key evidence: the pre-window frame carries >1 distinct
    # (bin, score, sub-bin) class and no class holds the whole group
    d = df.select(
        F.col("id"), F.col("grp"), F.col("score").cast("bigint").alias("_s")
    )
    binned, classes_df = _grouped_rank_frames(d, "grp", "id", 100, 8)
    classes = binned.groupBy("_bin", "_s", "_sub").count().collect()
    assert len(classes) > 1, "mass tie still funnels through one partition"
    assert max(c["count"] for c in classes) < 400
    # the offset table is consistent: offsets are the prefix sums of
    # class sizes in (bin, score, sub) order
    offs = sorted(
        (r["_bin"], r["_s"], r["_sub"], r["_before"] + r["_before2"])
        for r in classes_df.collect()
    )
    sizes = {
        (c["_bin"], c["_s"], c["_sub"]): c["count"] for c in classes
    }
    running = 0
    for b, s, sub, off in offs:
        assert off == running, (b, s, sub, off, running)
        running += sizes[(b, s, sub)]


def test_mixed_scores_and_integral_ids(spark):
    """A bin holding a mass tie PLUS other score values, with bigint
    ids and tie classes straddling tier boundaries — ranks and tiers
    must match the naive window exactly."""
    import random

    from airflow_subscription_etl_spark.operators.scale import (
        grouped_exact_rank,
    )

    random.seed(10)
    rows = []
    for i in range(3000):
        g = "a" if i % 3 else "b"
        s = 42 if g == "a" and random.random() < 0.7 else random.randint(40, 45)
        rows.append((i, g, s))
    df = spark.createDataFrame(rows, "id bigint, grp string, score bigint")
    got = {
        r["id"]: (r["rank"], r["tier"])
        for r in grouped_exact_rank(
            df,
            "grp",
            "score",
            "id",
            nbins=50,
            tiers_bp=(3333, 3333),
            nsub=16,
        ).collect()
    }
    assert got == _naive_ranks(df, tiers_bp=(3333, 3333))


def test_nbins_2_no_longer_overflows_full_range(spark):
    """ADVICE r9: nbins=2 on a group spanning the full bigint range
    overflowed the divide-first width; it now routes through the
    single-bin branch (where the class split still applies)."""
    from airflow_subscription_etl_spark.operators.scale import (
        grouped_exact_rank,
    )

    df = spark.createDataFrame(
        [(1, "g", -(2**63)), (2, "g", 2**63 - 1), (3, "g", 0)],
        "id bigint, grp string, score bigint",
    )
    for nbins in (1, 2, 3):
        got = sorted(
            (r["id"], r["rank"])
            for r in grouped_exact_rank(
                df, "grp", "score", "id", nbins=nbins
            ).collect()
        )
        assert got == [(1, 1), (2, 3), (3, 2)], (nbins, got)


def test_grouped_rank_param_validation(spark):
    from airflow_subscription_etl_spark.operators.scale import (
        grouped_exact_rank,
    )

    df = spark.createDataFrame([(1, "g", 1)], "id bigint, grp string, score bigint")
    with pytest.raises(ValueError, match="nsub"):
        grouped_exact_rank(df, "grp", "score", "id", nsub=2)
    with pytest.raises(ValueError, match="nbins"):
        grouped_exact_rank(df, "grp", "score", "id", nbins=0)


def test_monotone_id_key_orders_like_spark_strings(spark):
    """The string key must be MONOTONE in Spark's binary collation —
    the property that lets sub-bins refine (score, id) order. Includes
    the multi-byte / prefix-collision shapes."""
    from airflow_subscription_etl_spark.operators.scale import (
        _monotone_id_key,
    )

    vals = ["", "a", "a\x00", "a\xff", "abcdefghij", "abcdefgz", "b", "ß"]
    df = spark.createDataFrame([(v,) for v in vals], "id string")
    rows = df.select("id", _monotone_id_key(df, "id").alias("k")).collect()
    by_str = sorted(rows, key=lambda r: r["id"].encode("utf-8"))
    ks = [r["k"] for r in by_str]
    assert all(ks[i] <= ks[i + 1] for i in range(len(ks) - 1)), ks


# ------------------------------------- semantic_contamination broadcast


def test_contamination_eval_cap_fails_loudly(spark):
    from airflow_subscription_etl_spark.operators.similarity import (
        semantic_contamination,
    )

    mk = lambda n: spark.createDataFrame(  # noqa: E731
        [(i, [float(i % 7 + 1)] * 8) for i in range(n)],
        "vec_id bigint, embedding array<float>",
    )
    # 4 valid eval rows x 2 bands = 8 banded rows > cap 7 → loud error
    with pytest.raises(ValueError, match="eval_broadcast_cap"):
        semantic_contamination(
            mk(10), mk(4), dims=8, bands=2, eval_broadcast_cap=7
        ).collect()
    # at the bound: runs fine
    semantic_contamination(
        mk(10), mk(4), dims=8, bands=2, eval_broadcast_cap=8
    ).collect()
