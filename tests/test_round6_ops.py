"""Round-6 operator work: the plan-lint broadcast-miss rule (VERDICT
r5 #6) and the indexed minhash query."""

from __future__ import annotations

import pathlib
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "tools"))


# --- plan_lint broadcast-miss rule ------------------------------------------


@pytest.fixture(scope="module")
def _nobroadcast(spark):
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_broadcast_miss_flags_global_agg_side(_nobroadcast):
    import plan_lint

    spark = _nobroadcast
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    agg = df.groupBy().agg(F.max("k").alias("k"))
    plan = plan_lint.render_plan(df.join(agg, "k"))
    flags = plan_lint.lint_plan(plan)
    assert "broadcast-miss" in flags
    assert "global" in flags["broadcast-miss"]


def test_broadcast_miss_flags_limit_side(_nobroadcast):
    import plan_lint

    spark = _nobroadcast
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    lim = df.orderBy("id").limit(5).select("k").distinct()
    plan = plan_lint.render_plan(df.join(lim, "k"))
    assert "broadcast-miss" in plan_lint.lint_plan(plan)


def test_broadcast_miss_silent_on_big_big_and_grouped(_nobroadcast):
    import plan_lint

    spark = _nobroadcast
    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    big = df.withColumnRenamed("id", "id2")
    assert "broadcast-miss" not in plan_lint.lint_plan(
        plan_lint.render_plan(df.join(big, "k"))
    )
    grouped = df.groupBy("k").agg(F.max("id").alias("mx"))
    assert "broadcast-miss" not in plan_lint.lint_plan(
        plan_lint.render_plan(df.join(grouped, "k"))
    )


def test_broadcast_idiom_stays_clean(spark):
    import plan_lint

    df = spark.range(1000).withColumn("k", F.col("id") % 7)
    agg = df.groupBy().agg(F.max("k").alias("mx"))
    plan = plan_lint.render_plan(df.crossJoin(F.broadcast(agg)))
    assert "broadcast-miss" not in plan_lint.lint_plan(plan)


def test_broadcast_miss_not_fooled_by_bound_below_join(_nobroadcast):
    """A global aggregate correctly broadcast into one side via
    crossJoin(F.broadcast(...)) does NOT bound that side once a join
    sits between it and the side root — rows re-expand below the bound
    (review finding r6: the walk must stop at row-expanding nodes)."""
    import plan_lint

    spark = _nobroadcast
    df = spark.range(100000).withColumn("k", F.col("id") % 7)
    agg = df.groupBy().agg(F.max("id").alias("mx"))
    side = df.crossJoin(F.broadcast(agg))  # sanctioned idiom, still 100k rows
    big2 = spark.range(100000).withColumn("k", F.col("id") % 7).withColumnRenamed("id", "id2")
    plan = plan_lint.render_plan(side.join(big2, "k"))
    assert "SortMergeJoin" in plan  # precondition: it IS a big-big SMJ
    assert "broadcast-miss" not in plan_lint.lint_plan(plan)


# --- doc_minhash_indexed registered query -----------------------------------


def test_doc_minhash_indexed_matches_plain_and_is_rerunnable(spark):
    """The indexed registered query emits the SAME pairs as the plain
    incremental query (the oracle claim), and re-invoking it in one
    session (driver runs Spark + oracle sides; bench runs 2-3 passes)
    survives the managed-table overwrite path."""
    from airflow_subscription_etl_spark.queries import (
        q_doc_minhash_incremental,
        q_doc_minhash_indexed,
    )

    sf = "/root/testdata/sf0.001"
    plain = sorted(map(tuple, q_doc_minhash_incremental(spark, sf).collect()))
    first = sorted(map(tuple, q_doc_minhash_indexed(spark, sf).collect()))
    again = sorted(map(tuple, q_doc_minhash_indexed(spark, sf).collect()))
    assert first == plain
    assert again == plain
