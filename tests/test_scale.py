"""Scale-technique operators: correctness AND plan-shape guarantees."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from airflow_subscription_etl_spark.operators import scale


@pytest.fixture()
def skewed(spark):
    # 10k rows, 90% on one hot key
    return spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
    )


@pytest.fixture()
def dim(spark):
    return spark.range(0, 10_000, 7).select(
        F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
    )


def test_salted_join_matches_plain_join(skewed, dim):
    plain = skewed.join(dim, "k").groupBy("k").count()
    salted = scale.salted_join(skewed, dim, "k", salt=8).groupBy("k").count()
    assert {tuple(r) for r in plain.collect()} == {tuple(r) for r in salted.collect()}


def test_salted_agg_matches_plain_agg(skewed):
    plain = {
        r["k"]: (r["n"], round(r["s"], 6))
        for r in skewed.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        r["k"]: (r["n_rows"], round(r["sum_v"], 6))
        for r in scale.salted_distribution_agg(skewed, "k", "v", salt=8).collect()
    }
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """The whole point of bucketing: co-located join plans contain NO
    Exchange on either side."""
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bucketdemo LOCATION '{tmp_path}/wh'"
    )
    try:
        facts = spark.range(1000).select(
            (F.col("id") % 50).alias("k"), F.col("id").alias("v")
        )
        dims = spark.range(50).select(
            F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
        )
        scale.write_bucketed(facts, "bucketdemo.facts", "k", num_buckets=8)
        scale.write_bucketed(dims, "bucketdemo.dims", "k", num_buckets=8)
        f = spark.table("bucketdemo.facts")
        d = spark.table("bucketdemo.dims")
        # disable broadcast so the join would normally shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = f.join(d, "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 1000
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
    finally:
        spark.sql("DROP DATABASE IF EXISTS bucketdemo CASCADE")


# --- incremental aggregate maintenance ---------------------------------------


def test_merge_agg_state_equals_direct(spark):
    """Folding batch state into running state must reproduce the
    from-scratch aggregate bit-for-bit (monoid merge)."""
    import pyspark.sql.functions as F

    from airflow_subscription_etl_spark.operators.scale import (
        agg_state,
        merge_agg_state,
    )
    from airflow_subscription_etl_spark.sources.io import read_star_table

    o = read_star_table(spark, "/root/testdata/sf0.001", "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("bigint")
    )
    keys, measures = ["o_orderstatus"], [
        ("cents", "count"),
        ("cents", "sum"),
        ("o_orderkey", "min"),
        ("o_orderkey", "max"),
    ]
    split = F.col("o_orderkey") % 3 == 0
    merged = merge_agg_state(
        agg_state(o.filter(split), keys, measures),
        agg_state(o.filter(~split), keys, measures),
        keys,
        measures,
    )
    direct = agg_state(o, keys, measures)
    assert merged.exceptAll(direct).isEmpty() and direct.exceptAll(merged).isEmpty()


def test_merge_agg_state_key_only_in_one_side(spark):
    import pyspark.sql.functions as F

    from airflow_subscription_etl_spark.operators.scale import (
        agg_state,
        merge_agg_state,
    )

    a = spark.createDataFrame([("x", 1), ("y", 2)], "k: string, v: long")
    b = spark.createDataFrame([("y", 5), ("z", 9)], "k: string, v: long")
    m = {r["k"]: r for r in merge_agg_state(
        agg_state(a, ["k"], [("v", "sum"), ("v", "count")]),
        agg_state(b, ["k"], [("v", "sum"), ("v", "count")]),
        ["k"], [("v", "sum"), ("v", "count")],
    ).collect()}
    assert m["x"]["sum_v"] == 1 and m["x"]["count_v"] == 1
    assert m["y"]["sum_v"] == 7 and m["y"]["count_v"] == 2
    assert m["z"]["sum_v"] == 9 and m["z"]["count_v"] == 1


# --- bloom semi-prune --------------------------------------------------------


def test_bloom_prune_keeps_all_matches_and_prunes(spark):
    """No false negatives (every joinable row survives) and real
    pruning happens for a selective key set."""
    import pyspark.sql.functions as F

    from airflow_subscription_etl_spark.operators.scale import bloom_semi_prune
    from airflow_subscription_etl_spark.sources.io import read_star_table

    sf = "/root/testdata/sf0.001"
    li = read_star_table(spark, sf, "lineitem")
    s = read_star_table(spark, sf, "supplier").filter(F.col("s_suppkey") <= 3)
    pruned = bloom_semi_prune(li, s, "l_suppkey", small_key="s_suppkey")
    true_semi = li.join(
        s.select(F.col("s_suppkey").alias("l_suppkey")), "l_suppkey", "left_semi"
    )
    # every true match survives the prune (align column order —
    # exceptAll is positional and the semi join moves the key first)
    assert true_semi.select(*li.columns).exceptAll(pruned.select(*li.columns)).isEmpty()
    # and the prune actually removes the bulk of non-matching rows
    n_all, n_pruned, n_true = li.count(), pruned.count(), true_semi.count()
    assert n_pruned < n_all * 0.5
    assert n_pruned >= n_true


def test_bloom_prune_join_equals_plain_join(spark):
    import pyspark.sql.functions as F

    from airflow_subscription_etl_spark.operators.scale import bloom_semi_prune
    from airflow_subscription_etl_spark.sources.io import read_star_table

    sf = "/root/testdata/sf0.001"
    li = read_star_table(spark, sf, "lineitem")
    s = read_star_table(spark, sf, "supplier").filter(F.col("s_acctbal") > 8000.0)
    pruned = bloom_semi_prune(li, s, "l_suppkey", small_key="s_suppkey")
    a = pruned.join(s, pruned["l_suppkey"] == s["s_suppkey"])
    b = li.join(s, li["l_suppkey"] == s["s_suppkey"])
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
