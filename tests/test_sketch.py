"""KMV sketch properties: estimate accuracy, merge==direct equivalence
(the claim that makes the rollup oracle-checkable), determinism under
repartitioning, and the exact-below-k branch. Plus the native-HLL demo
error band and exact_jaccard_pairs sanity vs a brute-force computation."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from airflow_subscription_etl_spark.operators import sketch as SK
from airflow_subscription_etl_spark.operators.dedup import (
    exact_jaccard_pairs,
    norm_tokens,
    shingles_of_tokens,
)
from airflow_subscription_etl_spark.sources.io import read_star_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def li(spark):
    return read_star_table(spark, SF, "lineitem")


def test_kmv_estimate_error_band(spark, li):
    """k=64 → expected rel. error ~1/sqrt(62) ≈ 13%; allow 4 sigma."""
    out = SK.kmv_distinct(li, ["l_returnflag"], "l_orderkey", k=64).collect()
    assert len(out) == 3
    for r in out:
        assert r["kmv_estimate"] == pytest.approx(r["n_distinct"], rel=0.52)


def test_kmv_exact_below_k(spark):
    df = spark.range(40).select(F.col("id").alias("g"), F.col("id").alias("v"))
    out = SK.kmv_distinct(df.withColumn("g", F.lit(0)), ["g"], "v", k=64).collect()
    assert out[0]["n_distinct"] == 40
    assert out[0]["kmv_estimate"] == 40.0


def test_kmv_merge_equals_direct(spark, li):
    """Merged per-subgroup sketches must reproduce the direct estimate
    bit-for-bit — this is what the rollup's DuckDB oracle relies on."""
    per_sub = SK.kmv_sketch(li, ["l_returnflag", "l_linestatus"], "l_orderkey", k=64)
    merged = {
        r["l_returnflag"]: r["kmv_estimate"]
        for r in SK.kmv_merge(per_sub, ["l_returnflag"], k=64).collect()
    }
    direct = {
        r["l_returnflag"]: r["kmv_estimate"]
        for r in SK.kmv_distinct(li, ["l_returnflag"], "l_orderkey", k=64).collect()
    }
    assert merged == direct


def test_kmv_partitioning_invariant(spark, li):
    a = SK.kmv_distinct(li, ["l_returnflag"], "l_partkey", k=64).collect()
    b = SK.kmv_distinct(li.repartition(13), ["l_returnflag"], "l_partkey", k=64).collect()
    assert {r["l_returnflag"]: r["kmv_estimate"] for r in a} == {
        r["l_returnflag"]: r["kmv_estimate"] for r in b
    }


def test_exact_jaccard_pairs_vs_bruteforce(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "a completely different document about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),  # dup of 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(df, threshold=0.3).collect()
    }
    # brute force over the same shingle sets
    sh = {
        r["doc_id"]: set(r["sh"])
        for r in df.select("doc_id", norm_tokens(F.col("text")).alias("toks"))
        .select("doc_id", shingles_of_tokens(F.col("toks")).alias("sh"))
        .collect()
    }
    expect = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
            if j >= 0.3:
                expect[(a, b)] = j
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert got[k] == pytest.approx(v, abs=1e-12)
    assert got[(1, 4)] == 1.0  # exact dup pair survives


def test_exact_jaccard_max_df_cap(spark):
    rows = [(i, "common shingle words everywhere " + ("x%d " % i) * 3) for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = exact_jaccard_pairs(df, threshold=0.1).count()
    capped = exact_jaccard_pairs(df, threshold=0.1, max_df=2).count()
    assert capped <= uncapped


def test_sampled_quantiles_accuracy_and_invariance(spark, li):
    from airflow_subscription_etl_spark.operators.sketch import (
        sampled_quantile_sketch,
    )

    out = sampled_quantile_sketch(
        li, ["l_returnflag"], "l_orderkey", "l_extendedprice", k=256
    ).collect()
    exact = {
        r["l_returnflag"]: r["m"]
        for r in li.groupBy("l_returnflag")
        .agg(F.expr("percentile(l_extendedprice, 0.5)").alias("m"))
        .collect()
    }
    for r in out:
        assert r["q25"] <= r["q50"] <= r["q75"]
        # 256-row sample: median within ~15% of exact
        assert abs(r["q50"] - exact[r["l_returnflag"]]) / exact[r["l_returnflag"]] < 0.15
    # partitioning invariance (sample membership is hash-determined)
    again = sampled_quantile_sketch(
        li.repartition(13), ["l_returnflag"], "l_orderkey", "l_extendedprice", k=256
    ).collect()
    assert {tuple(r) for r in out} == {tuple(r) for r in again}


# --- hypothesis property tests ----------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=10**6), min_size=1, max_size=120
    ),
    n_groups=st.integers(min_value=1, max_value=4),
)
def test_kmv_merge_equals_direct_property(spark, vals, n_groups):
    """For ANY value multiset and ANY grouping of it into subgroups,
    merging subgroup sketches reproduces the direct estimate exactly —
    the algebraic property the rollup oracle depends on."""
    rows = [(v % n_groups, v) for v in vals]
    df = spark.createDataFrame(rows, ["sub", "v"]).withColumn(
        "top", F.lit(0)
    )
    per_sub = SK.kmv_sketch(df, ["top", "sub"], "v", k=16)
    merged = SK.kmv_merge(per_sub, ["top"], k=16).collect()[0]["kmv_estimate"]
    direct = SK.kmv_distinct(df, ["top"], "v", k=16).collect()[0]["kmv_estimate"]
    assert merged == direct


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=10**4), min_size=1, max_size=50)
)
def test_kmv_exact_when_small_property(spark, vals):
    """Below k distinct values the estimate IS the exact distinct count
    (modulo md5 collisions, impossible in this value range at 60 bits)."""
    df = spark.createDataFrame([(0, v) for v in vals], ["g", "v"])
    out = SK.kmv_distinct(df, ["g"], "v", k=64).collect()[0]
    if out["n_distinct"] < 64:
        assert out["kmv_estimate"] == float(len(set(vals)))


# --- count-min sketch --------------------------------------------------------


def test_cms_overestimates_never_under(spark, li):
    """CMS point estimates are ≥ true counts (collisions only add)."""
    toks = li.select(F.col("l_returnflag").alias("v"))
    sk = SK.cms_sketch(toks, [], "v", depth=4, width=64)
    true = toks.groupBy("v").agg(F.count(F.lit(1)).alias("n"))
    est = SK.cms_estimate(sk, true.select("v"), "v", depth=4, width=64)
    rows = {r["v"]: r for r in true.join(est, "v").collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert r["cms_count"] >= r["n"]


def test_cms_exact_when_sparse(spark):
    """With far fewer distinct values than width, no collisions →
    estimates are exact."""
    df = spark.range(100).select((F.col("id") % 10).alias("v"))
    sk = SK.cms_sketch(df, [], "v", depth=4, width=512)
    est = SK.cms_estimate(
        sk, df.select("v").distinct(), "v", depth=4, width=512
    ).collect()
    assert all(r["cms_count"] == 10 for r in est)


def test_cms_merge_equals_direct(spark, li):
    """Sketching per-subgroup then cms_merge must equal sketching the
    union directly — counters are sums, so merge is plain addition."""
    toks = li.select(F.col("l_linestatus").alias("src"), F.col("l_partkey").alias("v"))
    per_src = SK.cms_sketch(toks, ["src"], "v", depth=4, width=128)
    merged = SK.cms_merge(per_src.drop("src"), [])
    direct = SK.cms_sketch(toks, [], "v", depth=4, width=128)
    assert merged.exceptAll(direct).isEmpty() and direct.exceptAll(merged).isEmpty()


def test_cms_partitioning_invariant(spark, li):
    toks = li.select(F.col("l_partkey").alias("v"))
    a = SK.cms_sketch(toks.repartition(1), [], "v", depth=2, width=64)
    b = SK.cms_sketch(toks.repartition(17), [], "v", depth=2, width=64)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
