"""k-means properties: assignment covers every vector, distortion is
non-increasing across iterations, and results are partitioning-
invariant (the determinism claim the DuckDB oracle relies on); the
Arrow/numpy twin's rounding matches Spark's HALF_UP at every
magnitude; the fit matches a reference fit over the HOF kernel; each
Lloyd update is one job; inputs smaller than k (or empty) fit."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from airflow_subscription_etl_spark.operators.clustering import (
    _lloyd_update,
    _quant,
    _round_like_spark,
    assign_clusters,
    assign_clusters_pandas,
    kmeans_cluster_summary,
    kmeans_fit,
    kmeans_fit_predict,
)
from airflow_subscription_etl_spark.oracles.lsh_ref import _round_half_up_spark
from airflow_subscription_etl_spark.sources.io import read_star_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def emb(spark):
    return read_star_table(spark, SF, "embeddings")


def test_kmeans_covers_all_vectors(emb):
    n = emb.count()
    out = kmeans_fit_predict(emb, k=4, iters=2)
    assert out.count() == n
    assert out.select("vec_id").distinct().count() == n
    cids = {r["cluster_id"] for r in out.select("cluster_id").distinct().collect()}
    assert cids <= set(range(1, 5)) and len(cids) >= 1


def test_kmeans_distortion_non_increasing(emb):
    def total_dist(iters):
        s = kmeans_cluster_summary(kmeans_fit_predict(emb, k=4, iters=iters))
        return s.agg(F.sum("sum_dist_micro")).collect()[0][0]

    d1, d2, d3 = total_dist(1), total_dist(2), total_dist(3)
    assert d2 <= d1
    assert d3 <= d2


def test_kmeans_partitioning_invariant(emb):
    a = kmeans_cluster_summary(kmeans_fit_predict(emb, k=4, iters=3)).collect()
    b = kmeans_cluster_summary(
        kmeans_fit_predict(emb.repartition(11), k=4, iters=3)
    ).collect()
    key = lambda rows: {r["cluster_id"]: tuple(r) for r in rows}  # noqa: E731
    assert key(a) == key(b)


def test_assign_clusters_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, [0.0, 0.0])], ["vec_id", "embedding"]
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    # two identical centroids -> tie -> lowest cid wins
    out = assign_clusters(df, [[1.0, 1.0], [1.0, 1.0]]).collect()
    assert out[0]["cluster_id"] == 1


# --- semantic dedup ----------------------------------------------------------


def test_semantic_dedup_drops_near_identical(spark):
    """Exact duplicates land in one cluster; the higher ids of each
    near-identical set are dropped, the lowest survives."""
    from airflow_subscription_etl_spark.operators.clustering import semantic_dedup

    base = [1.0, 0.0, 0.0, 0.0]
    far = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (1, base),
        (2, base),                      # exact dup of 1 -> dropped
        (3, [0.99, 0.01, 0.0, 0.0]),    # near dup of 1 -> dropped
        (4, far),
        (5, [0.0, 0.0, 1.0, 0.0]),      # orthogonal -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = {r["vec_id"]: r["is_dropped"] for r in
           semantic_dedup(df, k=2, iters=2, threshold=0.95).collect()}
    assert out[1] is False
    assert out[2] is True
    assert out[3] is True
    assert out[4] is False
    assert out[5] is False


def test_semantic_dedup_partitioning_invariant(spark):
    from airflow_subscription_etl_spark.operators.clustering import semantic_dedup
    from airflow_subscription_etl_spark.sources.io import read_star_table

    emb = read_star_table(spark, "/root/testdata/sf0.001", "embeddings")
    a = semantic_dedup(emb.repartition(1), k=4, iters=2, threshold=0.45)
    b = semantic_dedup(emb.repartition(13), k=4, iters=2, threshold=0.45)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def _reference_fit(df, k, iters):
    """The Lloyd loop over the interpreted HOF kernel
    :func:`assign_clusters`, each update a posexplode into (cluster,
    dim) rows and a groupBy of their integer-micro sums."""
    df = df.select("vec_id", "embedding")
    init = df.orderBy("vec_id").limit(k).select("embedding").collect()
    cents = [[_quant(float(x)) for x in r["embedding"]] for r in init]
    dim = len(cents[0])
    for _ in range(iters - 1):
        sums = (
            assign_clusters(df, cents, keep_vec=True)
            .select("cluster_id", F.posexplode("embedding").alias("dim0", "x"))
            .groupBy("cluster_id", "dim0")
            .agg(
                F.sum(
                    F.floor(F.col("x").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
                        "bigint"
                    )
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new: dict[int, list[float]] = {}
        for r in sums:
            new.setdefault(r["cluster_id"], [0.0] * dim)[r["dim0"]] = float(
                r["s"]
            ) / (float(r["n"]) * 1e6)
        cents = [new.get(c, cents[c - 1]) for c in range(1, len(cents) + 1)]
    return assign_clusters(df, cents), cents


def test_kmeans_pandas_twin_bit_identical(spark):
    """assign_clusters_pandas must reproduce the HOF path EXACTLY —
    integer-micro distances are order-free, so any mismatch is a
    rounding/tiebreak bug, not float noise. The same holds for the
    whole fit: kmeans_fit's fused assign-and-sum updates against a
    reference fit over the HOF kernel and a (cluster, dim) groupBy."""
    rows = [(i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(6)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = [[0.1] * 6, [0.5] * 6, [0.9] * 6]
    a = sorted(map(tuple, assign_clusters(df, cents).collect()))
    b = sorted(map(tuple, assign_clusters_pandas(df, cents).collect()))
    assert a == b
    ref, ref_cents = _reference_fit(df, 4, 3)
    got, got_cents = kmeans_fit(df, 4, 3)
    assert got_cents == ref_cents
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_lloyd_update_runs_one_job(emb, count_jobs):
    """Each Lloyd update is one map-side job: no shuffle stage, no
    second pass over the assignment."""
    df = emb.select("vec_id", "embedding")
    cents = [
        [_quant(float(x)) for x in r["embedding"]]
        for r in df.orderBy("vec_id").limit(4).collect()
    ]
    new, n = count_jobs(lambda: _lloyd_update(df, cents, "embedding"))
    assert n == 1
    assert len(new) == 4 and all(len(c) == len(cents[0]) for c in new)


def test_kmeans_fewer_vectors_than_k(spark):
    """n < k vectors give n clusters (the unrolled-CTE oracle's answer),
    each vector its own centroid."""
    rows = [(i, [float(i), float(-i)]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    assigned, cents = kmeans_fit(df, k=8, iters=2)
    assert cents == [[0.0, 0.0], [1.0, -1.0], [2.0, -2.0]]
    got = sorted((r["vec_id"], r["cluster_id"]) for r in assigned.collect())
    assert got == [(0, 1), (1, 2), (2, 3)]


def test_kmeans_empty_input(spark):
    df = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assigned, cents = kmeans_fit(df, k=8, iters=3)
    assert cents == []
    assert assigned.collect() == []
    assert assigned.columns == ["vec_id", "cluster_id", "dist_micro"]


# --- _round_like_spark: large-magnitude boundary guard (ADVICE r6) ----------


def test_round_like_spark_large_magnitude_parity():
    """Once ulp(v) nears the ±5e-7 probe band (|v| ≳ 2^31) the two
    probe additions can collapse to the same double and miss a true
    boundary; the magnitude guard must route those through the exact
    Decimal path. Parity vs the Decimal replica elementwise across
    boundary-adjacent doubles at magnitudes 2^31..2^36."""
    vals = []
    for e in (31, 32, 33, 34, 36):
        base = float(2**e) + 12345.0
        for frac in (0.5, 0.49999999999999994, 0.499999, 0.500001):
            v = base + frac
            for _ in range(3):
                vals.append(v)
                v = np.nextafter(v, 0.0)
            vals.append(np.nextafter(base + frac, np.inf))
    raw = np.array(vals, dtype=np.float64)
    got = _round_like_spark(raw.copy())
    want = np.array([_round_half_up_spark(float(v)) for v in raw], dtype=np.int64)
    mismatch = np.flatnonzero(got != want)
    assert mismatch.size == 0, [
        (repr(float(raw[i])), int(got[i]), int(want[i])) for i in mismatch[:5]
    ]


def test_round_like_spark_small_magnitude_unchanged():
    """The guard must not perturb the normalized-embedding regime."""
    rng = np.random.default_rng(7)
    raw = rng.uniform(0.0, 4_000_000.0, size=10_000)
    got = _round_like_spark(raw.copy())
    want = np.array([_round_half_up_spark(float(v)) for v in raw], dtype=np.int64)
    assert (got == want).all()
