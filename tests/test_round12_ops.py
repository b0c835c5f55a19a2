"""Round-12 operator review fixes — each test pins a defect surfaced
by the r12 structured review of ``operators/``:

- asof_join stitched together right rows that never existed (per-column
  last(ignorenulls) reached past a NULL attribute of the newest row);
- sampled_quantile_sketch indexed the null-free sorted array with
  positions from the null-including row count;
- salted_join silently duplicated unmatched small-side rows ×salt under
  right/full joins;
- brute_force_topk_pandas hardcoded the id column as bigint;
- banded LSH silently dropped trailing signature slots on non-divisible
  (num_hashes, bands) and degenerated to one global bucket for
  bands > num_hashes;
- ivf_assignments returned assignments computed against the PREVIOUS
  centroid table (probe geometry disagreed with the binning);
- pack_sequences/binned_interval_join/bm25 missing argument guards.

The pq_topk_pandas HALF_UP rounding fix is pinned in tests/test_pq.py.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from airflow_subscription_etl_spark.operators import (
    dedup,
    packing,
    scale,
    similarity,
    sketch,
    temporal,
    text,
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, minute)


def test_asof_join_takes_the_newest_right_row_atomically(spark):
    """A NULL attribute of the most recent right row must stay NULL —
    not reach back to an older row and stitch a phantom row."""
    right = spark.createDataFrame(
        [("k", _ts(1), 10.0, 5), ("k", _ts(2), None, 7)],
        "k string, rts timestamp, price double, qty int",
    )
    left = spark.createDataFrame(
        [("k", _ts(3)), ("k", _ts(0))], "k string, lts timestamp"
    )
    out = temporal.asof_join(
        left, right, "k", "lts", "rts", ["price", "qty"]
    )
    got = {r["lts"].minute: (r["price_asof"], r["qty_asof"]) for r in out.collect()}
    # ts=3 matches the ts=2 right row: price NULL (not 10.0!), qty 7
    assert got[3] == (None, 7)
    # ts=0 precedes every right row: all-null (left outer)
    assert got[0] == (None, None)


def test_asof_join_normal_fill_unchanged(spark):
    right = spark.createDataFrame(
        [("k", _ts(1), 10.0, 5)], "k string, rts timestamp, price double, qty int"
    )
    left = spark.createDataFrame([("k", _ts(2))], "k string, lts timestamp")
    row = temporal.asof_join(
        left, right, "k", "lts", "rts", ["price", "qty"]
    ).collect()[0]
    assert (row["price_asof"], row["qty_asof"]) == (10.0, 5)


def test_sampled_quantiles_ignore_null_values_correctly(spark):
    """NULL values are absent from the sorted array, so positions must
    come from its size; an all-null group yields NULL quantiles."""
    rows = [("g", i, float(i)) for i in range(1, 8)] + [
        ("g", 100 + j, None) for j in range(5)
    ] + [("allnull", 200 + j, None) for j in range(3)]
    df = spark.createDataFrame(rows, "grp string, key int, v double")
    out = {
        r["grp"]: r.asDict()
        for r in sketch.sampled_quantile_sketch(
            df, ["grp"], "key", "v", k=256
        ).collect()
    }
    # 7 non-null values 1..7: q50 = sorted[floor(0.5*6)] = 4.0
    assert out["g"]["q50"] == 4.0
    assert out["g"]["q25"] == 2.0 and out["g"]["q75"] == 5.0
    assert out["allnull"]["q50"] is None


def test_salted_join_rejects_right_and_full(spark):
    big = spark.createDataFrame([(1, "a")], "k int, x string")
    small = spark.createDataFrame([(1, "d"), (99, "e")], "k int, y string")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join"):
            scale.salted_join(big, small, "k", salt=4, how=how)
    # the supported forms still match the plain join
    inner = scale.salted_join(big, small, "k", salt=4, how="inner")
    assert inner.count() == 1
    left = scale.salted_join(big, small, "k", salt=4, how="left")
    assert left.count() == 1


def test_brute_force_pandas_handles_string_ids(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0]), ("c", [0.7, 0.7])],
        "vec_id string, embedding array<float>",
    )
    out = similarity.brute_force_topk_pandas(df, [1.0, 0.0], k=2)
    ids = [r["vec_id"] for r in out.collect()]
    assert ids[0] == "a" and len(ids) == 2
    # parity with the type-generic HOF twin on the same frame
    hof = [
        r["vec_id"]
        for r in similarity.brute_force_topk(df, [1.0, 0.0], k=2).collect()
    ]
    assert ids == hof


def test_banding_validation(spark):
    df = spark.createDataFrame([(1, "a b c d e f g")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divide evenly"):
        dedup.minhash_lsh_pairs(df, num_hashes=32, bands=5)
    with pytest.raises(ValueError, match="bands must be"):
        dedup.minhash_lsh_pairs(df, num_hashes=32, bands=40)
    with pytest.raises(ValueError, match="bands must be"):
        similarity.all_pairs_ann(
            spark.createDataFrame(
                [(1, [0.1] * 64)], "vec_id long, embedding array<float>"
            ),
            n_planes=24,
            bands=48,
        )


def test_ivf_assignments_consistent_with_returned_centroids(spark):
    """Every returned assignment must be the argmin over the RETURNED
    centroid table (d2 asc, list_id asc) — the pair is what gets
    persisted as the index, so probe geometry must match the binning."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cents = similarity.ivf_assignments(df, n_lists=4, lloyd_iters=2)
    d2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("centroid"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(
        F.col("_d2").asc(), F.col("list_id").asc()
    )
    best = (
        df.crossJoin(F.broadcast(cents.withColumnRenamed("list_id", "list_id")))
        .withColumn("_d2", d2)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", F.col("list_id").alias("best_list"))
    )
    diff = (
        assigned.join(best, "vec_id")
        .filter(F.col("list_id") != F.col("best_list"))
        .count()
    )
    assert diff == 0


def test_arg_guards(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="budget"):
        packing.pack_sequences(df, budget=0)
    with pytest.raises(ValueError, match="n_shards"):
        packing.pack_sequences(df, budget=8, n_shards=0)
    ev = spark.createDataFrame(
        [(1, _ts(0))], "user_id int, ts timestamp"
    )
    with pytest.raises(ValueError, match="delta_seconds"):
        temporal.binned_interval_join(ev, ev, "user_id", "ts", "ts", 0)
    with pytest.raises(ValueError, match="terms"):
        text.bm25_scores(df, [])
