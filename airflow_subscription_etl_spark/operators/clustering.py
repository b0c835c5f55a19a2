"""Distributed k-means (Lloyd's algorithm) with ENGINE-EXACT arithmetic.

The canonical distributed k-means shape (same as Spark MLlib's): the
k·d centroid matrix is driver state shipped into a map-only pass; each
update is that one pass emitting per-batch partial sums, added up on
the driver — one job per iteration, no shuffle. What this
implementation adds is bit-determinism:

- distances are per-dimension squared diffs ROUNDED TO INTEGER MICROS
  and summed as bigints — the fold order (and the engine) cannot
  change the result, unlike a raw double sum;
- centroid updates sum micro-quantized components as integers and do
  ONE double division — identical operands, identical result,
  everywhere;
- ties in the argmin break on cluster id.

So the whole iterative algorithm — init, 3 assignment/update rounds,
final cluster summary — reproduces exactly in any engine with floor/
round and 64-bit ints, which is what lets a DuckDB oracle (unrolled
iterations, see ``queries.kmeans_oracle_sql``) hash-match the Spark
run. Quantization at 1e-6 perturbs assignments only for points nearly
equidistant between centroids — the points where k-means assignment is
arbitrary anyway.

At scale: assignment is embarrassingly parallel (k·d flops per row, no
shuffle); the update assigns and sums in the same pass, so each Arrow
batch sends the driver at most k (cluster, n, d partial sums) rows,
never vectors. Driver traffic per iteration is k·d integers per batch:
kilobytes per batch.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import adopt, pin

_SCALE = 1_000_000


def _quant(x: float) -> float:
    """floor(x·1e6 + 0.5)/1e6 — HALF_UP micro grid, identical to the
    SQL ``floor(x * 1000000 + 0.5)/1000000.0``."""
    return math.floor(x * _SCALE + 0.5) / _SCALE


def _dist_micro(vec_col: str, cvec) -> "F.Column":
    """Σ_d round((x_d − c_d)² · 1e6) as bigint — order-free. ``cvec``
    is an array<double> Column (a slot of the broadcast centroid
    matrix)."""
    return F.aggregate(
        F.zip_with(
            F.col(vec_col),
            cvec,
            lambda a, b: F.round(
                (a.cast("double") - b) * (a.cast("double") - b) * F.lit(1_000_000.0)
            ).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def assign_clusters(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Map-only nearest-centroid assignment against driver-held
    centroids (1-based cluster ids; ties → lowest id). Returns
    ``(id, cluster_id, dist_micro)``; with ``keep_vec`` the vector
    column rides along so the centroid-update stage can consume the
    assignment directly instead of re-joining it to the input (one
    whole join shuffle saved per Lloyd iteration).

    The k·d centroid matrix enters as DATA — a broadcast one-row
    frame cross-joined in — not as literals baked into the expression.
    An unrolled-literal form would give every Lloyd iteration a unique
    expression tree: ~1s of Janino codegen per round on a plan whose
    actual compute is milliseconds. With the matrix as data the plan
    (and its generated code) is byte-identical across iterations, so
    codegen compiles once; this is also exactly how the matrix would
    ship to 1000 executors at scale (one broadcast, not a megabyte
    plan)."""
    spark = df.sparkSession
    from pyspark.sql import types as T  # noqa: PLC0415

    cents_df = spark.createDataFrame(
        [([list(map(float, c)) for c in centroids],)],
        T.StructType(
            [
                T.StructField(
                    "_cents", T.ArrayType(T.ArrayType(T.DoubleType()))
                )
            ]
        ),
    )
    best = F.array_min(
        F.transform(
            F.col("_cents"),
            lambda c, i: F.struct(
                _dist_micro(vec_col, c).alias("d"),
                (i + F.lit(1)).cast("int").alias("cid"),
            ),
        )
    )
    cols = [
        F.col(id_col),
        best["cid"].alias("cluster_id"),
        best["d"].alias("dist_micro"),
    ]
    if keep_vec:
        cols.append(F.col(vec_col))
    return df.crossJoin(F.broadcast(cents_df)).select(*cols)


def _round_like_spark(raw):
    """Vectorized replica of Spark's ``F.round`` on non-negative
    doubles, as int64: the bulk path is ``floor(v+0.5)``, but Spark
    rounds via BigDecimal(Double.toString) HALF_UP and the two
    disagree by 1 on boundary doubles (the 0.49999999999999994 class,
    where fl(v+0.5) lands on the next integer while the shortest
    decimal is still below .5). Elements whose fractional part sits
    inside a ±5e-7 band around .5 are re-rounded through the exact
    Decimal replica (oracles.lsh_ref._round_half_up_spark). The probe
    pair ``floor(v+0.4999995) != floor(v+0.5000005)`` detects the band
    reliably only while ulp(v) ≪ 1e-6: once magnitudes reach ~2^31 the
    two probe additions can collapse to the same double and a true
    boundary slips through (ADVICE r6) — so any element with
    ``ulp(|v|+0.5) > 2.5e-7`` (|v| ≳ 2.1e9, i.e. a per-dimension
    coordinate diff ≳ 45 at micro scale — far outside normalized
    embeddings) is routed to the exact path unconditionally. With both
    guards the result is bit-identical to F.round on ALL inputs. The
    band admits ~1e-6 of uniformly-distributed elements, so the scalar
    repair touches a handful of cells per million."""
    import numpy as np  # noqa: PLC0415

    from ..oracles.lsh_ref import _round_half_up_spark  # noqa: PLC0415

    r = np.floor(raw + 0.5).astype(np.int64)
    sus = np.floor(raw + 0.4999995) != np.floor(raw + 0.5000005)
    sus |= np.spacing(np.abs(raw) + 0.5) > 2.5e-7
    if sus.any():
        flat_r, flat_raw = r.reshape(-1), raw.reshape(-1)
        for idx in np.flatnonzero(sus.reshape(-1)):
            flat_r[idx] = _round_half_up_spark(float(flat_raw[idx]))
    return r


def _nearest(vectors, C):
    """The numpy assignment kernel: ``vectors`` (a pandas Series of
    arrays) as an (n, d) float64 matrix, each row's 0-based nearest
    centroid of ``C`` (k, d) and its integer-micro distance, with ties
    going to the lowest centroid (numpy's first minimum)."""
    import numpy as np  # noqa: PLC0415

    X = np.stack(vectors.to_numpy()).astype(np.float64)
    D = np.empty((len(X), C.shape[0]), dtype=np.int64)
    for j in range(C.shape[0]):
        d = X - C[j][None, :]
        D[:, j] = _round_like_spark(d * d * 1_000_000.0).sum(axis=1)
    cid = D.argmin(axis=1)
    return X, cid, D[np.arange(len(X)), cid]


def assign_clusters_pandas(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Arrow/numpy twin of :func:`assign_clusters` — IDENTICAL results
    (same integer-micro distances, same lowest-id argmin tiebreak via
    numpy's first-minimum), with the k·d distance fold running as
    vectorized batch math instead of interpreted higher-order
    functions. The established throughput-twin pattern
    (brute_force_topk_pandas, pq_topk_pandas); both paths check
    against the SAME oracle.

    Rounding parity: the bulk path is vectorized ``floor(v+0.5)``,
    but Spark's ``F.round`` is BigDecimal(Double.toString) HALF_UP and
    the two disagree by 1 on boundary doubles (the
    0.49999999999999994 class, where fl(v+0.5) lands on the next
    integer). Elements whose fractional part sits inside a ±5e-7 band
    around .5 — or whose magnitude is large enough (ulp > 2.5e-7) that
    the band probes themselves become unreliable — are re-rounded
    through the exact Decimal replica (see _round_like_spark), so the
    twin is bit-identical to F.round on ALL inputs, not just away from
    ties. The band admits ~1e-6 of elements, so the scalar repair
    touches a handful of cells per million."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    C = np.asarray(centroids, dtype=np.float64)  # (k, d)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X, cid, dist = _nearest(pdf[vec_col], C)
            out = {
                id_col: pdf[id_col].to_numpy(),
                "cluster_id": (cid + 1).astype("int32"),
                "dist_micro": dist,
            }
            if keep_vec:
                out[vec_col] = pdf[vec_col]
            yield pd.DataFrame(out)

    id_type = df.schema[id_col].dataType.simpleString()
    vec_type = df.schema[vec_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, cluster_id int, dist_micro long"
    if keep_vec:
        schema += f", {vec_col} {vec_type}"
    return df.select(id_col, vec_col).mapInPandas(score, schema)


def _lloyd_update(
    df: DataFrame, cents: list[list[float]], vec_col: str
) -> list[list[float]]:
    """One Lloyd update in one map-side pass, one job: each Arrow batch
    of ``df`` is assigned with the :func:`_nearest` kernel and yields
    one ``(cluster_id, n, s)`` row per non-empty cluster, where
    ``s_d = Σ floor(x_d·1e6 + 0.5)`` over the batch's members. The
    driver adds the rows as Python ints and does ONE double division
    per component. Empty clusters keep their previous centroid."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    C = np.asarray(cents, dtype=np.float64)

    def partial_sums(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X, cid, _ = _nearest(pdf[vec_col], C)
            Q = np.floor(X * float(_SCALE) + 0.5).astype(np.int64)
            present = np.unique(cid)
            yield pd.DataFrame(
                {
                    "cluster_id": (present + 1).astype("int32"),
                    "n": np.bincount(cid)[present].astype("int64"),
                    "s": [Q[cid == c].sum(axis=0) for c in present],
                }
            )

    rows = (
        df.select(vec_col)
        .mapInPandas(partial_sums, "cluster_id int, n bigint, s array<bigint>")
        .collect()
    )
    n = [0] * len(cents)
    s = [[0] * len(cents[0]) for _ in cents]
    for r in rows:
        c = r["cluster_id"] - 1
        n[c] += r["n"]
        s[c] = [a + v for a, v in zip(s[c], r["s"])]
    return [
        [float(v) / (float(n[c]) * float(_SCALE)) for v in s[c]]
        if n[c]
        else cents[c]
        for c in range(len(cents))
    ]


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> tuple[DataFrame, list[list[float]]]:
    """Lloyd's k-means, ``iters`` rounds from a deterministic init (the
    k lowest-id vectors, micro-quantized). Returns the FINAL-round
    assignment ``(id, cluster_id, dist_micro)`` AND the centroid matrix
    that produced it (the driver-held k·d state — callers like IVF
    probe against it). An input of n < k vectors gives n clusters, as
    in the unrolled-CTE oracle; an empty input gives an empty
    assignment and no centroids.

    The per-iteration driver collect is per-batch k·d partial sums
    (:func:`_lloyd_update`) — data-sized frames never leave the
    cluster. Empty clusters keep their previous centroid. The input is
    cached for the iterations (the standard iterative-ML posture —
    MLlib does the same; at 100 TB you cache a sample or accept the
    re-scan). The final assignment runs the Arrow/numpy twin
    :func:`assign_clusters_pandas`, bit-identical to the HOF reference
    :func:`assign_clusters` on all inputs (see ``_round_like_spark``).
    """
    # cached for the Lloyd iterations (standard iterative-ML posture);
    # pin()-ed to the returned assignment so library callers can free
    # it via cache.release / cache.released — the harnesses' clearCache
    # also works (see cache.py)
    df = df.select(id_col, vec_col).cache()
    init_rows = df.orderBy(id_col).limit(k).select(vec_col).collect()
    cents = [[_quant(float(x)) for x in r[vec_col]] for r in init_rows]
    # iters assignments interleaved with iters-1 updates:
    # a_i = assign(c_{i-1}); c_i = update(a_i); return a_iters
    for _ in range(iters - 1 if cents else 0):
        cents = _lloyd_update(df, cents, vec_col)
    assigned = assign_clusters_pandas(df, cents, id_col, vec_col, keep_vec=keep_vec)
    return pin(assigned, df), cents


def kmeans_fit_predict(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Assignment-only wrapper of :func:`kmeans_fit`: every Lloyd round
    runs the Arrow/numpy kernel (:func:`_nearest`, ~3× faster than the
    interpreted HOF reference at sf0.1), which is bit-identical to
    :func:`assign_clusters` (it replicates F.round exactly, boundary
    doubles included), so it satisfies the unrolled-CTE oracle."""
    return kmeans_fit(df, k, iters, id_col, vec_col, keep_vec)[0]


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style embedding dedup (Abbas et al. 2023, "SemDeDup:
    Data-efficient learning at web-scale through semantic
    deduplication"): k-means partition the corpus, compute pairwise
    cosine similarity ONLY within clusters, and drop every vector with
    a near-identical lower-id neighbor.

    The clustering is the scale move: pairwise work is Σ_c |c|² instead
    of n² — the paper's trick for running dedup over web-scale
    embedding sets, here as k-means (one map-side job per Lloyd round) plus
    one within-cluster self-join keyed on cluster_id. Everything is
    engine-exact: assignments come from the micro-quantized
    :func:`kmeans_fit_predict`, and cosine is computed over
    micro-quantized components — integer dot products and norms, one
    IEEE sqrt/divide on identical operands — so a DuckDB oracle replays
    the whole pipeline. Keep-rule divergence from the paper: we keep
    the LOWEST id of each near-duplicate pair (deterministic,
    join-free) instead of the vector farthest from the centroid.

    Returns ``(id, cluster_id, is_dropped)`` for every input row.
    """
    assigned = kmeans_fit_predict(df, k, iters, id_col, vec_col, keep_vec=True)
    # quantize + self-norm map-side, BEFORE the pair join: per-pair
    # work is then a bare integer dot product (same staging as
    # similarity.all_pairs_ann). |q| ≤ ~1e6 ⇒ dot ≤ dims·1e12 — int64-
    # safe; norms likewise. n_a·n_b would overflow, so the denominator
    # is sqrt(n_a)·sqrt(n_b) in double — exact conversions (< 2^53),
    # correctly-rounded IEEE sqrt: identical on every engine.
    q = assigned.select(
        F.col(id_col),
        "cluster_id",
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(1_000_000.0) + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("_q"),
    ).withColumn(
        "_n2",
        F.aggregate(
            F.col("_q"), F.lit(0).cast("bigint"), lambda acc, v: acc + v * v
        ),
    )
    a = q.select(
        F.col(id_col).alias("id_a"),
        F.col("cluster_id"),
        F.col("_q").alias("qa"),
        F.col("_n2").alias("na"),
    )
    b = q.select(
        F.col(id_col).alias("id_b"),
        F.col("cluster_id"),
        F.col("_q").alias("qb"),
        F.col("_n2").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    cos = dot.cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    dropped = (
        a.join(b, on="cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= F.lit(float(threshold)))
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return adopt(
        assigned.select(id_col, "cluster_id")
        .join(dropped.withColumn("_d", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster_id",
            F.coalesce(F.col("_d"), F.lit(False)).alias("is_dropped"),
        ),
        assigned,
    )


def kmeans_cluster_summary(assigned: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Per-cluster summary of an assignment: size, member-id checksum,
    total micro-distance — a hashable projection of the full result.
    Adopts the assignment's cache pins (kmeans_fit's Lloyd-input cache)
    so callers holding only the summary can still release them.
    Adopted pins are SHARED-FATE: releasing the summary unpersists the
    Lloyd-input cache for ``assigned`` too (recompute, not breakage) —
    release after the LAST consumer of either handle (cache.adopt)."""
    return adopt(
        assigned.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(id_col).alias("member_checksum"),
            F.sum("dist_micro").alias("sum_dist_micro"),
        ),
        assigned,
    )
