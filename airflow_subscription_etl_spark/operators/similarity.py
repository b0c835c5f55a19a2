"""Similarity search over embedding columns (north star; SURVEY.md §7.6).

Two tiers, same API:

- **Brute-force cosine top-k** — exact baseline. Dot products via
  ``zip_with`` + ``aggregate`` (JVM higher-order functions, codegen'd;
  no Python). Cost O(n·d) per query — fine for one query against any
  corpus size (it's a map + small top-k), wrong for all-pairs.
- **LSH-bucketed ANN (random hyperplanes)** — sign-of-projection bits
  against ``n_planes`` deterministic pseudo-random hyperplanes form a
  bucket key; candidates share a bucket (multi-probe via bands).
  Replaces the O(n²) all-pairs with an equi-join on bucket keys. The
  hyperplanes are seeded driver-side and folded into the plan as
  literals — deterministic across runs/executors, no state to ship.

Embeddings are ``array<float>``; arithmetic is cast to double for
stable accumulation.
"""

from __future__ import annotations

import math
import random
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import pin


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ — zip_with + aggregate, sequential order (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of the corpus against one query vector.

    The query vector is a literal array (broadcast as part of the plan);
    the scan is map-only, then a k-row global sort — the canonical
    "cheap exact ANN baseline" at any scale.
    Deterministic order: (similarity desc, id asc).
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = df.select(
        F.col(id_col),
        cosine(F.col(vec_col), q).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


@lru_cache(maxsize=None)
def _planes(n_planes: int, dims: int, seed: int = 42) -> tuple[tuple[float, ...], ...]:
    """Deterministic random hyperplanes, generated driver-side once.

    Seeded by (seed, n_planes, dims) so every run, executor, and engine
    restart sees identical planes. They ship as plan *constants*
    (n_planes·dims doubles ≈ 12 KB at 24×64 — trivial), so there is no
    broadcast variable and no RNG state on executors.
    """
    rng = random.Random(seed * 1_000_003 + n_planes * 1_009 + dims)
    return tuple(
        tuple(rng.uniform(-1.0, 1.0) for _ in range(dims)) for _ in range(n_planes)
    )


def lsh_bucket(vec_col: Column, n_planes: int, dims: int) -> Column:
    """Random-hyperplane signature → one bigint bucket id.

    bit_p = [ Σ_d vec[d] · plane_p[d] ≥ 0 ]; bucket = bits as a base-2
    number. Written as ONE nested higher-order function over a literal
    plane matrix rather than n_planes unrolled aggregates: codegen then
    compiles a single lambda body (3× faster end-to-end at sf0.1 — the
    unrolled form spent more time in Janino than in execution).
    """
    # one F.expr parse instead of n_planes·dims F.lit py4j roundtrips —
    # constructing this literal matrix column-by-column cost ~2s of
    # driver time per query at 24×64 ('D' suffix: parse as DOUBLE, not
    # DECIMAL)
    pl = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{v!r}D" for v in p) + ")"
            for p in _planes(n_planes, dims)
        )
        + ")"
    )
    bits = F.transform(
        pl,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(vec_col, p, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit(1).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint")),
    )
    return F.aggregate(bits, F.lit(0).cast("bigint"), lambda acc, b: acc * 2 + b)


def with_lsh_bucket(
    df: DataFrame,
    n_planes: int = 12,
    dims: int = 64,
    vec_col: str = "embedding",
    out: str = "bucket",
) -> DataFrame:
    return df.withColumn(out, lsh_bucket(F.col(vec_col), n_planes, dims))


def _banded(
    df: DataFrame, n_planes: int, bands: int, dims: int, vec_col: str, keep: list[str]
) -> DataFrame:
    """Explode each row into ``bands`` (band, bucket) keys from its
    hyperplane signature — banded LSH: two vectors collide if ANY band
    of sign-bits matches, so recall is 1−(1−p^r)^b instead of p^n for
    single-probe (p = per-bit agreement prob, r = bits per band)."""
    from .dedup import _check_banding  # noqa: PLC0415 — shared guard

    bits = _check_banding(n_planes, bands)
    mask = (1 << bits) - 1
    sig = with_lsh_bucket(df, n_planes, dims, vec_col, out="_sig")
    return sig.select(
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("_sig", b * bits).bitwiseAND(F.lit(mask)).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(*keep, "bb.band", "bb.bucket")


def brute_force_topk_pandas(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """numpy-vectorized cosine top-k via Arrow-batched ``mapInPandas``.

    Same contract as :func:`brute_force_topk`; the scoring runs as one
    vectorized row-reduction per Arrow batch instead of per-row JVM
    higher-order functions. Crossover: the HOF form wins at small dims
    (no Python/Arrow transfer); this form wins as dims grow (vectorized
    math amortizes the transfer). Measure per workload — both are
    map-only + k-row global sort, so the PLAN scales identically.

    Determinism note: the dot product is ``(m * q).sum(axis=1)`` (a
    fixed-length per-row pairwise reduction), NOT ``m @ q`` — BLAS gemv
    picks blocking/SIMD paths by matrix SHAPE, so the same row rounds
    differently depending on how many rows its Arrow batch happened to
    contain. That made scores depend on partitioning (identical vectors
    scored 1 ulp apart in different partitions, flipping tie order).
    Per-row reductions depend only on the row, so every partitioning of
    the same data yields bit-identical scores.
    """
    import numpy as np  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415

    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))

    def score(batches):
        for pdf in batches:
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            sims = (m * q).sum(axis=1) / (np.sqrt((m * m).sum(axis=1)) * qn)
            # .to_numpy(): all columns positional — mixing a raw Series
            # with ndarrays would make the pairing depend on the batch
            # carrying a default RangeIndex (ADVICE r7)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "cosine_sim": sims}
            )

    # id type derived from the input schema, not hardcoded bigint
    # (r12 review): string/int ids would fail (or coerce) at the Arrow
    # boundary — the same contract pq_topk_pandas always honored
    id_type = df.schema[id_col].dataType.simpleString()
    scored = df.select(id_col, vec_col).mapInPandas(
        score, schema=f"{id_col} {id_type}, cosine_sim double"
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


#: Upper bound on mmr_rerank's candidate pool: the greedy stage
#: collects pool·(pool−1)/2 integer rows by design, so the knob has a
#: driver-memory consequence and must be bounded like pushdown_limit /
#: broadcast_limit. 2048² / 2 ≈ 2.1M small rows — comfortably
#: driver-sized, far above any sensible diversity pool.
MMR_POOL_CAP = 2048


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    pool: int = 25,
    lam_bp: int = 7000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): rerank
    the top-``pool`` cosine candidates into ``k`` results that balance
    relevance against redundancy —
    ``argmax_d λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`` greedily, with
    ``λ = lam_bp/10000``. The diversity pass retrieval stacks run after
    ANN so near-duplicate hits don't crowd out coverage.

    Distribution of work follows the operator's natural split:

    - stage 1 (corpus-scale, distributed): exact cosine against the
      query, micro-quantized, top-``pool`` via map-only TakeOrdered —
      identical plan shape to :func:`brute_force_topk`;
    - stage 2 (pool², distributed): pairwise candidate cosines through
      the SAME sequential-fold kernel, so every float sum happens in
      the engine (and replays in the oracle's list_sum) — never in
      driver numpy, whose reduction order differs;
    - stage 3 (driver, bounded): the greedy selection itself is
      inherently sequential in k, over pure-INTEGER tables of ``pool``
      and ``pool·(pool−1)/2`` rows — the kmeans centroid-collect
      precedent. Scores are exact integers (bp·micro), tiebreak
      (score desc, id asc); rank 1 is pure relevance (empty penalty
      set), matching the standard formulation.

    Scale: corpus cost is stage 1 (one scan + k-row heap per
    partition); stages 2–3 are O(pool²) regardless of corpus size.
    Result is a ``k``-row DataFrame (rank, id, rel_micro, mmr_score
    where score = lam_bp·rel_micro − (10000−lam_bp)·max_sim_micro).

    Validity contract (engine-uniform, the _rp_valid_rows discipline):
    rows whose id is NULL, or whose vector is NULL, ragged vs the
    query's dims, contains NULL/NaN/±Inf, or is all-zero are EXCLUDED
    up front — a NaN cosine's micro cast would abort the query under
    ANSI, and a NULL id would crash the non-nullable result schema /
    the tie compare rather than fail the row; the oracle mirrors the
    same WHERE clause so engines diverge nowhere. The query vector
    itself raises driver-side when invalid (actionable at the call
    site).

    ``pool`` is capped at :data:`MMR_POOL_CAP` (the pushdown_limit /
    broadcast_limit discipline): stages 2–3 are O(pool²) by design —
    pool·(pool−1)/2 integer rows collect to the driver — so an
    unbounded pool is a silent driver-OOM request. 2048 keeps the
    collect ≤ ~2.1M small rows while being ~2 orders of magnitude
    above any sensible diversity pool."""
    if not 0 <= lam_bp <= 10_000:
        raise ValueError(f"lam_bp must be in [0, 10000], got {lam_bp}")
    if k <= 0 or pool < k:
        raise ValueError(f"need pool >= k >= 1, got k={k} pool={pool}")
    if pool > MMR_POOL_CAP:
        raise ValueError(
            f"pool={pool} exceeds MMR_POOL_CAP={MMR_POOL_CAP}: the greedy "
            "stage collects pool·(pool−1)/2 pairwise rows to the driver — "
            "shrink the pool or raise the cap deliberately"
        )
    if any(x != x or abs(x) == float("inf") for x in query_vec) or not any(
        x != 0.0 for x in query_vec
    ):
        raise ValueError("query_vec must be finite and nonzero")
    from pyspark.sql import types as T  # noqa: PLC0415

    dims = len(query_vec)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # Engine-uniform validity filter (the _rp_valid_rows discipline):
    # a NULL / ragged / NaN / ±Inf / all-zero vector would turn the
    # micro cosine into a NaN→bigint cast, which ABORTS the whole
    # query under Spark 4's default ANSI mode (and errors in the
    # oracle too) — engines must diverge nowhere, so dirty rows are
    # EXCLUDED up front and the oracle mirrors the WHERE clause.
    v = F.col(vec_col)
    bad_elem = F.exists(
        v,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )
    valid = (
        F.col(id_col).isNotNull()
        & v.isNotNull()
        & (F.size(v) == F.lit(dims))
        & ~bad_elem
        & F.exists(v, lambda x: x.cast("double") != F.lit(0.0))
    )
    cand = (
        df.filter(valid)
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.round(cosine(F.col(vec_col), q) * F.lit(1_000_000.0))
            .cast("bigint")
            .alias("rel_micro"),
        )
        .orderBy(F.col("rel_micro").desc(), F.col(id_col).asc())
        .limit(pool)
    )
    cand = cand.persist()
    try:
        rel_rows = cand.select(id_col, "rel_micro").collect()
        a = cand.select(
            F.col(id_col).alias("_ia"), F.col(vec_col).alias("_va")
        )
        b = cand.select(
            F.col(id_col).alias("_ib"), F.col(vec_col).alias("_vb")
        )
        pair_rows = (
            a.join(F.broadcast(b), F.col("_ia") < F.col("_ib"))
            .select(
                "_ia",
                "_ib",
                F.round(cosine(F.col("_va"), F.col("_vb")) * F.lit(1_000_000.0))
                .cast("bigint")
                .alias("sim_micro"),
            )
            .collect()
        )
    finally:
        cand.unpersist()

    rel = {r[id_col]: r["rel_micro"] for r in rel_rows}
    sim: dict[tuple, int] = {}
    for r in pair_rows:
        sim[(r["_ia"], r["_ib"])] = r["sim_micro"]
        sim[(r["_ib"], r["_ia"])] = r["sim_micro"]
    mu = 10_000 - lam_bp
    selected: list[tuple] = []  # (rank, id, rel_micro, mmr_score)
    chosen: set = set()
    while len(selected) < min(k, len(rel)):
        best = None
        for d, rd in rel.items():
            if d in chosen:
                continue
            penalty = (
                max(sim[(d, s)] for _, s, _, _ in selected) if selected else 0
            )
            score = lam_bp * rd - mu * penalty
            key = (score, _NegOrder(d))
            if best is None or key > best[0]:
                best = (key, d, rd, score)
        _, d, rd, score = best
        selected.append((len(selected) + 1, d, rd, score))
        chosen.add(d)

    id_type = df.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType(), False),
            T.StructField(id_col, id_type, False),
            T.StructField("rel_micro", T.LongType(), False),
            T.StructField("mmr_score", T.LongType(), False),
        ]
    )
    return df.sparkSession.createDataFrame(selected, schema)


class _NegOrder:
    """Inverts comparison so a max() over (score, _NegOrder(id)) breaks
    score ties by SMALLEST id — the engine-wide (desc, id asc) rule —
    for any orderable id type (int, str)."""

    __slots__ = ("v",)

    def __init__(self, v):  # noqa: ANN001
        self.v = v

    def __lt__(self, other) -> bool:  # noqa: ANN001
        return self.v > other.v

    def __gt__(self, other) -> bool:  # noqa: ANN001
        return self.v < other.v

    def __eq__(self, other) -> bool:  # noqa: ANN001
        return self.v == other.v


def rp_recall_report(
    df: DataFrame,
    query_vec: list[float],
    k: int = 20,
    r_dims: int = 8,
    candidates: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Evaluation IN the engine: recall@k of the RP-prefilter retrieval
    (:func:`random_projection_topk_pandas`, the production default)
    against EXACT cosine search over the same validity-filtered corpus
    — the measurement every ANN deployment runs before trusting an
    approximate index, expressed as one declarative plan instead of a
    driver-side eval script.

    Ground truth and approximation share the operator family's
    validity envelope (:func:`_rp_valid_rows`), so the comparison is
    apples-to-apples: a row the prefilter excludes by contract is not
    counted against it. Both sides order by raw cosine with the
    (desc, id asc) tiebreak — the ordering the oracle replays exactly.

    Output: one row ``(k, n_hits, recall_micro)`` with
    ``recall_micro = (n_hits · 10^6) div k`` — exact integers.

    Scale: two corpus scans (the prefilter's and the exact baseline's
    — the exact side is the cost being amortized away in production,
    which is why it appears here only as the eval denominator), then
    k-row joins; the report is a 1-row aggregate."""
    approx = random_projection_topk_pandas(
        df, query_vec, k=k, r_dims=r_dims, candidates=candidates,
        id_col=id_col, vec_col=vec_col,
    )
    dims = len(query_vec)
    valid = _rp_valid_rows(df, dims, r_dims, vec_col)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = (
        valid.select(F.col(id_col), cosine(F.col(vec_col), q).alias("_c"))
        .orderBy(F.col("_c").desc(), F.col(id_col).asc())
        .limit(k)
    )
    return (
        approx.select(id_col)
        .join(exact.select(id_col), id_col, "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        .select(
            F.lit(k).cast("bigint").alias("k"),
            F.col("n_hits"),
            F.expr(f"(n_hits * 1000000) div {k}").alias("recall_micro"),
        )
    )


def query_signature(query_vec: list[float], n_planes: int, dims: int) -> int:
    """Driver-side hyperplane signature of one query vector.

    Bit-identical to :func:`lsh_bucket`: same planes, same sequential
    left-to-right double accumulation order, so the sign of each
    projection matches the JVM result exactly.
    """
    sig = 0
    for plane in _planes(n_planes, dims):
        s = 0.0
        for x, pv in zip(query_vec, plane):
            s += float(x) * pv
        sig = sig * 2 + (1 if s >= 0 else 0)
    return sig


def ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    bands: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only rows sharing at least one LSH band
    bucket with the query (multi-probe via banding).

    The query's band buckets are computed driver-side (the planes are
    plan constants), so the probe is a plain OR-of-equalities filter on
    the corpus signature — no explode, no join, no extra Spark job. At
    100 TB, with the signature persisted (or used as a partition/bucket
    column), this prunes to ~bands·n/2^(n/bands) rows before any
    vector arithmetic.
    """
    bits = n_planes // bands
    mask = (1 << bits) - 1
    qsig = query_signature(query_vec, n_planes, dims)
    sig = with_lsh_bucket(df, n_planes, dims, vec_col, out="_sig")
    cond = None
    for b in range(bands):
        c = (
            F.shiftright("_sig", b * bits).bitwiseAND(F.lit(mask))
            == F.lit((qsig >> (b * bits)) & mask)
        )
        cond = c if cond is None else (cond | c)
    candidates = sig.filter(cond).drop("_sig")
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def all_pairs_ann(
    df: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 24,
    bands: int = 3,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded-LSH bucket join +
    exact cosine verify — the embedding analog of MinHash-LSH dedup.

    One shuffle on the (band, bucket) key; cosine runs only on
    intra-bucket pairs; the threshold filter runs BEFORE the cross-band
    dropDuplicates so the dedup shuffle is narrow and pre-filtered.

    Sizing: candidate volume on uncorrelated data is ~bands·n²/2^(n/bands),
    so bits-per-band must grow with corpus size (8 bits → 1/256 of pairs
    per band). At 0.9 cosine the default 3×8-bit bands give ~64% recall
    (p_bit≈0.857, 1−(1−0.857⁸)³); raise ``bands`` for recall, raise
    ``n_planes/bands`` for cost.
    """
    # persist: the hyperplane-signature pipeline feeds both sides of the
    # self-join. Norms are precomputed per VECTOR here (one array pass
    # each) rather than per PAIR inside cosine() — intra-bucket pair
    # counts are quadratic in bucket size, so per-pair work must be the
    # bare dot product.
    normed = df.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_norm")
    )
    b = _banded(
        normed, n_planes, bands, dims, vec_col, keep=[id_col, vec_col, "_norm"]
    ).persist()
    a = b.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        F.col("_norm").alias("n_a"),
        "band",
        "bucket",
    )
    c = b.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        F.col("_norm").alias("n_b"),
        "band",
        "bucket",
    )
    return pin(
        a.join(c, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine_sim",
            dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
        .dropDuplicates(["id_a", "id_b"]),
        b,
    )


def hard_negative_mining(
    df: DataFrame,
    n_planes: int = 24,
    bands: int = 3,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive triplet mining: per anchor, the hardest positive
    (most-similar SAME-label vector) and hardest negative (most-similar
    DIFFERENT-label vector) among its LSH-bucket candidates — the
    batch-mining step contrastive/metric-learning pipelines run over a
    labeled corpus before training.

    Same banded-LSH candidate generation as :func:`all_pairs_ann`
    (signatures are plan constants → fully oracle-able), but the join
    is DIRECTED — every vector is an anchor and keeps all its bucket
    neighbors — and selection is per-anchor argmax, not a global
    threshold. One (band, bucket) shuffle + one anchor-keyed window;
    per-pair work is a bare dot product against precomputed norms.

    Anchors whose buckets contain no positive or no negative drop out
    (approximate mining — the standard trade; raise ``bands`` for
    recall). Returns ``(anchor_id, pos_id, pos_sim, neg_id, neg_sim,
    margin)`` with ``margin = pos_sim − neg_sim`` (negative margin =
    the anchor's neighborhood is label-confused — exactly the triplets
    a trainer wants first).

    Cache lifecycle: the banded-signature frame is ``.persist()``-ed
    (it feeds both sides of the self-join) — the return value is lazy,
    so the function cannot unpersist it itself. It is ``pin()``-ed to
    the result: consume under ``with cache.released(result):`` (or
    call ``cache.release(result)`` when done) to free it scoped;
    ``spark.catalog.clearCache()`` between invocations also works
    (bench.py and tools/check_oracle.py do that).
    """
    normed = df.select(
        F.col(id_col), F.col(vec_col), F.col(label_col), l2_norm(F.col(vec_col)).alias("_norm")
    )
    b = _banded(
        normed, n_planes, bands, dims, vec_col, keep=[id_col, vec_col, label_col, "_norm"]
    ).persist()
    a = b.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("v_a"),
        F.col(label_col).alias("lab_a"),
        F.col("_norm").alias("n_a"),
        "band",
        "bucket",
    )
    c = b.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("v_c"),
        F.col(label_col).alias("lab_c"),
        F.col("_norm").alias("n_c"),
        "band",
        "bucket",
    )
    scored = (
        a.join(c, ["band", "bucket"])
        .filter(F.col("anchor_id") != F.col("cand_id"))
        .withColumn(
            "sim", dot(F.col("v_a"), F.col("v_c")) / (F.col("n_a") * F.col("n_c"))
        )
        .withColumn("same", F.col("lab_a") == F.col("lab_c"))
        .select("anchor_id", "cand_id", "sim", "same")
    )
    # cross-band duplicates carry identical (sim, cand_id) — row_number
    # picks a deterministic value either way, no pre-dedup shuffle needed
    w = Window.partitionBy("anchor_id", "same").orderBy(
        F.col("sim").desc(), F.col("cand_id").asc()
    )
    best = scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return pin(
        best.groupBy("anchor_id")
        .agg(
            F.min(F.when(F.col("same"), F.col("cand_id"))).alias("pos_id"),
            F.min(F.when(F.col("same"), F.col("sim"))).alias("pos_sim"),
            F.min(F.when(~F.col("same"), F.col("cand_id"))).alias("neg_id"),
            F.min(F.when(~F.col("same"), F.col("sim"))).alias("neg_sim"),
        )
        .filter(F.col("pos_id").isNotNull() & F.col("neg_id").isNotNull())
        .withColumn("margin", F.col("pos_sim") - F.col("neg_sim")),
        b,
    )


#: Upper bound on semantic_contamination's BROADCAST eval side, in
#: banded rows (bands × |valid eval|). Each banded row carries the
#: full vector (dims floats + id + norm ≈ 0.4 KB at dims=64), so
#: 500k rows ≈ 200 MB — near the practical executor-broadcast
#: ceiling. The map-only-over-train plan is only correct for a
#: catalog-sized benchmark; a larger eval frame must go through a
#: shuffle-regime two-sided join instead of silently OOM-ing the
#: driver (ADVICE r9 — the MMR_POOL_CAP / broadcast_limit
#: discipline).
CONTAMINATION_EVAL_CAP = 500_000


def semantic_contamination(
    train: DataFrame,
    eval_set: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 24,
    bands: int = 3,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_broadcast_cap: int = CONTAMINATION_EVAL_CAP,
) -> DataFrame:
    """Embedding-side benchmark decontamination: flag TRAIN documents
    whose embedding is ≥ ``threshold`` cosine to ANY eval/benchmark
    embedding — the semantic companion to ``dedup.contamination_check``
    (exact digests catch verbatim leaks; this catches paraphrases and
    near-copies that survive text normalization).

    Directed two-frame variant of :func:`all_pairs_ann`'s banded-LSH
    candidate generation: both frames get the SAME seeded hyperplane
    signatures (plan constants → fully oracle-able), the banded EVAL
    side is broadcast (a benchmark is catalog-sized next to a 100 TB
    train corpus — bands·|eval| rows), so the whole check is MAP-ONLY
    over train: no train-side shuffle except the final per-train-doc
    argmax window over candidate matches only (≪ train size).

    Approximate with the standard LSH recall trade (raise ``bands``
    for recall — the all_pairs_ann sizing note applies); per-pair work
    is a bare dot product against precomputed norms. Returns one row
    per CONTAMINATED train doc: ``(train_id, eval_id, cosine_sim)`` —
    its best-matching eval item (sim desc, eval id asc tiebreak).

    Validity contract (engine-uniform, the mmr_rerank discipline):
    rows on EITHER side whose id is NULL, or whose vector is NULL,
    ragged vs ``dims``, contains NULL/NaN/±Inf, or is all-zero are
    EXCLUDED up front — a zero-norm vector's cosine is NaN, and under
    Spark's NaN-is-greatest ordering a NaN would both pass the
    threshold and WIN the argmax, flagging an arbitrary doc in the
    output that gates training-data removal. The oracle mirrors the
    same WHERE clause so engines diverge nowhere.

    The eval-side broadcast is GUARDED (one cheap count of the valid
    eval rows per call): ``bands × |valid eval|`` above
    ``eval_broadcast_cap`` raises instead of handing the executors an
    unbounded broadcast — see :data:`CONTAMINATION_EVAL_CAP`. An eval
    frame past the cap isn't a benchmark anymore; dedup it, shrink it,
    or run the two-sided shuffle regime (:func:`all_pairs_ann` on the
    union) instead.
    """

    def _valid(df: DataFrame) -> DataFrame:
        v = F.col(vec_col)
        bad_elem = F.exists(
            v,
            lambda x: x.isNull()
            | F.isnan(x.cast("double"))
            | (F.abs(x.cast("double")) == F.lit(float("inf"))),
        )
        return df.filter(
            F.col(id_col).isNotNull()
            & v.isNotNull()
            & (F.size(v) == F.lit(dims))
            & ~bad_elem
            & F.exists(v, lambda x: x.cast("double") != F.lit(0.0))
        )

    t_normed = _valid(train).select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_norm")
    )
    e_normed = _valid(eval_set).select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_norm")
    )
    # persisted because the guard's count would otherwise compute the
    # eval lineage (validity filter + l2_norm over a possibly
    # non-trivial upstream plan) twice — once here, once for banding
    # (ADVICE r10). Guarded ≤ eval_broadcast_cap rows, so the cache is
    # small; freed by the ContextCleaner when the frame is dropped, and
    # the bench clears the SQL cache between queries (the r5 rule).
    e_normed = e_normed.persist()
    n_eval_banded = e_normed.count() * bands
    if n_eval_banded > eval_broadcast_cap:
        e_normed.unpersist()  # the refused frame must not squat in cache
        raise ValueError(
            f"semantic_contamination: bands x |valid eval| = "
            f"{n_eval_banded} exceeds eval_broadcast_cap="
            f"{eval_broadcast_cap}: the map-only plan broadcasts the "
            "banded eval side with full vectors, so an eval frame this "
            "large is a silent executor/driver OOM request — dedup or "
            "shrink the benchmark, or run the shuffle-regime pair join "
            "(all_pairs_ann) instead"
        )
    tb = _banded(
        t_normed, n_planes, bands, dims, vec_col, keep=[id_col, vec_col, "_norm"]
    ).select(
        F.col(id_col).alias("train_id"),
        F.col(vec_col).alias("v_t"),
        F.col("_norm").alias("n_t"),
        "band",
        "bucket",
    )
    eb = _banded(
        e_normed, n_planes, bands, dims, vec_col, keep=[id_col, vec_col, "_norm"]
    ).select(
        F.col(id_col).alias("eval_id"),
        F.col(vec_col).alias("v_e"),
        F.col("_norm").alias("n_e"),
        "band",
        "bucket",
    )
    scored = (
        tb.join(F.broadcast(eb), ["band", "bucket"])
        .withColumn(
            "cosine_sim",
            dot(F.col("v_t"), F.col("v_e")) / (F.col("n_t") * F.col("n_e")),
        )
        .filter(F.col("cosine_sim") >= threshold)
        .select("train_id", "eval_id", "cosine_sim")
    )
    # cross-band duplicates carry identical (sim, eval_id) — row_number
    # picks a deterministic winner either way (the hard-negatives move)
    w = Window.partitionBy("train_id").orderBy(
        F.col("cosine_sim").desc(), F.col("eval_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def ivf_assignments(
    df: DataFrame,
    n_lists: int = 16,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: k-means-lite lists over the corpus.

    Returns ``(assignments, centroids)`` where assignments adds a
    ``list_id`` column and centroids is ``(list_id, centroid)``.

    Built entirely from joins/aggregations (no driver-side iteration
    over vectors):

    - seeds: the ``n_lists`` vectors with the smallest ``xxhash64(id)``
      — deterministic, uniform, one pass;
    - Lloyd iteration: broadcast the (tiny) centroid table, assign each
      vector to its nearest centroid (one map-only pass), then recompute
      centroids with a posexplode partial-agg (one shuffle of
      (list, dim) partial sums — never whole vectors).

    At 100 TB the assignment column is written once (partitioned or
    bucketed by ``list_id``); queries probe ``nprobe`` lists and scan
    only those partitions — the IVF pruning that makes exact per-list
    scoring affordable.
    """
    seeds = (
        df.select(F.col(id_col), F.col(vec_col))
        .orderBy(F.xxhash64(F.col(id_col)))
        .limit(n_lists)
        .withColumn(
            "list_id", F.row_number().over(Window.orderBy(F.xxhash64(F.col(id_col)))) - 1
        )
        .select("list_id", F.col(vec_col).alias("centroid"))
    )
    def _assign(cents: DataFrame) -> DataFrame:
        # nearest centroid per vector: broadcast join + argmin over
        # squared L2 (monotone with cosine for normalized data; exact
        # for the standard IVF-L2 formulation)
        dist = (
            df.select(id_col, vec_col)
            .crossJoin(F.broadcast(cents))
            .withColumn(
                "_d2",
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.col("centroid"),
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )
        )
        w = Window.partitionBy(id_col).orderBy(
            F.col("_d2").asc(), F.col("list_id").asc()
        )
        return (
            dist.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(id_col, vec_col, "list_id")
            # checkpoint per iteration: the centroid recompute below,
            # the next iteration's assign, AND every downstream action
            # (centroid collect, codebook sample, candidate scan) would
            # otherwise each replay the whole Lloyd chain — measured
            # 17s → 8s cold for ivfpq_topk at sf0.01. Values unchanged:
            # the barrier preserves partitioning, so the avg() partial
            # sums fold in the same order.
            .localCheckpoint(eager=False)
        )

    centroids = seeds
    for _ in range(max(1, lloyd_iters)):
        assigned = _assign(centroids)
        # recompute centroids: (list, dim) partial means, re-assemble
        exploded = assigned.select("list_id", F.posexplode(F.col(vec_col)).alias("dim", "val"))
        centroids = (
            exploded.groupBy("list_id", "dim")
            .agg(F.avg("val").alias("avg_val"))
            .groupBy("list_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "avg_val"))).alias("pairs")
            )
            .select(
                "list_id",
                F.transform("pairs", lambda s: s["avg_val"].cast("float")).alias(
                    "centroid"
                ),
            )
        )
    # FINAL assignment against the FINAL centroids (r12 review): the
    # loop ends on a centroid recompute, so the last in-loop assignment
    # described the PREVIOUS centroid table — an index whose probe
    # geometry (distance to stored centroids) disagreed with how its
    # vectors were actually binned, a systematic recall leak. The
    # kmeans_fit discipline: the returned (assignments, centroids)
    # pair must be mutually consistent.
    return _assign(centroids), centroids


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: score only vectors in the ``nprobe`` lists
    whose centroids are nearest the query.

    Index build + probe in one call here; a persistent deployment would
    write `assignments` partitioned by list_id and reuse it per query.
    """
    assigned, centroids = ivf_assignments(df, n_lists, id_col=id_col, vec_col=vec_col)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    probe = (
        centroids.withColumn(
            "_d2",
            F.aggregate(
                F.zip_with(
                    F.col("centroid"), q, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
        .orderBy(F.col("_d2").asc(), F.col("list_id").asc())
        .limit(nprobe)
        .select("list_id")
    )
    candidates = assigned.join(F.broadcast(probe), "list_id").select(id_col, vec_col)
    return brute_force_topk(candidates, query_vec, k, id_col, vec_col)


def centroid_per_label(
    df: DataFrame,
    dims: int = 64,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mean embedding per label — posexplode → avg per (label, dim) →
    re-assemble. Shuffles (label, dim) partial sums only (map-side
    combine), never whole vectors."""
    exploded = df.select(
        label_col, F.posexplode(F.col(vec_col)).alias("dim", "val")
    )
    avg = exploded.groupBy(label_col, "dim").agg(F.avg("val").alias("avg_val"))
    return (
        avg.groupBy(label_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "avg_val"))
            ).alias("pairs")
        )
        .select(
            label_col,
            F.transform("pairs", lambda s: s["avg_val"]).alias("centroid"),
        )
    )


def centroid_components(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Exact, engine-portable centroid projection: per ``(label, dim)``,
    the vector count and the sum of components quantized to ``1/scale``.

    Unlike a raw double mean (whose value depends on summation order —
    different per partitioning and per engine), all aggregation here is
    integer, so the result is bit-deterministic and hash-matches a
    DuckDB oracle; ``centroid_q = sum_scaled / (n_vecs * scale)`` is a
    single double division of identical exact operands, hence also
    identical. Quantization uses ``floor(x*scale + 0.5)`` (not
    ``round``) so no rounding-mode/tie-break rule can diverge between
    engines. Shuffles (label, dim, bigint) partial sums with map-side
    combine — never whole vectors. ``dim`` is 1-based (array-subscript
    convention, matching SQL oracles).
    """
    exploded = df.select(
        label_col, F.posexplode(F.col(vec_col)).alias("dim0", "val")
    )
    agg = exploded.groupBy(
        label_col, (F.col("dim0") + 1).cast("int").alias("dim")
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(
            F.floor(F.col("val").cast("double") * scale + F.lit(0.5)).cast("bigint")
        ).alias("sum_scaled"),
    )
    return agg.select(
        label_col,
        "dim",
        "n_vecs",
        "sum_scaled",
        (
            F.col("sum_scaled").cast("double")
            / (F.col("n_vecs").cast("double") * F.lit(float(scale)))
        ).alias("centroid_q"),
    )


# --- int8 quantization -------------------------------------------------------


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q", scale_col: str = "q_scale"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: 4× smaller than float32
    (16× vs the doubles Spark would otherwise widen to in shuffles).

    Each vector stores ``round(x / s)`` with ``s = max|x| / 127`` — the
    standard max-abs scheme. At 100 TB of embeddings this is the
    difference between a corpus that fits executor memory for
    bucket-local scoring and one that doesn't; recovered cosine error
    is ~1e-2, which reorders only near-ties (recall test pins ≥0.8
    overlap@10 on real vectors). All arithmetic is JVM higher-order
    functions — no Python in the path.
    """
    s = F.greatest(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
        )
        / F.lit(127.0),
        F.lit(1e-30),  # all-zero vectors: keep s > 0 so q is well-defined
    )
    # The scale must NOT be read via F.col(scale_col) inside the
    # transform lambda: when a caller never references scale_col again
    # (quantized_topk — the scales cancel in the cosine), CollapseProject
    # re-inlines the once-referenced alias INTO the lambda, and captured
    # expression trees re-evaluate per ELEMENT (the r14 HOF lesson) —
    # the max-abs aggregate then runs dims× per row (64× the work,
    # verified in plans/r14/emb_quantized_topk_before.txt). zip_with
    # against array_repeat(s, size) is structurally once-per-row: the
    # aggregate lands inside ArrayRepeat's left child (evaluated once),
    # and the lambda reads only its bound element variables. Arithmetic
    # per element is unchanged (same round(v/s) on the same operands).
    return df.withColumn(scale_col, s).withColumn(
        out_col,
        F.zip_with(
            F.col(vec_col),
            F.array_repeat(F.col(scale_col), F.size(F.col(vec_col))),
            lambda v, sc: F.round(v.cast("double") / sc).cast("tinyint"),
        ),
    )


def dequant_cosine(
    q_a: Column,
    s_a: Column,
    q_b: Column,
    s_b: Column,
    b_norm: float | None = None,
) -> Column:
    """Cosine of two int8-quantized vectors. The integer dot product is
    exact (|Σ qᵢ·qᵢ| ≤ d·127² ≪ 2⁵³); scales factor out of the
    numerator and cancel in the norms, so only three aggregates run.

    ``b_norm``: when ``q_b`` is a LITERAL int8 vector the caller can
    precompute ``sqrt(Σ qᵢ²)`` driver-side and skip the per-row fold
    over the constant (Catalyst does not constant-fold HOF lambdas).
    Bit-identical: the integer square sum is exact in Python and in the
    fold (≪ 2⁵³), its double cast is exact, and IEEE sqrt is correctly
    rounded in both runtimes."""
    num = F.aggregate(
        F.zip_with(q_a, q_b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    ).cast("double")
    na = F.sqrt(
        F.aggregate(
            q_a, F.lit(0).cast("long"), lambda acc, v: acc + v.cast("long") * v.cast("long")
        ).cast("double")
    )
    nb = (
        F.lit(float(b_norm))
        if b_norm is not None
        else F.sqrt(
            F.aggregate(
                q_b, F.lit(0).cast("long"), lambda acc, v: acc + v.cast("long") * v.cast("long")
            ).cast("double")
        )
    )
    return num / (na * nb)


def quantized_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine top-k over the int8-quantized corpus: quantize both sides
    (scales cancel in cosine), integer dot products, TakeOrdered top-k.
    Same plan shape as :func:`brute_force_topk` at a quarter of the
    scan bytes once the quantized column is materialized to storage.
    """
    if not query_vec:
        raise ValueError("quantized_topk: query_vec must be non-empty")
    mx = max(abs(float(x)) for x in query_vec)
    m = mx / 127.0 if mx > 0.0 else 1e-30
    # mirror the corpus side's F.round (HALF_UP = ties away from zero) —
    # Python's built-in round() is banker's rounding and would disagree
    # on exact .5 boundaries
    qints = [
        int(math.copysign(math.floor(abs(float(x) / m) + 0.5), float(x) / m))
        for x in query_vec
    ]
    q = F.array(*[F.lit(v).cast("tinyint") for v in qints])
    # the query side is a plan constant — precompute its norm driver-side
    # (bit-identical, see dequant_cosine) instead of folding the literal
    # array once per corpus row
    q_norm = math.sqrt(float(sum(v * v for v in qints)))
    qdf = quantize_int8(df, vec_col=vec_col)
    scored = qdf.select(
        F.col(id_col),
        dequant_cosine(
            F.col("q"), F.col("q_scale"), q, F.lit(m), b_norm=q_norm
        ).alias("cosine_sim"),
    )
    return scored.orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc()).limit(k)


def matryoshka_topk(
    df: DataFrame,
    query_vec: list[float],
    prefix_dims: int = 16,
    shortlist: int = 50,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage MRL-style retrieval: rank the corpus by cosine on the
    FIRST ``prefix_dims`` dimensions (Matryoshka-trained embeddings
    front-load information), keep a ``shortlist``, then rerank only the
    shortlist with full-dimension cosine.

    The 100 TB arithmetic: stage 1 reads prefix_dims/dims of the vector
    bytes per row (a 4× scan-and-FLOP cut at 16/64) and ends in a
    TakeOrdered of `shortlist` rows — never a global materialization;
    stage 2 does full-width work on `shortlist` rows only, joined back
    broadcast. Same shape as quantized_topk's scan-cheap→exact-rerank
    split, trading dimensions instead of precision.
    Deterministic: both stages tiebreak (score desc, id asc).
    """
    q_full = F.array(*[F.lit(float(x)) for x in query_vec])
    q_pre = F.array(*[F.lit(float(x)) for x in query_vec[:prefix_dims]])
    pre = F.slice(F.col(vec_col), 1, prefix_dims)
    stage1 = (
        df.select(F.col(id_col), cosine(pre, q_pre).alias("pre_sim"))
        .orderBy(F.col("pre_sim").desc(), F.col(id_col).asc())
        .limit(shortlist)
    )
    return (
        df.join(F.broadcast(stage1), id_col)
        .select(
            F.col(id_col),
            F.col("pre_sim"),
            cosine(F.col(vec_col), q_full).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def rp_sign_matrix(dims: int, r_dims: int) -> list[list[int]]:
    """±1 Achlioptas-style sign matrix for Johnson–Lindenstrauss
    random projection, from the SAME portable affine Mersenne-31 hash
    family as the sketch/LSH twins (sketch.portable_hash_params) so
    every engine — and the DuckDB oracle — regenerates it exactly:
    ``sign[j][i] = ((a_j·(i+1) + b_j) mod M31) mod 2 · 2 − 1``.
    Dense ±1 entries satisfy the JL guarantee with the same variance
    as Gaussian projections (Achlioptas 2003, "Database-friendly
    random projections") while keeping the arithmetic integer-exact."""
    from .sketch import MERSENNE31, portable_hash_params  # noqa: PLC0415

    return [
        [(((a * (i + 1) + b) % MERSENNE31) % 2) * 2 - 1 for i in range(dims)]
        for a, b in portable_hash_params(r_dims)
    ]


def _rp_quantize_batch(vals, max_abs: float):
    """Stack one Arrow batch's vectors and quantize to exact int64
    micro-units — the ONE lossy step every RP kernel shares, so the
    one-shot twin and the index build can never drift apart (review
    r8: the durable build path had re-implemented this without the
    backstop, so a filter/numpy divergence would have been PERSISTED
    as garbage instead of raising). Asserts the _rp_valid_rows
    post-condition BEFORE the cast: a post-cast check cannot fire —
    NaN/Inf/huge floats cast to INT64_MIN, whose np.abs is still
    negative (review r7)."""
    import numpy as np  # noqa: PLC0415

    X = np.stack(vals).astype(np.float64)
    if not np.isfinite(X).all() or np.abs(X).max() > max_abs:
        raise AssertionError(
            "_rp_valid_rows invariant violated: non-finite or "
            "out-of-envelope element reached an RP kernel"
        )
    return np.floor(X * 1_000_000.0 + 0.5).astype(np.int64)


def _rp_micro_limit(dims: int, r_dims: int) -> int:
    """Largest per-element |micro| for which the whole prefilter is
    int64-exact: |proj| ≤ dims·m, |diff| ≤ 2·dims·m, and the fold sums
    r_dims·diff² — so m ≤ √((2⁶³−1)/r_dims) / (2·dims), computed in
    exact integer math (float √2⁶³ admitted a worst case of exactly
    2⁶³, one past INT64_MAX — review r7). At 64 dims / r_dims 8 this
    is ≈ 8.39e6 micro, i.e. |x| ≲ 8.39 — generous for unit-scale
    embeddings. SILENT wraparound beyond it would corrupt the
    candidate set identically on Spark and numpy (DuckDB's HUGEINT
    would NOT wrap, surfacing as an oracle mismatch with no hint of
    the cause) — hence out-of-envelope elements are EXCLUDED by the
    validity filter, uniformly in every engine."""
    import math  # noqa: PLC0415

    return math.isqrt((2**63 - 1) // r_dims) // (2 * dims)


def _rp_max_abs(dims: int, r_dims: int) -> float:
    """The float-domain bound the validity filter enforces:
    |x| ≤ (limit−1)/1e6 guarantees floor(|x|·1e6 + 0.5) ≤ limit even
    after the half-ulp of the multiply. One shared double constant —
    Spark compares F.lit(value), the oracle compares the same repr —
    so the boundary decision is the identical IEEE comparison in every
    engine."""
    return (_rp_micro_limit(dims, r_dims) - 1) / 1_000_000.0


def _rp_query_projection(
    query_vec: list[float], r_dims: int
) -> tuple[list[list[int]], list[int]]:
    """(sign matrix, projected query) — the driver-side half both
    kernels share, exact Python ints (one definition: quantization or
    rounding drift between the kernels would silently break the pinned
    twin-equality and oracle parity). Raises when the query vector
    alone would exceed the int64-exact envelope."""
    import math  # noqa: PLC0415

    dims = len(query_vec)
    signs = rp_sign_matrix(dims, r_dims)
    qmic = [int(math.floor(float(x) * 1_000_000.0 + 0.5)) for x in query_vec]
    limit = _rp_micro_limit(dims, r_dims)
    if max((abs(m) for m in qmic), default=0) > limit:
        raise ValueError(
            f"query magnitude exceeds the int64-exact envelope "
            f"(|micro| > {limit} at dims={dims}, r_dims={r_dims}); "
            "normalize the vectors or lower r_dims"
        )
    pq = [sum(s * m for s, m in zip(srow, qmic)) for srow in signs]
    return signs, pq


def _rp_valid_rows(
    df: DataFrame, dims: int, r_dims: int, vec_col: str
) -> DataFrame:
    """Exclude rows no engine scores meaningfully: NULL vectors,
    wrong-length (ragged) vectors, and vectors with any element that
    is NULL, NaN, ±Inf, or beyond the int64-exact envelope. Without
    this the engines DIVERGE instead of degrade — Spark's ASC puts
    NULL approx first (null rows eat candidate slots and surface with
    None cosine), numpy's np.stack raises on ragged batches and its
    NaN/Inf/overflow→int64 casts are undefined, DuckDB errors on
    CAST(nan AS BIGINT), and out-of-envelope magnitudes wrap int64
    silently on Spark/numpy but not DuckDB's HUGEINT. The single
    predicate ``|x| ≤ max_abs`` handles ALL element cases at once:
    it is false for NaN and +Inf under both Spark's and DuckDB's
    NaN-is-greatest ordering, and the surrounding ``forall`` maps a
    NULL element to non-true. The oracle applies the same WHERE
    clause, so exclusion is engine-uniform. Cost: the null/size
    checks codegen; the element predicate is an interpreted array
    pass (HOFs are CodegenFallback) — one pass, far cheaper than the
    r_dims-fold it protects, and shared by both kernels."""
    v = F.col(vec_col)
    max_abs = _rp_max_abs(dims, r_dims)
    return df.filter(
        v.isNotNull()
        & (F.size(v) == dims)
        & F.forall(
            v,
            lambda x: x.isNotNull()
            & (F.abs(x.cast("double")) <= F.lit(max_abs)),
        )
    )


def random_projection_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    r_dims: int = 8,
    candidates: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """JL random-projection prefilter + exact cosine rerank — the
    fourth member of the compressed-retrieval family (int8 quantized =
    precision cut, matryoshka = prefix-dims cut, PQ = codebook cut;
    this = dimensionality cut that needs NO model cooperation: works on
    any embedding, trained for truncation or not).

    Stage 1 (map-only): micro-quantize the vector, fold it through the
    plan-constant ±1 sign matrix (``r_dims`` int64 components — exact
    integer arithmetic end-to-end), score by squared L2 distance to
    the identically-projected query, and keep the ``candidates`` best
    in a TakeOrdered. Stage 2 reranks only those rows with exact
    full-width cosine. The 100 TB arithmetic: per-row compare cost
    drops from ``dims`` float ops to ``r_dims`` int64 ops after a
    one-pass projection (at scale the projected column is materialized
    once, exactly like LSH signatures), and no stage ever materializes
    more than ``candidates`` rows. Deterministic: stage 1 tiebreaks
    (approx asc, id asc), stage 2 (cosine desc, id asc); the sign
    matrix and the projected query are plan constants, so a DuckDB
    oracle replays the whole pipeline bit-for-bit.

    Approximation contract: recall<k depends on r_dims/candidates (JL
    ε ~ sqrt(log n / r_dims)); with ``candidates`` ≥ corpus size the
    prefilter is a no-op and the result EQUALS brute_force_topk on
    valid rows — pinned by test. Rows with NULL / ragged / NaN / ±Inf
    / out-of-envelope vectors are EXCLUDED up front (_rp_valid_rows —
    engines diverge rather than degrade on them; the int64-exact
    envelope is |x| ≲ 8.39 at 64 dims / r_dims 8, _rp_micro_limit).
    The filter is shared by both kernels and mirrored in the oracle's
    WHERE clause, so exclusion is engine-uniform; the query vector
    itself raises when out of envelope (driver-side, actionable)."""
    dims = len(query_vec)
    signs, pq = _rp_query_projection(query_vec, r_dims)
    df = _rp_valid_rows(df, dims, r_dims, vec_col)

    signs_lit = F.array(
        *[
            F.array(*[F.lit(int(s)).cast("bigint") for s in srow])
            for srow in signs
        ]
    )
    pq_lit = F.array(*[F.lit(int(v)).cast("bigint") for v in pq])
    vmic = F.transform(
        F.col(vec_col),
        lambda x: F.floor(
            x.cast("double") * F.lit(1_000_000.0) + F.lit(0.5)
        ).cast("bigint"),
    )
    # The select puts the quantized vector behind a named column, but
    # that is NOT a materialization barrier: Catalyst collapses the
    # projection and re-expands `_vmic` inside each of the r_dims fold
    # lambdas, so every row pays the floor/cast pass r_dims times.
    # ACCEPTED here — this HOF kernel is the oracle-anchor reference,
    # not the query default (the Arrow twin below computes the
    # quantization once per batch); if this kernel ever becomes the
    # default, force an honest barrier (persist or an Exchange) first.
    staged = df.select(F.col(id_col), F.col(vec_col), vmic.alias("_vmic"))
    proj = F.transform(
        signs_lit,
        lambda srow: F.aggregate(
            F.zip_with(F.col("_vmic"), srow, lambda x, s: x * s),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ),
    )
    approx = F.aggregate(
        F.zip_with(proj, pq_lit, lambda p, q: (p - q) * (p - q)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    cand = (
        staged.select(F.col(id_col), F.col(vec_col), approx.alias("approx_d2"))
        .orderBy(F.col("approx_d2").asc(), F.col(id_col).asc())
        .limit(candidates)
    )
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def random_projection_topk_pandas(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    r_dims: int = 8,
    candidates: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow/numpy twin of :func:`random_projection_topk` — IDENTICAL
    candidate set and result (the prefilter is exact int64 arithmetic:
    ``np.floor(x·1e6+0.5)`` is the same IEEE op sequence as
    ``F.floor``, and the sign-matrix matmul is integer-exact), with
    the r_dims·dims fold running as one vectorized batch matmul
    instead of ~r_dims·dims interpreted HOF lambda calls per row
    (~5× at sf0.1). The established throughput-twin pattern
    (brute_force_topk_pandas, pq_topk_pandas, assign_clusters_pandas);
    both paths satisfy the same oracle. NULL / ragged / NaN / ±Inf /
    out-of-envelope rows are excluded Spark-side before the Arrow
    transfer (the SHARED _rp_valid_rows filter — np.stack would raise
    on ragged batches and the NaN/Inf/overflow→int64 casts are
    undefined); the in-batch check below is a pure backstop asserting
    the filter's post-condition on the pre-cast floats."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    dims = len(query_vec)
    signs, pq_list = _rp_query_projection(query_vec, r_dims)
    S = np.array(signs, dtype=np.int64)  # (r, d)
    pq = np.array(pq_list, dtype=np.int64)
    max_abs = _rp_max_abs(dims, r_dims)
    df = _rp_valid_rows(df, dims, r_dims, vec_col)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Xmic = _rp_quantize_batch(pdf[vec_col].to_numpy(), max_abs)
            P = Xmic @ S.T  # (n, r) exact int64
            D = P - pq[None, :]
            # every column positional (.to_numpy()): a raw Series here
            # would align by index, so id/vec pairing would silently
            # depend on the Arrow batch carrying a default RangeIndex
            # (ADVICE r7)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: pdf[vec_col].to_numpy(),
                    "approx_d2": (D * D).sum(axis=1),
                }
            )

    # the vector rides through the Arrow batch, so the candidate set
    # reranks directly off the TakeOrdered — ONE scan, no join back
    id_type = df.schema[id_col].dataType.simpleString()
    vec_type = df.schema[vec_col].dataType.simpleString()
    approx = df.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} {id_type}, {vec_col} {vec_type}, approx_d2 long"
    )
    cand = approx.orderBy(F.col("approx_d2").asc(), F.col(id_col).asc()).limit(
        candidates
    )
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def write_rp_index(
    df: DataFrame,
    path: str,
    dims: int = 64,
    r_dims: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the JL random-projection index — the "project once,
    probe many" deployment :func:`random_projection_topk`'s docstring
    promises, delivered the way the family's other index is
    (write_banded_signature_index: bucketed bands). Writes two parquet
    tables under ``path``:

    - ``vectors``: ``(id, full vector, rp_proj array<bigint>)`` — the
      exact int64 projection every per-query call of the one-shot
      operators recomputes, evaluated ONCE at build time with the
      vectorized Arrow kernel (one batch matmul, the twin default's
      arithmetic — bit-identical to the HOF fold).
    - ``meta``: one row ``(dims, r_dims)`` so a probe against an
      incompatible query vector fails loudly instead of scoring
      garbage.

    The validity envelope (_rp_valid_rows — NULL / ragged / NaN / ±Inf
    / out-of-envelope exclusion) is applied once HERE, so the per-row
    interpreted HOF validity pass the one-shot path pays on every
    query disappears from probe time entirely (VERDICT r7: at a real
    100 TB deployment validity belongs at index build). At scale the
    index is corpus + 8 bigints per row; probes then read r_dims
    stored ints per row instead of quantizing + folding dims floats.

    Layout: the base build owns partition directory ``batch=0`` under
    ``vectors/``; streaming maintenance
    (:mod:`..streaming.rp_stream`) appends sibling ``batch=<n>``
    directories, so probes pick up fresh rows at the next read with no
    rewrite of the base."""
    projected = rp_projected_frame(df, dims, r_dims, id_col, vec_col)
    projected.withColumn("batch", F.lit(0)).write.mode(
        "overwrite"
    ).partitionBy("batch").parquet(f"{path}/vectors")
    spark = df.sparkSession
    # meta also records the vectors schema (incl. the batch partition
    # column): probes read with it EXPLICITLY, so an index whose every
    # build row was invalid (zero data files under vectors/) still
    # probes as an empty frame instead of failing schema inference
    vec_schema = (
        f"{id_col} {df.schema[id_col].dataType.simpleString()}, "
        f"{vec_col} {df.schema[vec_col].dataType.simpleString()}, "
        f"rp_proj array<bigint>, batch int"
    )
    spark.createDataFrame(
        [(int(dims), int(r_dims), vec_schema)],
        "dims int, r_dims int, vec_schema string",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def rp_projected_frame(
    df: DataFrame,
    dims: int,
    r_dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The lazy ``(id, vector, rp_proj)`` frame both index writers
    share (:func:`write_rp_index` and the streaming appender): validity
    envelope first (_rp_valid_rows), then the exact int64 projection as
    ONE vectorized Arrow batch matmul — the same arithmetic as the
    retrieval kernels, so stored and recomputed projections are
    bit-identical (pinned in tests/test_round8_ops.py)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    signs = rp_sign_matrix(dims, r_dims)
    S = np.array(signs, dtype=np.int64)
    max_abs = _rp_max_abs(dims, r_dims)
    valid = _rp_valid_rows(df, dims, r_dims, vec_col)

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # shared quantize kernel, backstop included: the STORED
            # projection is the durable copy, so an invariant breach
            # here must raise, never persist (review r8)
            Xmic = _rp_quantize_batch(pdf[vec_col].to_numpy(), max_abs)
            P = Xmic @ S.T  # (n, r) exact int64
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    vec_col: pdf[vec_col].to_numpy(),
                    "rp_proj": list(P),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    vec_type = df.schema[vec_col].dataType.simpleString()
    return valid.select(id_col, vec_col).mapInPandas(
        project,
        f"{id_col} {id_type}, {vec_col} {vec_type}, rp_proj array<bigint>",
    )


def rp_index_candidates(
    spark,
    path: str,
    query_vec: list[float],
    candidates: int = 64,
    id_col: str = "vec_id",
    meta=None,
) -> DataFrame:
    """The lazy prefilter frame of an RP-index probe: ``(id,
    approx_d2)`` for the ``candidates`` best rows, scoring the STORED
    ``rp_proj`` column by integer squared L2 against the driver-side
    query projection. The scan reads ONLY ``(id, rp_proj)`` — parquet
    is columnar, so the wide vector column contributes zero I/O to
    this pass (plan-pinned: ReadSchema excludes the vector; no
    ``floor``, no validity ``forall``, no Exchange — everything but
    the r_dims-int zip_with was paid at build). Raises when the query
    is dimension-incompatible with the index or out of the int64
    envelope (driver-side, actionable). ``meta`` takes the index's
    already-collected 1-row meta so a caller that needs it too (the
    two-pass probe) pays the read job once per probe, not per pass
    (review r8); omitted, it is read here."""
    if meta is None:
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
    dims, r_dims = int(meta["dims"]), int(meta["r_dims"])
    if len(query_vec) != dims:
        raise ValueError(
            f"query has {len(query_vec)} dims but the index was built "
            f"at dims={dims}"
        )
    _, pq = _rp_query_projection(query_vec, r_dims)
    pq_lit = F.array(*[F.lit(int(v)).cast("bigint") for v in pq])
    approx = F.aggregate(
        F.zip_with(F.col("rp_proj"), pq_lit, lambda p, q: (p - q) * (p - q)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    # explicit schema from meta: an all-invalid build leaves zero data
    # files under vectors/, which would otherwise fail inference
    return (
        spark.read.schema(meta["vec_schema"]).parquet(f"{path}/vectors")
        .select(F.col(id_col), approx.alias("approx_d2"))
        .orderBy(F.col("approx_d2").asc(), F.col(id_col).asc())
        .limit(candidates)
    )


def rp_topk_indexed(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    candidates: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a materialized RP index (:func:`write_rp_index`) in two
    column-pruned passes:

    1. prefilter (:func:`rp_index_candidates`): scan ``(id, rp_proj)``
       only — r_dims bigints per row instead of the dims-float vector,
       a ~4× I/O cut at 64 dims / r_dims 8 that compounds with the
       compute cut (no quantization, no sign fold, no validity pass at
       probe time; all paid once at build). The ``candidates`` winning
       ids come back in a bounded driver collect (≤ ``candidates``
       rows — the same catalog-sized collect as IVF's probe list).
    2. rerank: re-scan the index for JUST those ids — the ``isin`` on
       literal ids is a pushed parquet ``In`` filter (plan-pinned), so
       row-group statistics prune the heavy vector column read to the
       candidate rows — then exact full-width cosine.

    At 100 TB the heavy column is therefore never bulk-read: pass 1
    streams the narrow projection column, pass 2 touches ``candidates``
    rows. Result is IDENTICAL to :func:`random_projection_topk` on the
    same corpus/parameters (pinned by test): the index just
    materializes the projection that operator computes inline."""
    # one meta read per probe, shared by both passes (review r8: the
    # re-read was a third fixed job per probe — a real round trip on
    # an object store — and let the passes straddle a rebuild)
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    cand_rows = rp_index_candidates(
        spark, path, query_vec, candidates, id_col, meta=meta
    ).collect()
    cand_ids = [r[id_col] for r in cand_rows]
    # empty index → empty result frame with the result schema (isin([])
    # is engine-ambiguous; an explicit false filter isn't)
    pred = F.col(id_col).isin(cand_ids) if cand_ids else F.lit(False)
    cand = (
        spark.read.schema(meta["vec_schema"]).parquet(f"{path}/vectors")
        .filter(pred)
        .select(id_col, vec_col)
    )
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def rp_knn_candidate_pairs(
    spark,
    path: str,
    queries_df: DataFrame,
    candidates: int = 64,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta=None,
    qrows=None,
) -> DataFrame:
    """The lazy prefilter stage of a batched RP-index KNN join: the
    ``(query_id, id)`` candidate pairs — per query, the ``candidates``
    stored projections nearest in integer squared-L2, tiebroken
    (approx asc, id asc) exactly like :func:`rp_index_candidates`.
    The multi-query sibling of that function, shaped for scale:

    - ONE narrow ``(id, rp_proj)`` scan scores ALL queries — each
      Arrow batch computes the (n, q) distance matrix as one
      vectorized int64 subtract-square-sum (the same per-component
      (p−q)² as the one-shot fold, no algebraic rearrangement, so the
      _rp_micro_limit envelope applies unchanged) and emits only its
      LOCAL top-``candidates`` per query, ≤ batches·q·c rows — never
      the n·q cross product.
    - one window over those rows makes the cut global (local-then-
      global top-c is exact under the total (approx, id) order); the
      single Exchange in the plan is this candidate-sized shuffle,
      pinned by test.

    ``meta``/``qrows`` take the already-collected index meta and
    projected-query rows so :func:`rp_knn_join_indexed` pays those
    jobs once; omitted, they are computed here (queries pass the same
    validity envelope as corpus rows — invalid queries are EXCLUDED,
    engine-uniformly)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    if meta is None:
        meta = spark.read.parquet(f"{path}/meta").collect()[0]
    dims, r_dims = int(meta["dims"]), int(meta["r_dims"])
    if qrows is None:
        qrows = rp_projected_frame(
            queries_df, dims, r_dims, query_id_col, vec_col
        ).collect()

    narrow = (
        spark.read.schema(meta["vec_schema"])
        .parquet(f"{path}/vectors")
        .select(id_col, "rp_proj")
    )
    qid_type = queries_df.schema[query_id_col].dataType.simpleString()
    id_type = narrow.schema[id_col].dataType.simpleString()
    pre_schema = f"{query_id_col} {qid_type}, {id_col} {id_type}, _ad bigint"
    if not qrows:
        return spark.createDataFrame(
            [], f"{query_id_col} {qid_type}, {id_col} {id_type}"
        )
    Q = np.array([list(r["rp_proj"]) for r in qrows], dtype=np.int64)
    qids = [r[query_id_col] for r in qrows]

    def prefilter(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            P = np.stack(pdf["rp_proj"].to_numpy()).astype(np.int64)
            ids = pdf[id_col].to_numpy()
            c = min(candidates, len(pdf))
            out_q, out_i, out_a = [], [], []
            # slab the query axis: the (n, q_slab, r) int64 diff cube is
            # capped at ~4M elements (~32 MB) however large the query
            # batch is — the contract allows 1e5 queries, and an
            # unslabbed cube would be n·q·r ints = tens of GB per task
            # (review r8). Per-query results are unchanged: slabbing
            # partitions the queries, never the corpus rows.
            slab = max(1, 4_000_000 // max(1, len(pdf) * Q.shape[1]))
            for j0 in range(0, len(qids), slab):
                Qs = Q[j0 : j0 + slab]
                D = P[:, None, :] - Qs[None, :, :]
                AD = (D * D).sum(axis=2)  # (n, q_slab) exact int64
                for jj in range(Qs.shape[0]):
                    col = AD[:, jj]
                    # local top-c under the global (approx asc, id asc)
                    # order — lexsort's last key is primary
                    order = np.lexsort((ids, col))[:c]
                    out_q.extend([qids[j0 + jj]] * len(order))
                    out_i.extend(ids[order])
                    out_a.extend(col[order])
            yield pd.DataFrame(
                {
                    query_id_col: out_q,
                    id_col: np.asarray(out_i, dtype=ids.dtype),
                    "_ad": np.asarray(out_a, dtype=np.int64),
                }
            )

    local = narrow.mapInPandas(prefilter, schema=pre_schema)
    w_pre = Window.partitionBy(query_id_col).orderBy(
        F.col("_ad").asc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("_rn", F.row_number().over(w_pre))
        .filter(F.col("_rn") <= candidates)
        .select(query_id_col, id_col)
    )


def rp_knn_join_indexed(
    spark,
    path: str,
    queries_df: DataFrame,
    k: int = 10,
    candidates: int = 64,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pushdown_limit: int = 8192,
    broadcast_limit: int = 4_000_000,
) -> DataFrame:
    """Batched KNN join against a materialized RP index
    (:func:`write_rp_index`): top-``k`` corpus neighbours for EVERY
    query in ``queries_df`` — the multi-query form of
    :func:`rp_topk_indexed`, which is what retrieval actually runs at
    scale (hard-negative mining, dedup-by-query, eval-set neighbour
    dumps probe thousands of queries per pass, not one).

    Per query, the result is IDENTICAL to a :func:`rp_topk_indexed`
    loop (pinned by test) — same integer-exact prefilter, same
    (approx asc, id asc) / (cosine desc, id asc) tiebreaks — but the
    corpus work is shared:

    1. queries pass the same validity envelope as corpus rows
       (:func:`_rp_valid_rows` — invalid queries are EXCLUDED, engine-
       uniformly) and are projected once via :func:`rp_projected_frame`
       (the shared quantize kernel), then collected: the query batch is
       the SMALL side by contract — mining batches are 10²–10⁵ rows of
       (r_dims+dims) scalars (MBs) against a corpus of billions, the
       same bounded-collect class as the IVF codebook and the probe's
       candidate list.
    2. prefilter: ONE narrow ``(id, rp_proj)`` scan of the index; each
       Arrow batch scores all queries with one vectorized int64
       subtract-square-sum (bit-identical to the one-shot kernel's
       per-pair fold) and emits only its local top-``candidates`` per
       query — ≤ batches·q·c rows leave the map side, never n·q.
    3. global candidate cut: one window over those tiny rows
       (row_number ≤ ``candidates`` per query — local-then-global
       top-c is exact under the total (approx, id) order).
    4. rerank, three regimes on the SAME semantics (review r8 — a
       single collect+``In`` design would bloat the driver and the
       plan past ~10⁴ pairs): when the candidate-pair count is ≤
       ``pushdown_limit``, the pairs collect (bounded, small) and the
       distinct ids become a pushed parquet ``In`` filter — the heavy
       vector column is read for candidate rows only, exactly like the
       single-query probe. Above the limit nothing collects into
       Python: the pair frame persists (pinned to the result —
       ``cache.release`` frees it) and joins one shared map-only
       vector scan. Up to ``broadcast_limit`` pairs it
       broadcast-joins — Spark still builds the broadcast relation on
       the JVM driver transiently (that is what a broadcast is), but
       the knob bounds the transient (4M two-scalar pairs ≈ low
       hundreds of MB) and the plan carries no multi-million-literal
       ``In``; beyond it even that transient is too big, so the join
       degrades honestly to a shuffle-hash join with the CANDIDATE
       side as the build side — both sides hash-partition on id, the
       corpus pays one amortized wide shuffle shared by ALL queries,
       and the driver holds nothing. Then exact cosine per (query,
       candidate) pair and a per-query top-``k`` window.

    At 100 TB: the corpus is touched by one narrow map-only scan plus
    a candidate-row vector read (small batches) or one shared vector
    scan (huge batches); through ``broadcast_limit`` every shuffle is
    candidate-sized (q·c), and past it the one corpus-wide shuffle is
    amortized over ≥ broadcast_limit/candidates queries — the whole
    point of joining batched instead of looping the single-query probe
    (which would re-scan the projection column per query).

    Returns ``(query_id, id, cosine_sim)`` ordered by (query_id asc,
    cosine desc, id asc). Empty/invalid query batch or empty index →
    empty frame with that schema."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    dims, r_dims = int(meta["dims"]), int(meta["r_dims"])

    qid_type = queries_df.schema[query_id_col].dataType.simpleString()
    # ONE base scan definition shared by every rerank regime (review
    # r8: the branches copy-pasting it invited silent divergence) —
    # narrow only in the sense of columns; each regime decides how
    # much of it is actually read (pushed In / full shared pass)
    base_vecs = (
        spark.read.schema(meta["vec_schema"])
        .parquet(f"{path}/vectors")
        .select(id_col, vec_col)
    )
    # id type comes from the index's recorded schema, not an assumption
    id_type = base_vecs.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_id_col} {qid_type}, {id_col} {id_type}, cosine_sim double"
    )
    # bounded collect (see docstring): q rows of r_dims ints + dims
    # floats, already validity-filtered and projected by the shared
    # build kernel — the projections are exactly what the index stores
    qrows = rp_projected_frame(
        queries_df, dims, r_dims, query_id_col, vec_col
    ).collect()
    if not qrows:
        return spark.createDataFrame([], out_schema)

    lazy_pairs = rp_knn_candidate_pairs(
        spark, path, queries_df, candidates,
        query_id_col, id_col, vec_col, meta=meta, qrows=qrows,
    )
    pinned: list = []
    pair_bound = len(qrows) * candidates  # exact upper bound, driver-known
    if pair_bound <= pushdown_limit:
        # small regime: collect the pairs (≤ pushdown_limit rows) so
        # the distinct ids feed a pushed-In pruned vector scan
        pairs = lazy_pairs.collect()
        if not pairs:
            return spark.createDataFrame([], out_schema)
        cand_ids = sorted({r[id_col] for r in pairs})
        pairs_df = spark.createDataFrame(
            [(r[query_id_col], r[id_col]) for r in pairs],
            f"{query_id_col} {qid_type}, {id_col} {id_type}",
        )
        vecs = base_vecs.filter(F.col(id_col).isin(cand_ids))
        # the pairs are already driver-local (just collected), so the
        # broadcast is always the right join here — broadcast_limit
        # governs only the no-collect regimes below (a clamp, so
        # pushdown_limit > broadcast_limit can't combine a full
        # driver collect with a pointless corpus shuffle: review r8)
        pair_side = F.broadcast(pairs_df)
    else:
        # huge regime: no Python-side collect — persist the pair
        # frame (it feeds the rerank join exactly once, but persisting
        # keeps a re-run of the result frame from re-paying the
        # prefilter scan) and join it against one shared map-only
        # vector scan
        pairs_df = lazy_pairs.persist()
        pinned.append(pairs_df)
        vecs = base_vecs
        if pair_bound <= broadcast_limit:
            # broadcast keeps the corpus scan map-only (zero corpus
            # shuffle). NOTE: Spark still builds the broadcast
            # relation ON the JVM driver transiently — this regime
            # avoids the Python round-trip and the multi-million-
            # literal plan, not driver residency; broadcast_limit
            # bounds that transient (4M narrow pairs ≈ low hundreds
            # of MB of UnsafeRows)
            pair_side = F.broadcast(pairs_df)
        else:
            # past the bound even the JVM-driver transient is too
            # big. Shuffle-hash with the candidate side as build:
            # both sides hash on id, the hash map is pair-sized and
            # per-partition, the corpus-wide shuffle is paid once for
            # the whole query batch, and the driver holds nothing.
            pair_side = pairs_df.hint("shuffle_hash")
    # double, not float: preserves the query values bit-exactly (the
    # single-query probe sees them as double literals — a float32
    # round-trip here would shift cosines by an ulp and break parity)
    qvec_df = spark.createDataFrame(
        [(r[query_id_col], [float(x) for x in r[vec_col]]) for r in qrows],
        f"{query_id_col} {qid_type}, _qv array<double>",
    )
    scored = (
        vecs.join(pair_side, on=id_col)
        .join(F.broadcast(qvec_df), on=query_id_col)
        .select(
            query_id_col,
            id_col,
            cosine(F.col(vec_col), F.col("_qv")).alias("cosine_sim"),
        )
    )
    w_k = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    result = (
        scored.withColumn("_rn", F.row_number().over(w_k))
        .filter(F.col("_rn") <= k)
        .select(query_id_col, id_col, "cosine_sim")
        .orderBy(
            F.col(query_id_col).asc(),
            F.col("cosine_sim").desc(),
            F.col(id_col).asc(),
        )
    )
    return pin(result, *pinned)


def embedding_dim_stats(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension mean/variance over an embedding column — the
    feature-scaling statistics pass (standardization, whitening
    diagnostics, dead-dimension detection) of ML data prep.

    One posexplode → (dim)-keyed aggregation: shuffle rows = dims ×
    partitions after map-side combine, never n·d. Components are
    micro-quantized before summation (exact bigint Σx and Σx²), so
    mean and variance are identical in any engine: var = (Σx² −
    (Σx)²/n)/n evaluated on exact integers with one final double
    division. (Σx² of micro ints fits bigint up to ~10⁶ unit-variance
    rows per dim per partial; beyond that swap the sums to
    DECIMAL(38,0) — same algebra, wider accumulator.)"""
    q = F.floor(F.col("x").cast("double") * F.lit(1_000_000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        df.select(F.posexplode(F.col(vec_col)).alias("dim", "x"))
        .select("dim", q.alias("xm"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("xm").alias("s"),
            F.sum(F.col("xm") * F.col("xm")).alias("ss"),
        )
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.col("n").cast("bigint").alias("n"),
            (F.col("s") / F.col("n") / F.lit(1_000_000.0)).alias("mean"),
            (
                (
                    F.col("ss").cast("double")
                    - F.col("s").cast("double") * F.col("s").cast("double")
                    / F.col("n").cast("double")
                )
                / F.col("n").cast("double")
                / F.lit(1_000_000.0 * 1_000_000.0)
            ).alias("variance"),
        )
    )


# --- product quantization (IVF-PQ's compression half) ------------------------


def _d2_micro(a: Column, b: Column) -> Column:
    """Σ_d round((a_d − b_d)²·1e6) as bigint over two array<double>
    columns — the order-free integer-micro distance convention shared
    with :mod:`.clustering` (per-term rounding makes the sum exact, so
    Spark and any SQL oracle agree bit-for-bit)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.round((x - y) * (x - y) * F.lit(1_000_000.0)).cast(
                "bigint"
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def pq_codebook(
    df: DataFrame,
    dims: int,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebook as a one-row broadcastable frame
    ``_cb: array<array<array<double>>>`` indexed ``[sub][code][dim]``.

    Codewords are the subvectors of a deterministic sample: the
    ``n_codes`` vectors with the smallest ``(md5(id), id)`` — the
    standard "sample as k-means init" codebook, chosen hash-uniformly
    in one pass (md5 rather than xxhash64 so the whole operator is
    reproducible in any engine — same portability trade as the
    ``*_portable`` dedup twins). ``code_id`` is the rank in that
    order, so the codebook is identical across runs, partition counts
    and engines.

    At 100 TB the codebook is KBs (m·n_codes·d_sub doubles): built
    once from a metadata-scale sample, broadcast everywhere, exactly
    like k-means centroids (clustering.py::assign_clusters's
    matrix-as-data note applies verbatim — one broadcast, byte-stable
    plan, no literal blow-up)."""
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    dsub = dims // m
    # ONE TakeOrdered job collects the n_codes sample rows driver-side
    # (bounded by n_codes, never by data — the same k-row-collect
    # budget as k-means centroids), then the nested matrix ships back
    # as a one-row broadcast frame. A pure-DataFrame assembly (window
    # rank + two groupBy/collect_list stages over 16 rows) costs more
    # in job scheduling than this entire build.
    rows = (
        df.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_codes)
        .collect()
    )
    cb = [
        [
            [float(v) for v in r[vec_col][j * dsub : (j + 1) * dsub]]
            for r in rows
        ]
        for j in range(m)
    ]
    from pyspark.sql import types as T  # noqa: PLC0415

    return df.sparkSession.createDataFrame(
        [(cb,)],
        T.StructType(
            [
                T.StructField(
                    "_cb",
                    T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))),
                )
            ]
        ),
    )


def _pq_best(vec_col: str, j: int, dsub: int) -> Column:
    """struct(d, c) of the nearest codeword to subvector ``j`` —
    ``array_min`` over (distance, code) structs: lexicographic, so
    ties break to the lowest code id."""
    vs = F.slice(F.col(vec_col), j * dsub + 1, dsub).cast("array<double>")
    return F.array_min(
        F.transform(
            F.col("_cb")[j],
            lambda cw, c: F.struct(
                _d2_micro(vs, cw).alias("d"), c.cast("int").alias("c")
            ),
        )
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    dims: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to ``m`` one-byte-ish codes: map-only
    (broadcast codebook, no shuffle, no Python). Returns
    ``(id, pq_codes)`` with codes as a comma-joined string (hashable /
    engine-portable; split on ',' to recover ints).

    This is the compression half of IVF-PQ: at 100 TB the encoded
    table is ~m bytes/vector instead of 4·d — a 64× narrower payload
    for any downstream shuffle or index write."""
    dsub = dims // m
    enc = df.crossJoin(F.broadcast(codebook))
    return enc.select(
        F.col(id_col),
        F.concat_ws(
            ",", *[_pq_best(vec_col, j, dsub)["c"].cast("string") for j in range(m)]
        ).alias("pq_codes"),
    )


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC): encode on the fly, score
    each vector as Σ_j lut[j][code_j] where the lut holds exact
    query-to-codeword distances, take the k smallest.

    The whole pipeline is ONE map-only pass over the corpus (broadcast
    codebook; encode + lut lookup fused into the same projection) plus
    a global TakeOrdered(k) — there is no per-query shuffle at all,
    which is the reason PQ scans survive 100 TB: the scan reads m
    codes per vector instead of d floats, and the only reduction is a
    k-row top-k. Distances are integer micros end-to-end (order-free,
    engine-exact). Returns ``(id, pq_codes, approx_d2_micro)``
    ascending; ties break on id."""
    dims = len(query_vec)
    dsub = dims // m
    cb = pq_codebook(df, dims, m, n_codes, id_col, vec_col)
    # Two projections, not one: higher-order functions evaluate
    # INTERPRETED (outside whole-stage codegen), so an expression tree
    # that repeats the 16-codeword argmin in both the code column and
    # the lut lookup pays for it twice per row. Stage 1 runs each
    # argmin exactly once; stage 2's lut distance is a single
    # d_sub-length fold against the chosen codeword. (~2× wall-clock
    # on the scan, same plan shape: both stages fuse into one map.)
    enc = df.crossJoin(F.broadcast(cb)).select(
        F.col(id_col),
        F.col("_cb"),
        *[_pq_best(vec_col, j, dsub)["c"].alias(f"_c{j}") for j in range(m)],
    )
    qd_cols = []
    for j in range(m):
        qs = F.array(
            *[F.lit(float(x)) for x in query_vec[j * dsub : (j + 1) * dsub]]
        )
        qd_cols.append(
            _d2_micro(qs, F.element_at(F.col("_cb")[j], F.col(f"_c{j}") + 1))
        )
    approx = qd_cols[0]
    for qd in qd_cols[1:]:
        approx = approx + qd
    return (
        enc.select(
            F.col(id_col),
            F.concat_ws(
                ",", *[F.col(f"_c{j}").cast("string") for j in range(m)]
            ).alias("pq_codes"),
            approx.alias("approx_d2_micro"),
        )
        .orderBy(F.col("approx_d2_micro").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_topk_pandas(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-batched numpy twin of :func:`pq_topk` — identical results
    (same codebook, same integer-micro arithmetic with HALF_UP
    ``floor(x+0.5)`` rounding, order-free sums), ~an order of
    magnitude faster per row because the per-code distance folds run
    as numpy batch matmuls instead of interpreted higher-order
    functions (HOFs evaluate outside whole-stage codegen — the one
    place the pure-SQL formulation pays real per-row overhead).

    This is the throughput path for bulk encoding at 100 TB; the HOF
    variant remains the engine-portable reference both are
    oracle-checked against. Same contract: one map pass + TakeOrdered.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from .clustering import _round_like_spark  # noqa: PLC0415

    dims = len(query_vec)
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    dsub = dims // m
    cb_row = pq_codebook(df, dims, m, n_codes, id_col, vec_col).collect()[0]
    C = [np.asarray(cb_row["_cb"][j], dtype=np.float64) for j in range(m)]
    q = np.asarray(query_vec, dtype=np.float64)
    # per-subspace query→codeword lut, micro ints. Rounded via
    # _round_like_spark, NOT plain floor(x+0.5) (r12 review): the HOF
    # twin's _d2_micro rounds each term with F.round (BigDecimal
    # HALF_UP), and the two disagree by 1 micro on boundary doubles
    # (the 0.49999999999999994 class) — exactly the divergence
    # assign_clusters_pandas repairs with the same helper.
    lut = [
        _round_like_spark(
            (q[j * dsub : (j + 1) * dsub][None, :] - C[j]) ** 2 * 1e6
        ).sum(axis=1)
        for j in range(m)
    ]

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int64)
            approx = np.zeros(len(pdf), dtype=np.int64)
            for j in range(m):
                Xs = X[:, j * dsub : (j + 1) * dsub]
                D = _round_like_spark(
                    (Xs[:, None, :] - C[j][None, :, :]) ** 2 * 1e6
                ).sum(axis=2)
                cj = D.argmin(axis=1)  # first min -> lowest code on ties
                codes[:, j] = cj
                approx += lut[j][cj]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "pq_codes": [
                        ",".join(str(c) for c in row) for row in codes
                    ],
                    "approx_d2_micro": approx,
                }
            )

    # derive the id field's type from the input schema — hardcoding
    # `long` would miscast string/int ids despite the generic id_col
    # contract (the HOF twin is type-generic; this keeps parity)
    id_type = df.schema[id_col].dataType.simpleString()
    scored = df.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} {id_type}, pq_codes string, approx_d2_micro long"
    )
    return scored.orderBy(
        F.col("approx_d2_micro").asc(), F.col(id_col).asc()
    ).limit(k)


def ivfpq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_lists: int = 16,
    nprobe: int = 4,
    m: int = 4,
    n_codes: int = 16,
    lloyd_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the coarse quantizer (:func:`ivf_assignments`) prunes
    the corpus to ``nprobe``/``n_lists`` lists, then PQ codes over the
    RESIDUALS (vector − list centroid) score the survivors by
    asymmetric distance — the composition production ANN engines (the
    FAISS ``IVFx,PQy`` family) run at billion-vector scale, assembled
    here from the repo's own pieces.

    Residual encoding is what separates this from :func:`pq_topk`:
    subtracting the centroid removes the coarse structure so the same
    ``m × n_codes`` code budget spends its resolution on the
    fine-grained remainder. Scale shape: the residual+encode pass is
    map-only (broadcast centroids ⋈ list key, broadcast codebook); the
    per-query cost is the ``nprobe`` lists' rows only — scan bytes are
    m codes/vector, the query-side residual table is ``nprobe`` rows
    built from the (≤ n_lists-row) collected centroid table, and the
    only reduction is TakeOrdered(k). Distances are integer micros
    end-to-end (order-free, engine-exact). Returns
    ``(id, list_id, pq_codes, approx_d2_micro)`` ascending, ties → id.

    Cache lifecycle: the residual frame is ``.persist()``-ed (it feeds
    both the codebook-sample job and the scoring scan) — the return
    value is lazy, so this function cannot unpersist it itself. It is
    ``pin()``-ed to the result: consume under
    ``with cache.released(result):`` (or ``cache.release(result)``) to
    free it scoped; ``spark.catalog.clearCache()`` between invocations
    also works (bench.py and tools/check_oracle.py do that).
    """
    dims = len(query_vec)
    if dims % m != 0:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    dsub = dims // m
    spark = df.sparkSession
    assigned, centroids = ivf_assignments(
        df, n_lists, lloyd_iters, id_col=id_col, vec_col=vec_col
    )
    # persist: residuals feed BOTH the codebook sample job and the
    # candidate scoring scan
    res = (
        assigned.join(F.broadcast(centroids), "list_id")
        .select(
            F.col(id_col),
            "list_id",
            F.zip_with(
                F.col(vec_col),
                F.col("centroid"),
                lambda x, y: x.cast("double") - y.cast("double"),
            ).alias("_res"),
        )
        .persist()
    )
    cb = pq_codebook(res, dims, m, n_codes, id_col, "_res")

    # probe choice + per-list query residuals from the collected
    # centroid table (≤ n_lists rows — the bounded-collect budget all
    # IVF variants share); sequential float64 folds keep the decision
    # replayable in any engine
    def _d2(c) -> float:
        acc = 0.0
        for x, y in zip(c, query_vec):
            acc += (float(x) - float(y)) * (float(x) - float(y))
        return acc

    cent = centroids.collect()
    probes = sorted(((_d2(r["centroid"]), r["list_id"], r["centroid"]) for r in cent))[
        :nprobe
    ]
    qres = [
        (int(lid), [float(q) - float(c) for q, c in zip(query_vec, cvec)])
        for _, lid, cvec in probes
    ]
    qres_df = spark.createDataFrame(qres, "list_id int, _qres array<double>")

    enc = (
        res.join(F.broadcast(qres_df), "list_id")
        .crossJoin(F.broadcast(cb))
        .select(
            F.col(id_col),
            "list_id",
            "_qres",
            "_cb",
            *[_pq_best("_res", j, dsub)["c"].alias(f"_c{j}") for j in range(m)],
        )
    )
    approx = None
    for j in range(m):
        t = _d2_micro(
            F.slice(F.col("_qres"), j * dsub + 1, dsub),
            F.element_at(F.col("_cb")[j], F.col(f"_c{j}") + 1),
        )
        approx = t if approx is None else approx + t
    return pin(
        enc.select(
            F.col(id_col),
            F.col("list_id").cast("int").alias("list_id"),
            F.concat_ws(
                ",", *[F.col(f"_c{j}").cast("string") for j in range(m)]
            ).alias("pq_codes"),
            approx.alias("approx_d2_micro"),
        )
        .orderBy(F.col("approx_d2_micro").asc(), F.col(id_col).asc())
        .limit(k),
        res,
    )


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09): combine any
    number of rankers' ``(id, rank)`` lists into one ranking by
    ``score(d) = Σ_r 1/(k + rank_r(d))`` — the standard way to merge
    lexical (BM25) and semantic (embedding) retrieval without score
    calibration, since only RANKS enter the formula.

    Each contribution is nano-quantized (``round(1e9/(k+rank))`` as
    bigint) so the per-id sum is exact integer math — deterministic
    across engines and partitionings, like every score in this module.
    An id absent from a ranker simply contributes nothing
    (``n_rankers`` records coverage). One union + one id-keyed
    aggregation; output ordered (rrf_nano desc, id asc).
    """
    if not rankings:
        raise ValueError("need at least one ranking")
    contrib = (
        F.round(F.lit(1_000_000_000.0) / (F.lit(float(k)) + F.col(rank_col).cast("double")))
        .cast("bigint")
        .alias("_c")
    )
    parts = [r.select(F.col(id_col), contrib) for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy(id_col)
        .agg(
            F.sum("_c").alias("rrf_nano"),
            F.count(F.lit(1)).alias("n_rankers"),
        )
        .orderBy(F.col("rrf_nano").desc(), F.col(id_col).asc())
    )
