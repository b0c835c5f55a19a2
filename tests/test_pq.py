"""Product quantization: codebook determinism, encode/score consistency,
and ADC recall against the exact float path on real testdata vectors;
the Arrow/numpy scorer's id types, plan shape and bit parity with the
HOF reference on small synthetic corpora."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from airflow_subscription_etl_spark.operators import similarity as S
from airflow_subscription_etl_spark.sources.io import read_star_table

SF = "/root/testdata/sf0.001"
DIMS, M, CODES = 64, 4, 16


@pytest.fixture()
def emb(spark):
    return read_star_table(spark, SF, "embeddings")


def _query_vec(emb):
    row = emb.orderBy("vec_id").first()
    return [float(x) for x in row["embedding"]]


def test_codebook_shape_and_determinism(emb):
    cb1 = S.pq_codebook(emb, DIMS, M, CODES).collect()[0]["_cb"]
    cb2 = S.pq_codebook(emb, DIMS, M, CODES).collect()[0]["_cb"]
    assert cb1 == cb2
    assert len(cb1) == M
    assert all(len(sub) == CODES for sub in cb1)
    assert all(len(cw) == DIMS // M for sub in cb1 for cw in sub)


def test_encode_codes_in_range_and_stable_under_repartition(emb):
    cb = S.pq_codebook(emb, DIMS, M, CODES)
    enc = {
        r["vec_id"]: r["pq_codes"]
        for r in S.pq_encode(emb, cb, DIMS, M).collect()
    }
    assert len(enc) == emb.count()
    for codes in enc.values():
        parts = codes.split(",")
        assert len(parts) == M
        assert all(0 <= int(c) < CODES for c in parts)
    enc7 = {
        r["vec_id"]: r["pq_codes"]
        for r in S.pq_encode(emb.repartition(7), cb, DIMS, M).collect()
    }
    assert enc == enc7


def test_sampled_codewords_encode_to_themselves(emb):
    """A vector that IS a codeword source must quantize each of its
    subvectors to its own code (distance 0 beats every other codeword
    or ties to the lower code id — and sample ids are rank order)."""
    import pyspark.sql.functions as F

    sample_ids = [
        r["vec_id"]
        for r in emb.select("vec_id")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(CODES)
        .collect()
    ]
    cb = S.pq_codebook(emb, DIMS, M, CODES)
    enc = {
        r["vec_id"]: r["pq_codes"]
        for r in S.pq_encode(emb, cb, DIMS, M).collect()
    }
    for code_id, vid in enumerate(sample_ids):
        codes = [int(c) for c in enc[vid].split(",")]
        # ties can only resolve to a LOWER id (identical codewords)
        assert all(c <= code_id for c in codes)


def test_pq_topk_orders_ascending_and_codes_match_encode(emb):
    qv = _query_vec(emb)
    approx = S.pq_topk(emb, qv, k=10, m=M, n_codes=CODES).collect()
    assert len(approx) == 10
    ds = [(r["approx_d2_micro"], r["vec_id"]) for r in approx]
    assert ds == sorted(ds)
    cb = S.pq_codebook(emb, DIMS, M, CODES)
    enc = {
        r["vec_id"]: r["pq_codes"]
        for r in S.pq_encode(emb, cb, DIMS, M).collect()
    }
    for r in approx:
        assert r["pq_codes"] == enc[r["vec_id"]]


def test_adc_triangle_bound(emb):
    """ADC scores a vector by the distance from the query to the
    vector's RECONSTRUCTION x̂, so the Euclidean triangle inequality
    pins |d(q,x̂) − d(q,x)| ≤ d(x,x̂) for every row — a guaranteed
    property on any data (unlike top-k recall, which degrades to
    chance on uniform-random vectors where distances concentrate)."""
    import math

    qv = _query_vec(emb)
    cb = S.pq_codebook(emb, DIMS, M, CODES).collect()[0]["_cb"]
    enc = {
        r["vec_id"]: [int(c) for c in r["pq_codes"].split(",")]
        for r in S.pq_encode(
            emb, S.pq_codebook(emb, DIMS, M, CODES), DIMS, M
        ).collect()
    }
    approx = {
        r["vec_id"]: r["approx_d2_micro"]
        for r in S.pq_topk(emb, qv, k=emb.count(), m=M, n_codes=CODES).collect()
    }
    dsub = DIMS // M
    for row in emb.collect():
        x = [float(v) for v in row["embedding"]]
        xhat = [
            v
            for j, code in enumerate(enc[row["vec_id"]])
            for v in cb[j][code]
        ]
        d_qx = math.dist(qv, x)
        d_qxhat = math.dist(qv, xhat)
        d_xxhat = math.dist(x, xhat)
        assert abs(d_qxhat - d_qx) <= d_xxhat + 1e-9
        # and the engine's integer-micro ADC equals the float d(q,x̂)²
        # up to per-term rounding (DIMS half-ulps of the 1e-6 grid)
        assert abs(approx[row["vec_id"]] / 1e6 - d_qxhat**2) <= DIMS * 1e-6


def test_pandas_twin_bit_exact_parity(emb):
    """Arrow/numpy PQ must reproduce the HOF path bit-for-bit on the
    WHOLE corpus (codes and integer-micro ADC scores), not just the
    top-k — the integer-per-term arithmetic makes both order-free."""
    qv = _query_vec(emb)
    n = emb.count()
    hof = sorted(
        map(str, S.pq_topk(emb, qv, k=n, m=M, n_codes=CODES).collect())
    )
    pnd = sorted(
        map(str, S.pq_topk_pandas(emb, qv, k=n, m=M, n_codes=CODES).collect())
    )
    assert hof == pnd


# --- small synthetic corpus: the pandas scorer's id types and plan shape ---

SMALL_DIMS, SMALL_M, SMALL_CODES = 8, 2, 4


def _small_vec(i: int) -> list[float]:
    return [float((i * 7 + j * 3) % 11) / 11.0 for j in range(SMALL_DIMS)]


@pytest.fixture(scope="module")
def small_emb(spark):
    rows = [(i, _small_vec(i)) for i in range(40)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>").cache()


def test_pq_topk_pandas_string_ids(spark, small_emb):
    """The mapInPandas output schema must derive the id type from the
    input schema — a hardcoded `long` miscast string ids."""
    semb = small_emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id").cast("string")).alias("vec_id"),
        "embedding",
    )
    qv = _small_vec(0)
    out = S.pq_topk_pandas(semb, qv, k=5, m=SMALL_M, n_codes=SMALL_CODES).collect()
    assert len(out) == 5
    assert all(r["vec_id"].startswith("doc-") for r in out)
    assert dict(S.pq_topk_pandas(semb, qv, k=5, m=SMALL_M, n_codes=SMALL_CODES).dtypes)[
        "vec_id"
    ] == "string"


def test_pq_topk_pandas_int_ids_match_hof(spark, small_emb):
    """Non-bigint integer ids keep their type and the results still
    bit-match the HOF reference."""
    iemb = small_emb.select(F.col("vec_id").cast("int").alias("vec_id"), "embedding")
    qv = _small_vec(3)
    a = [
        tuple(r)
        for r in S.pq_topk(iemb, qv, k=8, m=SMALL_M, n_codes=SMALL_CODES).collect()
    ]
    b = [
        tuple(r)
        for r in S.pq_topk_pandas(
            iemb, qv, k=8, m=SMALL_M, n_codes=SMALL_CODES
        ).collect()
    ]
    assert a == b


def test_pq_topk_pandas_scores_in_mapinpandas(spark, small_emb):
    plan = (
        S.pq_topk_pandas(small_emb, _small_vec(1), k=5, m=SMALL_M, n_codes=SMALL_CODES)
        ._jdf.queryExecution()
        .toString()
    )
    assert "MapInPandas" in plan


def test_pq_topk_stays_jvm_side(spark, small_emb):
    plan = (
        S.pq_topk(small_emb, _small_vec(1), k=5, m=SMALL_M, n_codes=SMALL_CODES)
        ._jdf.queryExecution()
        .toString()
    )
    assert "MapInPandas" not in plan


def test_pq_pandas_parity_with_hof_twin(spark):
    """Both PQ kernels must agree exactly — codes and integer scores —
    now that the pandas side routes through _round_like_spark."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = [0.1] * 8
    a = sorted(
        tuple(r) for r in S.pq_topk(df, q, k=40, m=4, n_codes=8).collect()
    )
    b = sorted(
        tuple(r)
        for r in S.pq_topk_pandas(df, q, k=40, m=4, n_codes=8).collect()
    )
    assert a == b
