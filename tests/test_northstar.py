"""Tests for dedup / similarity / text / multimodal operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_subscription_etl_spark.operators import dedup, multimodal, similarity, text
from airflow_subscription_etl_spark.schemas import MEDIA_SCHEMA


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 43),  # exact dup
        (2, "the quick brown fox jumps over a lazy dog today", "en", "s", 48),  # near
        (3, "der schnelle braune fuchs springt und ist nicht da", "de", "s", 50),
        (4, "completely different words appear here now often", "en", "s", 48),
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs)
    dup = groups.filter(F.col("dup_count") > 1).collect()
    assert len(dup) == 1 and dup[0]["keep_id"] == 0
    kept = dedup.exact_dedup(docs)
    assert kept.count() == 4
    assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {0, 2, 3, 4}


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "t string")
    out = (
        df.select(dedup.norm_tokens(F.col("t")).alias("toks"))
        .select(dedup.shingles_of_tokens(F.col("toks"), 3).alias("sh"))
        .collect()[0]["sh"]
    )
    assert sorted(out) == ["a b c", "b c d"]


def test_minhash_identical_docs_identical_signatures(docs):
    sig = dedup.with_minhash(docs).select("doc_id", "minhash").collect()
    by_id = {r["doc_id"]: r["minhash"] for r in sig}
    assert by_id[0] == by_id[1]
    assert by_id[0] != by_id[4]


def test_minhash_lsh_finds_near_dups(docs):
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # exact dup must survive any threshold
    for a, b in got:
        assert (a, b) != (0, 4) and (a, b) != (3, 4)


def test_simhash_near_pairs(docs):
    pairs = dedup.simhash_near_pairs(docs, max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((0, 1)) == 0  # identical docs → distance 0


def test_brute_force_topk_self_first(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = similarity.brute_force_topk(df, [1.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in out] == [0, 1, 2]
    assert out[0]["cosine_sim"] == pytest.approx(1.0)


def test_ann_topk_contains_self(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = similarity.ann_topk(df, [1.0] + [0.0] * 7, k=3, n_planes=4, dims=8).collect()
    assert 0 in {r["vec_id"] for r in out}


def test_pandas_topk_agrees_with_hof(spark):
    rows = [
        (i, [((i * 7 + j * 3) % 11 - 5) / 5.0 for j in range(8)]) for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    q = [0.3] * 8
    hof = [r["vec_id"] for r in similarity.brute_force_topk(df, q, k=10).collect()]
    pnd = [r["vec_id"] for r in similarity.brute_force_topk_pandas(df, q, k=10).collect()]
    assert hof == pnd


def test_query_signature_matches_jvm(spark):
    """Driver-side query_signature must be bit-identical to the JVM
    lsh_bucket path — the ANN probe's correctness hinges on it (a single
    flipped sign bit silently probes the wrong buckets)."""
    rows = [
        (i, [((i * 7 + j * 3) % 11 - 5) / 5.0 for j in range(8)]) for i in range(24)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    jvm = {
        r["vec_id"]: r["_sig"]
        for r in similarity.with_lsh_bucket(df, 12, 8, "embedding", out="_sig").collect()
    }
    for vid, vec in rows:
        assert similarity.query_signature(vec, 12, 8) == jvm[vid], vid


def test_ivf_topk_finds_exact_match(spark):
    rows = [
        (i, [((i * 7 + j * 3) % 11 - 5) / 5.0 for j in range(8)]) for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    query = rows[5][1]  # exact corpus member → its own list must be probed
    out = similarity.ivf_topk(df, query, k=5, n_lists=4, nprobe=2).collect()
    got = [r["vec_id"] for r in out]
    assert 5 in got
    assert abs(out[0]["cosine_sim"] - 1.0) < 1e-9


def test_ivf_assignments_partition_corpus(spark):
    rows = [
        (i, [((i * 13 + j * 5) % 17 - 8) / 8.0 for j in range(8)]) for i in range(64)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    assigned, centroids = similarity.ivf_assignments(df, n_lists=4)
    assert assigned.count() == 64  # every vector lands in exactly one list
    assert assigned.select("vec_id").distinct().count() == 64
    assert centroids.count() <= 4


def test_all_pairs_ann_finds_duplicate(spark):
    rows = [(0, [1.0, 2.0, 3.0, 4.0] * 2), (1, [1.0, 2.0, 3.0, 4.0] * 2)] + [
        (i, [float((i * 13 + j * 5) % 17 - 8) for j in range(8)]) for i in range(2, 30)
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in similarity.all_pairs_ann(
            df, threshold=0.95, n_planes=12, bands=3, dims=8
        ).collect()
    }
    assert pairs[(0, 1)] == pytest.approx(1.0)


def test_centroids(spark):
    rows = [(0, [1.0, 3.0], 1), (1, [3.0, 5.0], 1), (2, [10.0, 10.0], 2)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>, label int")
    out = {r["label"]: r["centroid"] for r in similarity.centroid_per_label(df, dims=2).collect()}
    assert out[1] == [2.0, 4.0]
    assert out[2] == [10.0, 10.0]


def test_lang_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in text.with_lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[3] == "de"


def test_token_stats(spark):
    df = spark.createDataFrame([(0, "a bb  ccc", "en", "s", 9)],
                               "doc_id bigint, text string, lang string, source string, n_chars bigint")
    r = text.with_token_stats(df).collect()[0]
    assert r["n_tokens"] == 3 and r["n_distinct_tokens"] == 3
    assert r["mean_token_len"] == pytest.approx(2.0)


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(0, "Hello,   World!", "en", "s", 1), (1, "hello world", "en", "s", 1)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    fp = [r["fingerprint"] for r in text.with_fingerprint(df).collect()]
    assert fp[0] == fp[1]


def test_multimodal_featurize(spark):
    rows = [
        (1, "image", bytearray(b"\x89PNGfake"), (64, 48, None, None, "png")),
        (2, "video", bytearray(b"RIFFfake"), (None, None, None, 5000, "avi")),
        (3, "audio", None, (None, None, 16000, 2000, "wav")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in multimodal.featurize_media(df).collect()}
    assert out[1]["ok"] and out[1]["width"] == 64
    assert out[2]["n_frames"] == 5
    assert not out[3]["ok"] and out[3]["payload_sha256"] is None


def test_video_frame_sampling(spark):
    rows = [(2, "video", bytearray(b"x"), (None, None, None, 3500, "avi"))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = multimodal.sample_video_frames(df, every_ms=1000).collect()
    assert [r["frame_ts_ms"] for r in out] == [0, 1000, 2000, 3000]


def test_resize_images_average_pools_exactly(spark):
    """4×4 gray image with known quadrant values → 2×2 resize must be
    the exact per-quadrant means (real math over the fake raster codec)."""
    px = bytes(
        [10, 10, 20, 20,
         10, 10, 20, 20,
         30, 30, 40, 40,
         30, 30, 40, 40]
    )
    rows = [(1, "image", bytearray(px), (4, 4, None, None, "gray8"))]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = multimodal.resize_images(df, 2, 2).collect()
    assert len(out) == 1
    r = out[0]
    assert list(bytes(r["payload"])) == [10, 20, 30, 40]
    assert (r["meta"]["width"], r["meta"]["height"]) == (2, 2)
    assert r["meta"]["format"] == "gray8"


def test_resize_images_upscale_and_filtering(spark):
    """Upscale replicates pixels; non-image rows are dropped."""
    rows = [
        (1, "image", bytearray(bytes([7])), (1, 1, None, None, "gray8")),
        (2, "audio", bytearray(b"zz"), (None, None, 16000, 10, "wav")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = multimodal.resize_images(df, 3, 2).collect()
    assert [r["media_id"] for r in out] == [1]
    assert list(bytes(out[0]["payload"])) == [7] * 6


def test_scrub_text_redacts_all_pattern_kinds(spark):
    from airflow_subscription_etl_spark.operators.text import with_scrubbed

    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@example.co.uk today"),
            (2, "see https://example.com/a?b=1 and http://x.io"),
            (3, "call 555-867-5309 or 555.123.4567 now"),
            (4, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["scrubbed"], r["n_redactions"])
           for r in with_scrubbed(df).collect()}
    assert got[1] == ("mail me at <EMAIL> today", 1)
    assert got[2] == ("see <URL> and <URL>", 2)
    assert got[3] == ("call <PHONE> or <PHONE> now", 2)
    assert got[4] == ("nothing sensitive here", 0)


def test_audio_window_sampling(spark):
    rows = [
        (5, "audio", bytearray(b"pcm"), (None, None, 16000, 1200, "wav")),
        (6, "image", bytearray(b"x"), (2, 2, None, None, "gray8")),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = multimodal.sample_audio_windows(df, window_ms=500, hop_ms=250).collect()
    assert {r["media_id"] for r in out} == {5}
    starts = [r["win_start_ms"] for r in out]
    # fixed-hop windows that fit entirely inside the 1200ms clip
    assert starts == [0, 250, 500]
    w0 = next(r for r in out if r["win_start_ms"] == 0)
    assert (w0["start_sample"], w0["end_sample"]) == (0, 8000)
