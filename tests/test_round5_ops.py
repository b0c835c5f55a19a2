"""Round-5 operators: hard-negative mining, containment pairs,
temporal holdout split. Semantics pinned on hand-built inputs where
the right answer is checkable by eye; plan shapes pinned where the
scale posture depends on them."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from airflow_subscription_etl_spark.operators import sampling as SA
from airflow_subscription_etl_spark.operators.dedup import containment_pairs
from airflow_subscription_etl_spark.operators.similarity import hard_negative_mining

# --- hard_negative_mining ----------------------------------------------------


@pytest.fixture(scope="module")
def labeled_emb(spark):
    # two tight clusters along different axes + one "confusable" vector
    # that sits near cluster 0 but carries label 1 — the hard negative
    # every anchor in cluster 0 should find
    rows = [
        (0, [1.0, 0.0, 0.05, 0.0], 0),
        (1, [1.0, 0.02, 0.0, 0.0], 0),
        (2, [0.99, 0.01, 0.01, 0.0], 0),
        (3, [0.0, 0.0, 1.0, 0.03], 1),
        (4, [0.02, 0.0, 1.0, 0.0], 1),
        (5, [0.97, 0.05, 0.1, 0.0], 1),  # confusable: near cluster 0
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).cache()


def test_hard_negatives_find_the_confusable_vector(spark, labeled_emb):
    out = {
        r["anchor_id"]: r
        for r in hard_negative_mining(
            labeled_emb, n_planes=4, bands=2, dims=4
        ).collect()
    }
    # anchors 0..2 (cluster 0): hardest negative must be vec 5, and the
    # margin must stay positive (their positives are same-cluster)
    for a in (0, 1, 2):
        assert out[a]["neg_id"] == 5, out[a]
        assert out[a]["pos_id"] in (0, 1, 2) and out[a]["pos_id"] != a
        assert out[a]["margin"] > 0
    # anchor 5 is label-confused: its nearest SAME-label vector (3/4,
    # orthogonal-ish) scores far below its nearest diff-label → margin < 0
    assert out[5]["neg_id"] in (0, 1, 2)
    assert out[5]["margin"] < 0


def test_hard_negatives_sim_bounds_and_self_exclusion(spark, labeled_emb):
    rows = hard_negative_mining(labeled_emb, n_planes=4, bands=2, dims=4).collect()
    for r in rows:
        assert r["pos_id"] != r["anchor_id"] and r["neg_id"] != r["anchor_id"]
        assert -1.0001 <= r["neg_sim"] <= 1.0001
        assert abs(r["margin"] - (r["pos_sim"] - r["neg_sim"])) < 1e-12


def test_hard_negatives_single_bucket_shuffle(spark, labeled_emb):
    """Plan shape: exactly the all_pairs_ann posture — the only joins
    are the (band, bucket) equi self-join; no cartesian product."""
    plan = (
        hard_negative_mining(labeled_emb, n_planes=4, bands=2, dims=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- containment_pairs -------------------------------------------------------


def test_containment_catches_quote_jaccard_misses(spark):
    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "unrelated text entirely here")],
        "doc_id bigint, text string",
    )
    rows = containment_pairs(docs, threshold=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    # every shingle of the short doc occurs in the long one
    assert r["containment_a"] == 1.0
    assert r["containment_b"] < 0.5  # asymmetry
    assert r["jaccard"] < 0.5  # jaccard alone would have missed it


def test_containment_threshold_filters(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c x y z"), (3, "p q r s t u")],
        "doc_id bigint, text string",
    )
    # docs 1/2 share shingle "a b c" only: containment 1/4 each — below 0.5
    assert containment_pairs(docs, threshold=0.5).count() == 0
    low = containment_pairs(docs, threshold=0.25).collect()
    assert [(r["id_a"], r["id_b"]) for r in low] == [(1, 2)]


def test_containment_max_df_cap_drops_stop_shingles(spark):
    boiler = "the same header line"
    docs = spark.createDataFrame(
        [(i, boiler + f" unique tail {i} content {i}") for i in range(1, 6)],
        "doc_id bigint, text string",
    )
    # the boilerplate shingles appear in all 5 docs; capped at max_df=2
    # they leave the index and no pair survives
    assert containment_pairs(docs, threshold=0.4, max_df=2).count() == 0
    assert containment_pairs(docs, threshold=0.4).count() > 0


# --- temporal_holdout_split --------------------------------------------------


def test_holdout_split_no_user_straddles_test(spark):
    import datetime

    rows = [
        (i, i % 37, datetime.datetime(2024, 1, 1 + i % 28), float(i)) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts timestamp, value double")
    out = SA.temporal_holdout_split(
        df, "user_id", "ts", datetime.datetime(2024, 1, 15), holdout_per_10k=3000
    )
    per_user = (
        out.groupBy("user_id")
        .agg(F.collect_set("split").alias("splits"))
        .collect()
    )
    for r in per_user:
        splits = set(r["splits"])
        # a held-out user is ENTIRELY test; others never touch test
        assert splits == {"test"} or "test" not in splits, r
    # all three splits materialize at these sizes
    assert {r["split"] for r in out.select("split").distinct().collect()} == {
        "test",
        "train",
        "valid",
    }


def test_holdout_split_temporal_boundary_and_determinism(spark):
    import datetime

    cutoff = datetime.datetime(2024, 1, 15)
    rows = [
        (1, 10, datetime.datetime(2024, 1, 14, 23, 59, 59), 0.0),
        (2, 10, cutoff, 0.0),  # boundary event: NOT before cutoff → valid
    ]
    df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, ts timestamp, value double")
    out = {r["event_id"]: r["split"] for r in SA.temporal_holdout_split(
        df, "user_id", "ts", cutoff, holdout_per_10k=0
    ).collect()}
    assert out == {1: "train", 2: "valid"}
    # determinism under repartition
    a = sorted(map(tuple, SA.temporal_holdout_split(df, "user_id", "ts", cutoff).collect()))
    b = sorted(map(tuple, SA.temporal_holdout_split(df.repartition(5), "user_id", "ts", cutoff).collect()))
    assert a == b


def test_holdout_split_rejects_bad_fraction(spark):
    import datetime

    df = spark.createDataFrame([(1, 1, datetime.datetime(2024, 1, 1))], "e bigint, user_id bigint, ts timestamp")
    with pytest.raises(ValueError, match="holdout_per_10k"):
        SA.temporal_holdout_split(df, "user_id", "ts", datetime.datetime(2024, 1, 2), holdout_per_10k=20000)


# --- label_propagation -------------------------------------------------------


def test_lpa_two_cliques_with_bridge(spark):
    from airflow_subscription_etl_spark.operators.graph import label_propagation

    # two 4-cliques joined by one bridge edge: LPA must keep them as
    # two communities labeled by each clique's minimum node
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(3, 10)], "src bigint, dst bigint")
    out = {r["node"]: r["community"] for r in label_propagation(edges, rounds=4).collect()}
    assert {out[n] for n in range(4)} == {0}
    assert {out[n] for n in range(10, 14)} == {10}


def test_lpa_deterministic_under_repartition(spark):
    from airflow_subscription_etl_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(i, (i * 3 + 1) % 20) for i in range(20) if i != (i * 3 + 1) % 20],
        "src bigint, dst bigint",
    )
    a = sorted(map(tuple, label_propagation(edges, rounds=3).collect()))
    b = sorted(map(tuple, label_propagation(edges.repartition(7), rounds=3).collect()))
    assert a == b


def test_lpa_rejects_bad_rounds(spark):
    from airflow_subscription_etl_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="rounds"):
        label_propagation(edges, rounds=0)


# --- ivfpq_topk --------------------------------------------------------------


def test_ivfpq_matches_driver_reference(spark):
    """Spark IVF-PQ vs the pure-Python reference on the fixture — the
    same comparison the generated oracle gives the driver, in CI."""
    from airflow_subscription_etl_spark.oracles.lsh_ref import ivfpq_topk_reference
    from airflow_subscription_etl_spark.queries import q_emb_ivfpq_topk
    from tests.conftest import SF_DIR

    got = [tuple(r) for r in q_emb_ivfpq_topk(spark, SF_DIR).collect()]
    want = ivfpq_topk_reference(SF_DIR)
    assert got == want
    assert len(got) == 10


def test_ivfpq_scores_ascending_and_codes_in_range(spark):
    from airflow_subscription_etl_spark.oracles.lsh_ref import ivfpq_topk_reference
    from tests.conftest import SF_DIR

    rows = ivfpq_topk_reference(SF_DIR)
    scores = [r[3] for r in rows]
    assert scores == sorted(scores)
    for _vid, _lid, codes, _d in rows:
        assert all(0 <= int(c) < 16 for c in codes.split(","))


def test_ivfpq_rejects_indivisible_m(spark):
    from airflow_subscription_etl_spark.operators.similarity import ivfpq_topk

    df = spark.createDataFrame([(1, [0.0] * 10)], "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="not divisible"):
        ivfpq_topk(df, [0.0] * 10, m=4)


# --- incremental_minhash_pairs ----------------------------------------------


def test_incremental_minhash_delta_identity(spark):
    """pairs(corpus ∪ Δ) == pairs(corpus) ∪ incremental(corpus, Δ) —
    the exact identity the operator promises, on a corpus with dup
    pairs in all three classes (corpus×corpus, corpus×Δ, Δ×Δ)."""
    from airflow_subscription_etl_spark.operators import dedup as D5

    base = "quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base + " extra"),          # corpus×corpus dup
        (3, "completely different text with many unrelated words inside it"),
        (11, base + " indeed"),        # Δ×corpus dup
        (12, rows_text := "another delta document sharing overlapping delta tokens here now"),
        (13, rows_text + " too"),      # Δ×Δ dup
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    corpus = docs.filter("doc_id < 10")
    delta = docs.filter("doc_id >= 10")

    full = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D5.portable_minhash_pairs(docs, threshold=0.3).collect()
    }
    old = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D5.portable_minhash_pairs(corpus, threshold=0.3).collect()
    }
    inc = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D5.incremental_minhash_pairs(
            D5.portable_signatures(corpus), delta, threshold=0.3
        ).collect()
    }
    assert not set(old) & set(inc)  # no corpus×corpus pair re-emitted
    merged = {**old, **inc}
    assert merged == full
    # all three delta-join classes actually carried rows
    assert (1, 2) in old and (1, 11) in inc and (12, 13) in inc


# --- next_event_examples -----------------------------------------------------


def test_next_event_examples_context_order_and_threshold(spark):
    import datetime

    from airflow_subscription_etl_spark.operators.temporal import (
        next_event_examples,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, 7, t0 + datetime.timedelta(minutes=i), e)
        for i, e in enumerate(["a", "b", "c", "d", "e"])
    ] + [(99, 8, t0, "x")]  # user 8: too little history, no examples
    ev = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, event_type string"
    )
    out = {r["event_id"]: r for r in next_event_examples(ev).collect()}
    # first example only once 3 predecessors exist; oldest-first order
    assert set(out) == {3, 4}
    assert out[3]["context"] == "a>b>c" and out[3]["label"] == "d"
    assert out[4]["context"] == "b>c>d" and out[4]["label"] == "e"


def test_next_event_examples_tiebreak_and_determinism(spark):
    import datetime

    from airflow_subscription_etl_spark.operators.temporal import (
        next_event_examples,
    )

    t = datetime.datetime(2024, 1, 1)  # ALL ties on ts → order by id
    ev = spark.createDataFrame(
        [(i, 1, t, f"e{i}") for i in range(5)],
        "event_id bigint, user_id bigint, ts timestamp, event_type string",
    )
    a = sorted(map(tuple, next_event_examples(ev).collect()))
    b = sorted(map(tuple, next_event_examples(ev.repartition(4)).collect()))
    assert a == b
    assert a[0][2] == "e0>e1>e2"  # id order under full ties


def test_next_event_examples_rejects_bad_history(spark):
    import datetime

    from airflow_subscription_etl_spark.operators.temporal import (
        next_event_examples,
    )

    ev = spark.createDataFrame(
        [(1, 1, datetime.datetime(2024, 1, 1), "a")],
        "event_id bigint, user_id bigint, ts timestamp, event_type string",
    )
    with pytest.raises(ValueError, match="history"):
        next_event_examples(ev, history=0)


# --- rrf_fuse ----------------------------------------------------------------


def test_rrf_fuse_known_values_and_coverage(spark):
    from airflow_subscription_etl_spark.operators.similarity import rrf_fuse

    r1 = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id bigint, rank bigint")
    r2 = spark.createDataFrame([(2, 1), (1, 2), (9, 3)], "doc_id bigint, rank bigint")
    out = {r["doc_id"]: r for r in rrf_fuse([r1, r2]).collect()}
    nano = lambda rank: round(1e9 / (60 + rank))
    assert out[1]["rrf_nano"] == nano(1) + nano(2)
    assert out[2]["rrf_nano"] == nano(2) + nano(1)
    assert out[1]["rrf_nano"] == out[2]["rrf_nano"]  # symmetric ranks tie
    assert out[3]["rrf_nano"] == nano(3) and out[3]["n_rankers"] == 1
    assert out[9]["n_rankers"] == 1
    # deterministic order: tie between 1 and 2 breaks on id
    ordered = [r["doc_id"] for r in rrf_fuse([r1, r2]).collect()]
    assert ordered[:2] == [1, 2]


def test_rrf_fuse_rejects_empty_and_single_ranker_identity(spark):
    from airflow_subscription_etl_spark.operators.similarity import rrf_fuse

    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    r1 = spark.createDataFrame([(5, 1), (6, 2)], "doc_id bigint, rank bigint")
    rows = rrf_fuse([r1]).collect()
    assert [r["doc_id"] for r in rows] == [5, 6]
    assert all(r["n_rankers"] == 1 for r in rows)


def test_bm25_topk_unchanged_by_refactor(spark):
    """bm25_topk must still equal scores->orderBy->limit after the
    bm25_scores split (the registered oracle pins values; this pins
    the wrapper wiring)."""
    from airflow_subscription_etl_spark.operators.text import bm25_scores, bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark makes window queries fast"),
            (2, "customer data pipeline with spark and spark again"),
            (3, "nothing relevant in here at all"),
            (4, "window window window"),
        ],
        "doc_id bigint, text string",
    )
    top = [tuple(r) for r in bm25_topk(docs, ["spark", "window"], k=3).collect()]
    import pyspark.sql.functions as F

    manual = [
        tuple(r)
        for r in bm25_scores(docs, ["spark", "window"])
        .orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(3)
        .collect()
    ]
    assert top == manual and len(top) == 3


# --- banded signature index (bucketed, co-located incremental join) ---------


@pytest.fixture()
def _indexed_corpus(spark, tmp_path):
    from airflow_subscription_etl_spark.operators import dedup as DD

    base = "quick brown fox jumps over the lazy dog near the river bank today"
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "different text with other words entirely here now")],
        "doc_id bigint, text string",
    )
    delta = spark.createDataFrame(
        [(11, base + " indeed"), (12, base + " indeed too")],
        "doc_id bigint, text string",
    )
    spark.sql("DROP TABLE IF EXISTS banded_idx_test")
    DD.write_banded_signature_index(
        DD.portable_signatures(corpus), "banded_idx_test", num_buckets=8
    )
    yield corpus, delta
    spark.sql("DROP TABLE IF EXISTS banded_idx_test")


def test_indexed_incremental_matches_plain(spark, _indexed_corpus):
    from airflow_subscription_etl_spark.operators import dedup as DD

    corpus, delta = _indexed_corpus
    plain = sorted(
        map(
            tuple,
            DD.incremental_minhash_pairs(
                DD.portable_signatures(corpus), delta, threshold=0.3
            ).collect(),
        )
    )
    indexed = sorted(
        map(
            tuple,
            DD.incremental_minhash_pairs_indexed(
                spark, "banded_idx_test", delta, threshold=0.3
            ).collect(),
        )
    )
    assert indexed == plain
    ids = {i for t in indexed for i in t[:2]}
    assert 11 in ids and 12 in ids  # delta×corpus AND delta×delta present


def test_indexed_incremental_corpus_side_has_no_exchange(spark, _indexed_corpus):
    """THE point of the bucketed index: the corpus scan feeds the join
    with no Exchange above it — only the delta side shuffles."""
    from airflow_subscription_etl_spark.operators import dedup as DD

    _corpus, delta = _indexed_corpus
    df = DD.incremental_minhash_pairs_indexed(
        spark, "banded_idx_test", delta, threshold=0.3
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    scan_lines = [l for l in lines if "banded_idx_test" in l and "FileScan" in l]
    assert scan_lines, plan
    # the index scan must USE the bucketed layout...
    assert all("Bucketed: true" in l for l in scan_lines), plan
    # ...and never sit under a (band, bucket) re-partitioning: children
    # print BELOW their parent, so a corpus-side reshuffle would show
    # the table name within the exchange's subtree
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(band", plan):
        ctx = plan[m.start() : m.start() + 400]
        assert "banded_idx_test" not in ctx, "corpus side re-shuffled:\n" + plan


# --- bitmap_distinct ---------------------------------------------------------


def test_bitmap_distinct_exact_and_cross_bucket(spark):
    """Exact counts even when keys span multiple 32768-wide buckets,
    and merge-associativity under repartitioning."""
    from airflow_subscription_etl_spark.operators.scale import bitmap_distinct

    rows = [("a", k) for k in [1, 2, 2, 32768, 32769, 70000]] + [
        ("b", k) for k in [5, 5, 5]
    ]
    df = spark.createDataFrame(rows, "g string, k bigint")
    out = {r["g"]: r for r in bitmap_distinct(df, "k", ["g"]).collect()}
    assert out["a"]["n_distinct"] == 5 and out["a"]["n_buckets"] == 3
    assert out["b"]["n_distinct"] == 1 and out["b"]["n_buckets"] == 1
    again = {
        r["g"]: r
        for r in bitmap_distinct(df.repartition(7), "k", ["g"]).collect()
    }
    assert {g: (r["n_distinct"], r["n_buckets"]) for g, r in out.items()} == {
        g: (r["n_distinct"], r["n_buckets"]) for g, r in again.items()
    }


# --- doc_curation_report funnel ---------------------------------------------


def test_curation_report_funnel_on_handmade_corpus(spark, tmp_path):
    """Every stage must actually drop rows on a corpus built to hit all
    three gates: a low-quality doc, an exact duplicate, a near-dup."""
    from airflow_subscription_etl_spark.queries import q_doc_curation_report

    good = (
        "The analysis of the data and the methods is presented to the "
        "reader and is of interest to the community. " * 3
    ).strip()
    rows = [
        (1, good),
        (2, good),  # exact duplicate of 1 → dropped at stage 2
        (3, good + " Extra closing sentence appended for the near duplicate."),
        (4, "A. B? C! D, E; F: G.! ,,,???"),  # punctuation soup → low quality
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{sf}/documents.parquet")
    out = {r["stage"]: (r["n_docs"], r["total_tokens"]) for r in q_doc_curation_report(spark, sf).collect()}
    assert out["0_raw"][0] == 4
    assert out["1_quality"][0] == 3  # doc 4 gone
    assert out["2_exact_dedup"][0] == 2  # doc 2 gone
    assert out["3_near_dedup"][0] == 1  # docs 1/3 collapse to the better one
    # token totals shrink monotonically with the docs
    toks = [out[s][1] for s in ["0_raw", "1_quality", "2_exact_dedup", "3_near_dedup"]]
    assert toks == sorted(toks, reverse=True)


def test_bitmap_distinct_count_distinct_null_semantics(spark):
    """Full COUNT(DISTINCT) NULL semantics: null keys never bucket,
    and an all-NULL group still appears with (0, 0) — exactly what
    GROUP BY g + COUNT(DISTINCT k) yields."""
    from airflow_subscription_etl_spark.operators.scale import bitmap_distinct

    df = spark.createDataFrame(
        [("a", 1), ("a", None), ("b", None)], "g string, k bigint"
    )
    out = {r["g"]: r for r in bitmap_distinct(df, "k", ["g"]).collect()}
    assert set(out) == {"a", "b"}
    assert out["a"]["n_distinct"] == 1 and out["a"]["n_buckets"] == 1
    assert out["b"]["n_distinct"] == 0 and out["b"]["n_buckets"] == 0
