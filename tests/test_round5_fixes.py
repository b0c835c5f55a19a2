"""Round-5 fixes: the ADVICE r4 findings on dedup, scale, graph and
minhash. Each test pins the failure mode the advice described, so a
regression re-introducing it is loud. (The PQ id-dtype findings are
pinned in tests/test_pq.py.)"""

from __future__ import annotations

from airflow_subscription_etl_spark.operators import dedup as D
from airflow_subscription_etl_spark.operators import graph as G
from airflow_subscription_etl_spark.operators import scale as SC


# --- survivor_selection checksum overflow (ADVICE dedup.py:740) -------------


def test_survivor_checksum_near_int64_max(spark):
    """Hash-derived ids near 2^63 must not overflow: the sum runs in
    decimal(38,0) and folds back via mod 2^62."""
    big = (1 << 63) - 10  # three ids near the bigint ceiling
    members = spark.createDataFrame(
        [(big, 1), (big + 1, 1), (big + 2, 1)],
        "doc_id bigint, cluster_id bigint",
    )
    scores = spark.createDataFrame(
        [(big, 0.1), (big + 1, 0.9), (big + 2, 0.5)],
        "doc_id bigint, quality_score double",
    )
    row = D.survivor_selection(members, scores).collect()[0]
    assert row["keep_doc_id"] == big + 1
    expect = ((big + (big + 2)) % (1 << 62) + (1 << 62)) % (1 << 62)
    assert row["dropped_checksum"] == expect
    assert row["dropped_checksum"] >= 0


def test_survivor_checksum_small_ids_unchanged(spark):
    """For ordinary ids the mod is a no-op — same fingerprint as before."""
    members = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (9, 9)], "doc_id bigint, cluster_id bigint"
    )
    scores = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.1), (9, 0.7)],
        "doc_id bigint, quality_score double",
    )
    out = {r["cluster_id"]: r for r in D.survivor_selection(members, scores).collect()}
    assert out[10]["keep_doc_id"] == 2
    assert out[10]["dropped_checksum"] == 1 + 3
    assert out[9]["dropped_checksum"] == 0


# --- key_skew_report ordering contract (ADVICE scale.py:389) ----------------


def test_key_skew_report_order_is_contractual(spark):
    df = spark.createDataFrame(
        [(k,) for k in ["a"] * 5 + ["b"] * 3 + ["c"] * 3 + ["d"] * 1], "k string"
    )
    # order must hold even through an extra repartition (plan changes
    # must not reorder the report)
    rows = SC.key_skew_report(df.repartition(7), "k", top_n=3).collect()
    assert [(r["key"], r["cnt"]) for r in rows] == [("a", 5), ("b", 3), ("c", 3)]


# --- winsorize_summary odd column names (ADVICE scale.py:462) ---------------


def test_winsorize_summary_hyphenated_column(spark):
    df = spark.createDataFrame(
        [(g, float(v)) for g in ["x", "y"] for v in range(1, 21)],
        ["grp", "the value"],
    ).withColumnRenamed("the value", "unit-price.usd")
    out = {
        r["grp"]: r
        for r in SC.winsorize_summary(df, "unit-price.usd", "grp").collect()
    }
    assert out["x"]["n"] == 20
    # exact interpolated p5/p95 of 1..20: 1.95 / 19.05
    assert out["x"]["lo_micro"] == 1_950_000
    assert out["x"]["hi_micro"] == 19_050_000


# --- kcore_peel invariant under insufficient rounds (ADVICE graph.py:340) ---


def test_kcore_insufficient_rounds_never_violates_degree_bound(spark):
    """A long chain hanging off a 4-clique needs ~chain-length rounds to
    peel; with rounds=1 the old code returned chain nodes with
    core_degree < k. The final filter must keep the invariant."""
    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(10 + i, 11 + i) for i in range(6)] + [(3, 10)]
    edges = spark.createDataFrame(clique + chain, "src bigint, dst bigint")
    for rounds in (1, 2, 8):
        rows = G.kcore_peel(edges, k=3, rounds=rounds).collect()
        assert all(r["core_degree"] >= 3 for r in rows), (rounds, rows)
    # converged: exactly the 4-clique, every node at degree 3
    conv = sorted(
        (r["node"], r["core_degree"])
        for r in G.kcore_peel(edges, k=3, rounds=8).collect()
    )
    assert conv == [(0, 3), (1, 3), (2, 3), (3, 3)]


# --- ANSI-safe shingle tail access (minhash on sub-k-token docs) ------------


def test_minhash_short_docs_survive_ansi(spark):
    """A doc with fewer tokens than k_shingle reads past the token-hash
    array in its one tail shingle; F.get yields NULL there (xxhash64
    skips it) where element_at would abort the job under ANSI mode."""
    from airflow_subscription_etl_spark.operators.dedup import (
        minhash_lsh_pairs,
        with_minhash,
    )

    docs = spark.createDataFrame(
        [(1, "single"), (2, "two words"), (3, "three word doc"), (4, "three word doc")],
        "doc_id bigint, text string",
    )
    sigs = with_minhash(docs).collect()
    assert len(sigs) == 4
    assert all(len(r["minhash"]) == 32 for r in sigs)
    pairs = minhash_lsh_pairs(docs, threshold=0.9).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(3, 4)]
