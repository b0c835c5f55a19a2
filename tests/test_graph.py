"""Connected-components (large-star/small-star) correctness against a
driver-side union-find on randomized graphs."""

from __future__ import annotations

import random

import pyspark.sql.functions as F

from airflow_subscription_etl_spark.operators.graph import (
    canonical_docs,
    connected_components,
)


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # normalize every node to its component MINIMUM
    comp: dict[int, int] = {}
    roots: dict[int, int] = {}
    for n in list(parent):
        r = find(n)
        roots[r] = min(roots.get(r, r), n)
    for n in list(parent):
        comp[n] = roots[find(n)]
    return comp


def _cc(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df)
    return {r["node"]: r["component"] for r in out.collect()}


def test_chain_collapses_to_min(spark):
    assert _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]) == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1
    }


def test_two_components_and_self_loop(spark):
    got = _cc(spark, [(10, 20), (30, 40), (40, 50), (7, 7)])
    assert got[10] == got[20] == 10
    assert got[30] == got[40] == got[50] == 30
    assert 7 not in got  # self-loops are dropped; 7 is isolated


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for _ in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _cc(spark, edges) == _union_find(edges)


def test_canonical_docs_keeps_one_per_component(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"] for r in canonical_docs(docs, pairs).collect()
    )
    assert kept == [0, 3, 4]  # 0 survives {0,1,2}; 3 isolated; 4 survives {4,5}


def test_cc_is_deterministic_across_partitionings(spark):
    edges = [(1, 2), (2, 3), (5, 6), (8, 9), (9, 1)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {(r["node"], r["component"]) for r in connected_components(df).collect()}
    b = {
        (r["node"], r["component"])
        for r in connected_components(df.repartition(13)).collect()
    }
    assert a == b
    assert a == {(1, 1), (2, 1), (3, 1), (8, 1), (9, 1), (5, 5), (6, 5)}


def test_pagerank_crafted(spark):
    from airflow_subscription_etl_spark.operators.graph import pagerank

    # star: nodes 2,3,4 all point at 1; 1 points at 2
    edges = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1), (1, 2)], ["src", "dst"]
    )
    out = {r["node"]: r for r in pagerank(edges, iters=5).collect()}
    # hub 1 collects three inflows -> highest rank; 3 and 4 (no inflow)
    # sit at the teleport floor
    assert out[1]["rank_micro"] > out[2]["rank_micro"] > out[3]["rank_micro"]
    assert out[3]["rank_micro"] == out[4]["rank_micro"]
    assert abs(out[3]["rank"] - 0.15) < 1e-5


def test_pagerank_partitioning_invariant(spark):
    from airflow_subscription_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(60)], ["src", "dst"]
    ).filter("src != dst")
    a = {r["node"]: r["rank_micro"] for r in pagerank(edges, iters=3).collect()}
    b = {
        r["node"]: r["rank_micro"]
        for r in pagerank(edges.repartition(9), iters=3).collect()
    }
    assert a == b


# --- k-core -----------------------------------------------------------------


def test_kcore_known_graph(spark):
    """Triangle {1,2,3} + pendant chain 3-4-5: 2-core = the triangle."""
    from airflow_subscription_etl_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src bigint, dst bigint"
    )
    out = {r["node"]: r["core_degree"] for r in kcore_peel(edges, k=2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}
    # 3-core of a triangle is empty (degree 2 < 3)
    assert kcore_peel(edges, k=3).count() == 0


def test_kcore_fixed_point_and_validation(spark):
    """Once converged, extra rounds change nothing; bad params raise."""
    import pytest

    from airflow_subscription_etl_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)] + [(0, 3)],
        "src bigint, dst bigint",
    )  # 6-cycle + one chord: whole graph is its own 2-core
    a = sorted(map(str, kcore_peel(edges, k=2, rounds=2).collect()))
    b = sorted(map(str, kcore_peel(edges, k=2, rounds=9).collect()))
    assert a == b and len(a) == 6
    with pytest.raises(ValueError):
        kcore_peel(edges, k=0)


def test_star_schedule_over_cap_is_never_simulated(spark, monkeypatch):
    """Over STAR_SCHEDULE_MAX_EDGES edges, star_schedule returns no
    schedule without simulating the edge list, and doc_cc_islands falls
    back to the signature loop with identical components."""
    from airflow_subscription_etl_spark import queries as Q
    from airflow_subscription_etl_spark.operators import graph as G

    # source A: one run over buckets 1..6; B: runs {1, 2} and {5, 6};
    # C: a singleton — 7 leader edges in all
    cells = [("A", b) for b in range(1, 7)] + [("B", b) for b in (1, 2, 5, 6)]
    cells += [("C", 3)]
    docs = spark.createDataFrame(
        [(i, s, b * 100 + 7) for i, (s, b) in enumerate(cells)],
        "doc_id long, source string, n_chars int",
    )
    monkeypatch.setattr(Q, "_t", lambda spark_, sf_dir_, name_: docs)
    want = {tuple(r) for r in Q.q_doc_cc_islands(spark, "unused").collect()}
    assert len({c for _, c in want}) == 4

    chain = [(1, 2), (2, 3), (3, 4)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    assert G.star_schedule(pairs) == G.simulate_star_rounds(chain)

    def simulated(edges):
        raise AssertionError(f"simulated {len(edges)} edges over the cap")

    monkeypatch.setattr(G, "STAR_SCHEDULE_MAX_EDGES", 2)
    monkeypatch.setattr(G, "simulate_star_rounds", simulated)
    assert G.star_schedule(pairs) is None
    got = {tuple(r) for r in Q.q_doc_cc_islands(spark, "unused").collect()}
    assert got == want
