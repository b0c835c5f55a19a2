"""Distributed connected components — the clustering step of near-dup
deduplication.

Pairwise near-dup detection (``dedup.minhash_lsh_pairs`` /
``simhash_near_pairs`` / ``similarity.all_pairs_ann``) yields EDGES;
corpus curation needs COMPONENTS ("these 14 pages are all the same
boilerplate — keep one"). The reference has nothing remotely like this
(its tables are 2–3 rows); this is the north-star extension's missing
middle stage: pairs → clusters → canonical representative.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — the
standard shuffle-native formulation:

- large-star: every node points its LARGER neighbors at its current
  minimum neighbor (including itself);
- small-star: every node points its smaller-or-equal neighbors at its
  minimum neighbor.

Each round is two groupBy shuffles over the edge set; the edge set
contracts geometrically and the loop converges in O(log n) rounds for
real-world graphs (near-dup graphs are unions of small cliques — they
converge in 2–3 rounds). No driver-side state beyond the converged
flag; each round's frame is checkpoint-truncated so the lineage (and
thus the task-retry cost) stays O(1) per round rather than O(rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large- or small-star iteration over symmetric edges.

    ``edges`` must hold both directions of every pair. Emits the new
    (node → candidate-parent) edge set, symmetric again.

    Formulated as WINDOW MINIMUMS over the edge list rather than
    ``collect_set`` + ``explode``: one shuffle on src either way, but
    the window form never materializes per-node neighbor arrays (a
    skewed high-degree node — every dense clique has one — would
    build a giant array on a single task) and stays inside columnar
    whole-stage codegen end to end. Measured 3.4× faster on a 636k-edge
    clique-heavy graph (4.9s → 1.4s for the first round).

    All of a row's emissions — the star edge AND its mirror (plus the
    one-per-node self-emission in the small star) — leave in a SINGLE
    conditional-array explode (r14, guide §1.2/§2.4): the pre-r14
    union-of-branches form referenced the windowed frame 2× (large
    star) / 4× (small star: two branches, then the symmetrizing
    union), and a union's branches are separate subtrees — each one a
    separate stage re-running the window (and its sort) over the
    reused exchange every round of the CC loop. One explode = one
    window execution per star, same emitted edge multiset (duplicate
    emissions still can't change any window min; the round boundary
    in the driver loop runs one distinct per FULL round).
    """
    w = Window.partitionBy("src")
    if large:
        # large-star(u): point every LARGER neighbor at the minimum of
        # the whole neighborhood (including u itself)
        m = F.least(F.min("dst").over(w), F.col("src"))
        ann = edges.select("src", "dst", m.alias("m"))
        emit = F.when(
            (F.col("dst") > F.col("src")) & (F.col("dst") != F.col("m")),
            F.array(
                F.struct(F.col("dst").alias("s"), F.col("m").alias("d")),
                F.struct(F.col("m").alias("s"), F.col("dst").alias("d")),
            ),
        )
    else:
        # small-star(u): point the smaller-or-equal neighbors AND u
        # ITSELF at the minimum of the small neighborhood — the
        # self-edge emission is load-bearing: without it a local-min
        # node emits nothing and chains disconnect
        m = F.least(
            F.min(F.when(F.col("dst") <= F.col("src"), F.col("dst"))).over(w),
            F.col("src"),
        )
        rn = F.row_number().over(Window.partitionBy("src").orderBy("dst"))
        ann = edges.select("src", "dst", m.alias("m"), rn.alias("rn"))
        keep = (F.col("dst") <= F.col("src")) & (F.col("dst") != F.col("m"))
        # exactly one self-emission per node u (rn == 1)
        self_keep = (F.col("rn") == 1) & (F.col("src") != F.col("m"))
        emit = F.array_compact(
            F.array(
                F.when(
                    keep,
                    F.struct(F.col("dst").alias("s"), F.col("m").alias("d")),
                ),
                F.when(
                    keep,
                    F.struct(F.col("m").alias("s"), F.col("dst").alias("d")),
                ),
                F.when(
                    self_keep,
                    F.struct(F.col("src").alias("s"), F.col("m").alias("d")),
                ),
                F.when(
                    self_keep,
                    F.struct(F.col("m").alias("s"), F.col("src").alias("d")),
                ),
            )
        )
    return ann.select(F.explode(emit).alias("e")).select(
        F.col("e.s").alias("src"), F.col("e.d").alias("dst")
    )


def simulate_star_rounds(
    edges: list[tuple[int, int]], max_rounds: int = 20
) -> list[int]:
    """Driver-side replica of the large/small-star loop on a BOUNDED
    edge list: returns one entry per useful round (up to and excluding
    the first no-op round) holding that round's ENTERING deduped edge
    count — i.e. the exact round schedule, with per-round repartition
    sizes, that the distributed loop needs to reach the fixpoint with
    no per-round convergence actions.

    For callers whose edge set is bounded by the CATALOG rather than
    the data (doc_cc_islands' leader graph is cells-sized — the same
    frame the query already broadcasts), this is the k-means-centroid
    contract: O(cells) driver work sizes the distributed computation,
    which still does all the transitive-closure work itself. The
    semantics mirror :func:`_star_round` + the per-round dedup
    set-for-set (pure min arithmetic — no floats, no ordering
    sensitivity), so ``len(result)`` distributed rounds land exactly on
    the fixpoint the signature loop would detect, minus its one
    confirming no-op round.
    """
    cur = {(a, b) for a, b in edges if a != b}
    cur |= {(b, a) for a, b in cur}
    counts: list[int] = []
    for _ in range(max_rounds):
        n_in = len(cur)
        nbrs: dict[int, list[int]] = {}
        for u, v in cur:
            nbrs.setdefault(u, []).append(v)
        # large star
        out = set()
        for u, vs in nbrs.items():
            m = min(min(vs), u)
            for v in vs:
                if v > u and v != m:
                    out.add((v, m))
                    out.add((m, v))
        # small star
        nbrs = {}
        for u, v in out:
            nbrs.setdefault(u, []).append(v)
        nxt = set()
        for u, vs in nbrs.items():
            small = [v for v in vs if v <= u]
            m = min(min(small), u) if small else u
            for v in small:
                if v != m:
                    nxt.add((v, m))
                    nxt.add((m, v))
            if u != m:
                nxt.add((u, m))
                nxt.add((m, u))
        if nxt == cur:
            break
        cur = nxt
        # entering-edge count of the round that was just proven useful:
        # the distributed loop sizes round i's src-keyed repartition by
        # counts[i] (its input), so record n_in, not len(nxt)
        counts.append(n_in)
    return counts


#: Most edges :func:`star_schedule` brings to the driver. The schedule
#: is simulated over Python sets, which suits a catalog-bounded graph
#: (doc_cc_islands' leader graph has one edge per adjacent occupied
#: cell); a larger edge list is data-sized and keeps the distributed
#: signature loop.
STAR_SCHEDULE_MAX_EDGES = 100_000


def star_schedule(pairs: DataFrame) -> list[int] | None:
    """The :func:`simulate_star_rounds` schedule of a catalog-bounded
    ``(id_a, id_b)`` pair graph, or ``None`` when it has more than
    :data:`STAR_SCHEDULE_MAX_EDGES` edges.

    One job fetches at most cap+1 edges from one ``coalesce(1)``
    partition; a bare ``limit().collect()`` scans partitions
    incrementally and can launch several jobs. Pass the result as
    :func:`connected_components`' ``schedule``: ``None`` runs its
    signature loop.
    """
    rows = pairs.coalesce(1).limit(STAR_SCHEDULE_MAX_EDGES + 1).collect()
    if len(rows) > STAR_SCHEDULE_MAX_EDGES:
        return None
    return simulate_star_rounds([(r["id_a"], r["id_b"]) for r in rows])


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 20,
    schedule: list[int] | None = None,
) -> DataFrame:
    """Label every node of the pair graph with its component's MINIMUM
    node id. Returns ``(node, component)``; isolated nodes (present in
    no pair) are the caller's to union in if needed.

    Convergence is detected on the (deduped, checkpointed) edge set via
    a single scalar action per round — row count plus an
    order-independent xxhash64 XOR — instead of a shuffle-heavy
    ``exceptAll``: equal (count, hash) across rounds means the edge
    fixpoint is reached (hash collision is ~2⁻⁶⁴ and ``max_rounds``
    backstops it), and labels are derived once after the loop. The
    per-round ``localCheckpoint`` is LAZY, so the signature agg is the
    action that materializes it — one job per round, not two (halves
    the fixed per-round overhead that dominated the r1 bench).
    ``localCheckpoint`` keeps lineage truncation executor-local (no
    checkpoint dir needed; at production scale with lossy executors,
    swap for reliable ``checkpoint()`` on durable storage).

    ``schedule`` (r15 — for CATALOG-BOUNDED graphs only): the per-round
    live-edge counts from :func:`simulate_star_rounds` on the collected
    edge list. With a schedule the loop runs exactly ``len(schedule)``
    rounds with NO per-round signature action — every round chains
    lazily and the caller's own action executes the whole loop as one
    job (lazy localCheckpoints every other round keep the retry lineage
    bounded without costing extra jobs). The distributed rounds — the
    transitive-closure work itself — are unchanged; only the
    convergence DETECTION moves to the driver, which is the right trade
    exactly when the edge set is bounded by the catalog (cells,
    sources), never for data-sized graphs.
    """
    spark = pairs.sparkSession
    e = pairs.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    )

    # Right-size parallelism to the LIVE edge count each round: the edge
    # set contracts geometrically, and dragging 32+ shuffle partitions
    # through 4+ rounds of near-empty stages is pure scheduling overhead
    # (measured 40% of wall time at test scale). ~200k edges per
    # partition; big graphs keep the session's full parallelism.
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    def _parts(n_edges: int) -> int:
        return max(1, min(default_parts, -(-n_edges // 200_000)))

    def _signature(edge_df: DataFrame) -> tuple[int, int]:
        row = edge_df.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent, overflow-free (ANSI-safe); the
            # edge set is distinct so even-count cancellation can't occur
            F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
        ).first()
        return (row["n"], row["h"] or 0)

    if schedule is not None:
        raw = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).filter(F.col("src") != F.col("dst"))
        nodes = raw.select(F.col("src").alias("node")).distinct()
        edges = raw
        # two exchanges per round: the round-START repartition serves
        # both the (src, dst) dedup (subset rule) and the large-star
        # window; only the small-star window re-keys. Duplicate
        # emissions flow into the next round's dedup — harmless
        # mid-round, since every star decision is a window min /
        # row_number duplicates cannot change. No signature, so no
        # persist/observe machinery: the rounds chain lazily and the
        # caller's one action runs the whole loop. The checkpoints
        # every other round bound the retry lineage, but they are not
        # free: under AQE, localCheckpoint(eager=False) runs the
        # shuffle stages below it at call time (0.46 s of
        # doc_cc_islands' 0.9–1.2 s build at sf0.1, 4-core host).
        # Without them the build shrank (0.87 → 0.50 s) but wall time
        # did not (1.29 → 1.25 s), so they stay.
        for i, n_in in enumerate(schedule):
            dd = edges.repartition(_parts(n_in), "src").dropDuplicates(
                ["src", "dst"]
            )
            edges = _star_round(_star_round(dd, large=True), large=False)
            if i % 2 == 1:
                edges = edges.localCheckpoint(eager=False)
        # labels tolerate the final round's duplicate emissions (min
        # aggregates), so no trailing dedup pass is needed
        labels = edges.groupBy(F.col("src").alias("node")).agg(
            F.least(F.min("dst"), F.col("src").cast("long")).alias("component")
        )
        return nodes.join(labels, "node", "left").select(
            "node",
            F.coalesce("component", F.col("node").cast("long")).alias("component"),
        )

    edges = (
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # baseline signature doubles as the initial live-edge count (one
    # action materializes the checkpoint AND measures it)
    prev_sig = _signature(edges)
    n_live = prev_sig[0]
    nodes = edges.select(F.col("src").alias("node")).distinct()

    for _ in range(max_rounds):
        edges = _star_round(edges, large=True)
        edges = (
            _star_round(edges, large=False)
            .distinct()
            .coalesce(_parts(n_live))
            .localCheckpoint(eager=False)
        )
        sig = _signature(edges)
        if sig == prev_sig:
            break
        prev_sig = sig
        n_live = sig[0]
    labels = edges.groupBy(F.col("src").alias("node")).agg(
        F.least(F.min("dst"), F.col("src").cast("long")).alias("component")
    )
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", F.col("node").cast("long")).alias("component")
    )


def canonical_docs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Near-dup dedup, end to end: collapse each connected component of
    ``pairs`` to its minimum-id row of ``df``; rows in no component
    survive untouched. One broadcast-able join when the component map
    (|nodes in any pair|, typically ≪ |corpus|) is small; a plain equi
    join otherwise — Catalyst/AQE picks.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank over a directed edge list, ENGINE-EXACT: ranks live as
    integer MICROS between iterations, every per-edge contribution is
    micro-rounded before the destination sum, so the bigint aggregation
    is immune to ordering/partitioning and the whole iterative run
    reproduces bit-for-bit in any engine (DuckDB oracle unrolls the
    iterations — see queries.pagerank_oracle_sql).

    Per iteration: rank/out-degree contributions flow along edges (one
    shuffle keyed on dst with map-side combine), then
    ``new = round(0.15·1e6 + d·Σ contrib)``. Dangling nodes keep only
    the teleport term (their rank is not redistributed — the common
    simplified formulation). Nodes = every src or dst endpoint; initial
    rank 1.0 (= 1e6 micros). Returns ``(node, rank_micro, rank)``.

    At 100 TB: the edge list partitions by dst for the sum; out-degrees
    are a node-sized table joined map-side after the degree agg. Driver
    holds nothing — unlike k-means there is no small-state collect; the
    loop just chains DataFrames with per-iteration localCheckpoint to
    keep lineage O(1).
    """
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.withColumn("rank_micro", F.lit(1_000_000).cast("bigint"))
    dm = float(damping)
    for _ in range(iters):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.round(
                    F.col("rank_micro").cast("double") / F.col("outdeg").cast("double")
                )
                .cast("bigint")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit((1.0 - dm) * 1_000_000.0)
                    + F.lit(dm) * F.coalesce("inflow", F.lit(0)).cast("double")
                )
                .cast("bigint")
                .alias("rank_micro"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select(
        "node",
        "rank_micro",
        (F.col("rank_micro").cast("double") / F.lit(1_000_000.0)).alias("rank"),
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over an undirected edge set — the classic
    graph-shape statistic (clustering coefficient numerator, community
    density screening for near-dup clusters).

    Scale-first formulation (Cohen, "Graph Twiddling in a MapReduce
    World", 2009; same shape as GraphFrames'): canonicalize each edge,
    then ORIENT it from its lower-(degree, id) endpoint to the
    higher one. Every triangle is then counted exactly once as a wedge
    a→b, a→c (a the smallest endpoint in degree order) closed by the
    oriented edge b→c. Degree orientation bounds per-node out-degree by
    O(sqrt(|E|)), so the wedge self-join — the only superlinear step —
    generates O(|E|^1.5) candidates worst-case instead of
    sum(degree^2) (which a skewed hub would blow up). Three shuffles
    total: degree agg, wedge join, closing-edge join. No driver state.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        # e is referenced 4× downstream (degrees ×2, orientation,
        # closing edges); without lineage truncation Spark re-runs the
        # whole upstream edge derivation for each reference (measured:
        # 112 exchanges on the supplier co-occurrence graph, most of
        # them the lineitem self-join recomputed)
        .localCheckpoint(eager=False)
    )
    deg = (
        e.select(F.col("a").alias("n")).unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient: from lower (deg, id) to higher (deg, id)
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .localCheckpoint(eager=False)  # referenced twice (both wedge legs)
    )
    w1 = oriented.select(F.col("u"), F.col("v").alias("x"))
    w2 = oriented.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").filter(F.col("x") < F.col("y"))
    # a wedge u→x, u→y closes iff {x,y} is an edge; e is already the
    # canonical (a<b, distinct) undirected set, so no re-dedup needed
    closing = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    tri = wedges.join(closing, ["x", "y"])
    return tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))


def kcore_peel(
    edges: DataFrame,
    k: int = 2,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by iterative peeling, run for a FIXED
    number of rounds: each round drops every node whose current degree
    is below ``k``, then drops edges that lost an endpoint. After
    convergence (a fixed point — additional rounds are no-ops) the
    surviving subgraph is exactly the k-core; a fixed ``rounds`` keeps
    the operator replayable in any engine (the same unrolled-iteration
    trade k-means makes for its oracle), and callers size it by graph
    diameter — peeling removes whole degree-layers per round, so
    convergence is fast in practice.

    Plan per round: one degree aggregation + two semi-joins on the
    endpoint keys — all key-partitioned shuffles, no windows over
    neighbor arrays (high-degree nodes stay distributed). Lineage is
    truncated every other round (lazy ``localCheckpoint``) so round
    R's plan doesn't re-derive rounds 1..R−1 on a retry. Input may be
    one direction per pair; it is symmetrized here. Returns
    ``(node, core_degree)`` for nodes in the surviving subgraph; a
    final ``core_degree >= k`` filter enforces the invariant even when
    ``rounds`` undershoots convergence — an under-sized ``rounds`` can
    still return a superset of the true k-core's EDGES, but never a
    node row that itself violates the degree bound (silently-wrong
    per-node output was the failure mode; see tests).
    """
    if k < 1 or rounds < 1:
        raise ValueError(f"need k >= 1 and rounds >= 1, got {k}/{rounds}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    cur = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    for r in range(rounds):
        keep = (
            cur.groupBy("src")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= k)
            .select("src")
        )
        cur = cur.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )
        if r % 2 == 1:
            cur = cur.localCheckpoint(eager=False)
    return (
        cur.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= k)
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    et al. 2007), run for a FIXED number of rounds: every node starts
    as its own label; each round it adopts the label most frequent
    among its neighbors, ties → smallest label. The deterministic
    synchronous variant (no random visit order) — same unrolled-round
    replayability trade as :func:`kcore_peel` and k-means, so the whole
    algorithm oracle-checks round by round.

    Where :func:`connected_components` answers "reachable at all?",
    LPA answers "densely attached where?" — the community granularity
    corpus/graph curation uses for domain clusters and link farms.

    Plan per round: one edge⋈labels join (labels keyed by node — the
    small side under AQE once communities consolidate) + one
    (node, label) count agg + one node-keyed window argmax. All keyed
    shuffles over the edge set; no neighbor arrays, so high-degree
    nodes stay distributed. Lineage checkpoint-truncated every other
    round. Input may be one direction per pair; symmetrized here.
    Returns ``(node, community)``.
    """
    if rounds < 1:
        raise ValueError(f"need rounds >= 1, got {rounds}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    sym = (
        e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # self-loops out (the siblings' convention): a retained (u, u)
        # edge would give u a permanent vote for its own label, letting
        # it resist its neighborhood's majority — not the documented
        # "most frequent among its NEIGHBORS" semantics
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("_n").desc(), F.col("label").asc()
    )
    for r in range(rounds):
        votes = (
            sym.join(
                labels.select(F.col("node").alias("dst"), "label"), "dst"
            )
            .groupBy(F.col("src").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        labels = (
            votes.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
        )
        if r % 2 == 1:
            labels = labels.localCheckpoint(eager=False)
    return labels.select("node", F.col("label").alias("community"))
