"""Streaming cross-source duplication matrix: maintain
:func:`..operators.dedup.cross_source_duplication`'s which-crawl-
duplicates-which accounting INCREMENTALLY as crawls land — the stream
face of ``source_dup_matrix``, completing the batch/stream symmetry
the span dedup (:mod:`.span_stream`), MinHash index, RP index, drift
monitor and budget controller already have.

A curation team deciding whether a newly-landed crawl is worth mixing
in cannot re-chunk the whole corpus per delivery (that is the history
rescan); it keeps the distinct ``(chunk_digest, source)`` catalog as
bucketed state and folds in only the delta:

- ``matrix/batch=<id>`` — the CURRENT full matrix after this epoch,
  in exactly the batch operator's shape ``(source_a, source_b,
  shared_chunks, n_chunks_a, n_chunks_b, containment_a_micro,
  containment_b_micro)``. Catalog²-bounded, so a full rewrite per
  epoch is the right trade. OVERWRITE → replay rewrites identical
  rows.
- ``state/batch=<id>/bucket=<b>`` — the distinct (digest, source)
  catalog, digest-bucketed via :mod:`.bucketed_state`: an epoch reads
  and rewrites ONLY the buckets its delta touches (delta-sized IO,
  never an O(corpus) catalog rewrite).
- ``pairs/batch=<id>`` / ``totals/batch=<id>`` — the running pair
  counts and per-source distinct-chunk totals (both catalog-bounded;
  plain newest-below-epoch snapshots).

**Increment algebra** (what makes this exact, not approximate): a
digest contributes 1 to pair (s, t) exactly once — at the epoch where
the SECOND of the two (digest, source) memberships arrives. Per epoch
the genuinely-new memberships ``new_ds = delta distinct (digest,
source) ∖ state`` split each digest's contribution into
``new × prior`` cross pairs plus ``C(|new|, 2)`` within-epoch pairs —
both exploded MAP-SIDE from catalog-bounded source sets, the batch
operator's own discipline (never a corpus self-join). Because sets
are order-free, the matrix after epoch k equals the BATCH operator on
the union of epochs 0..k for ANY split of documents into epochs
(pinned by test) — strictly stronger than the span stream's in-order
guarantee. Each document must be delivered once; replays of one epoch
are safe (every state family derives from snapshots strictly below
the epoch id — the budget_stream torn-snapshot discipline).

At 100 TB: per-epoch cost is the delta's chunking + one digest-keyed
anti-join against the TOUCHED state buckets + a semi-join pulling
prior source-sets for ONLY the delta's digests; matrix/totals/pairs
are |sources|²-bounded. :func:`prune_source_matrix_state` bounds the
directory counts."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import bucketed_state as bst

N_STATE_BUCKETS = bst.DEFAULT_BUCKETS

_DS_SCHEMA = "digest string, source string"
_TOTALS_SCHEMA = "source string, n_chunks bigint"
_PAIRS_SCHEMA = "source_a string, source_b string, shared_chunks bigint"


def _pair_increments(new_ds: DataFrame, prior_ds: DataFrame) -> DataFrame:
    """(source_a, source_b, inc) for this epoch: per digest, cross
    pairs (new × prior) + ordered pairs within the new set, exploded
    map-side from catalog-bounded source arrays. ``new_ds`` and
    ``prior_ds`` are disjoint in (digest, source) by construction, so
    nothing double-counts."""
    new_sets = new_ds.groupBy("digest").agg(
        F.array_sort(F.collect_set("source")).alias("ns")
    )
    prior_sets = (
        prior_ds.join(new_ds.select("digest").distinct(), "digest", "semi")
        .groupBy("digest")
        .agg(F.collect_set("source").alias("ps"))
    )
    joined = new_sets.join(prior_sets, "digest", "left")
    within = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("ns") - 2),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("ns") - 1),
                lambda j: F.struct(
                    F.col("ns")[i].alias("source_a"),
                    F.col("ns")[j].alias("source_b"),
                ),
            ),
        )
    )
    cross = F.flatten(
        F.transform(
            F.col("ns"),
            lambda n: F.transform(
                F.col("ps"),
                lambda p: F.struct(
                    F.least(n, p).alias("source_a"),
                    F.greatest(n, p).alias("source_b"),
                ),
            ),
        )
    )
    # filter-then-explode (the batch operator's own pattern) keeps the
    # ragged cases well-typed: a 1-element ns has no within pairs (and
    # sequence(0,-1) would run DESCENDING, not empty); a digest with no
    # prior sources has a NULL ps after the left join
    within_pairs = joined.filter(F.size("ns") >= 2).select(
        F.explode(within).alias("p")
    )
    cross_pairs = joined.filter(F.size("ps") >= 1).select(
        F.explode(cross).alias("p")
    )
    return (
        within_pairs.unionByName(cross_pairs)
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("inc"))
    )


def process_source_matrix_batch(
    batch: DataFrame,
    batch_id: int,
    out_root: str,
    span: int = 8,
    source_col: str = "source",
    text_col: str = "text",
    n_buckets: int = N_STATE_BUCKETS,
) -> None:
    """Fold one micro-batch of documents into the running matrix and
    advance the (digest, source) catalog. Exposed separately from the
    stream wiring so batch backfills drive the same code path (the
    module convention). NULL source/text rows are excluded — the
    batch operator's contract, inherited from the shared chunker."""
    from ..operators.dedup import _chunk_frame  # noqa: PLC0415

    spark = batch.sparkSession
    state_root = f"{out_root}/state"
    bst.check_meta(spark, state_root, n_buckets)

    # the SHARED chunker — stream/batch matrix parity hinges on
    # identical segmentation. PERSISTED for the epoch (r12 review):
    # the touched-buckets collect plus the pairs/totals/state writes
    # each re-ran the chunk+distinct lineage from scratch otherwise.
    delta_ds = (
        _chunk_frame(batch, span, source_col, text_col)
        .select(
            F.col("chunk_digest").alias("digest"),
            F.col(source_col).alias("source"),
        )
        .distinct()
        .persist()
    )
    try:
        _matrix_epoch(
            spark, delta_ds, out_root, state_root, batch_id, n_buckets
        )
    finally:
        delta_ds.unpersist()


def _matrix_epoch(
    spark,
    delta_ds: DataFrame,
    out_root: str,
    state_root: str,
    batch_id: int,
    n_buckets: int,
) -> None:
    """One epoch's matrix fold over the PERSISTED delta (split out so
    the persist/unpersist bracket in
    :func:`process_source_matrix_batch` wraps every action)."""
    snaps = bst.bucket_snapshots(spark, state_root, int(batch_id), n_buckets)
    if snaps:
        touched = {
            r["b"]
            for r in delta_ds.select(
                bst.bucket_expr("digest", n_buckets).alias("b")
            )
            .distinct()
            .collect()
        }
        prior_ds = bst.read_buckets(spark, snaps, _DS_SCHEMA, touched)
    else:
        prior_ds = None
    if prior_ds is None:
        prior_ds = spark.createDataFrame([], _DS_SCHEMA)

    # memberships genuinely new to history — the only rows that can
    # move any count. PERSISTED: three writers consume it (pairs inc,
    # per-source counts, the state union), each of which would re-run
    # the anti-join against the touched buckets otherwise.
    new_ds = delta_ds.join(
        prior_ds, ["digest", "source"], "left_anti"
    ).persist()

    inc = _pair_increments(new_ds, prior_ds)
    prior_pairs = bst.latest_plain_snapshot(
        spark, f"{out_root}/pairs", int(batch_id), _PAIRS_SCHEMA
    )
    if prior_pairs is None:
        prior_pairs = spark.createDataFrame([], _PAIRS_SCHEMA)
    pairs = (
        prior_pairs.join(inc, ["source_a", "source_b"], "full")
        .select(
            "source_a",
            "source_b",
            (
                F.coalesce(F.col("shared_chunks"), F.lit(0))
                + F.coalesce(F.col("inc"), F.lit(0))
            ).alias("shared_chunks"),
        )
    )

    new_counts = new_ds.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("_nc")
    )
    prior_totals = bst.latest_plain_snapshot(
        spark, f"{out_root}/totals", int(batch_id), _TOTALS_SCHEMA
    )
    if prior_totals is None:
        prior_totals = spark.createDataFrame([], _TOTALS_SCHEMA)
    totals = (
        prior_totals.join(new_counts, "source", "full")
        .select(
            "source",
            (
                F.coalesce(F.col("n_chunks"), F.lit(0))
                + F.coalesce(F.col("_nc"), F.lit(0))
            ).alias("n_chunks"),
        )
    )

    # materialize the side state FIRST (small frames), then derive the
    # matrix from the written snapshots so the three artifacts of one
    # epoch can never disagree under lazy re-evaluation
    try:
        pairs.coalesce(1).write.mode("overwrite").parquet(
            f"{out_root}/pairs/batch={int(batch_id)}"
        )
        totals.coalesce(1).write.mode("overwrite").parquet(
            f"{out_root}/totals/batch={int(batch_id)}"
        )
        state_union = prior_ds.unionByName(new_ds)
        bst.write_buckets(
            state_union,
            "digest",
            n_buckets,
            f"{state_root}/batch={int(batch_id)}",
        )
    finally:
        new_ds.unpersist()

    pairs_w = spark.read.schema(_PAIRS_SCHEMA).parquet(
        f"{out_root}/pairs/batch={int(batch_id)}"
    )
    totals_w = spark.read.schema(_TOTALS_SCHEMA).parquet(
        f"{out_root}/totals/batch={int(batch_id)}"
    )
    ta = totals_w.select(
        F.col("source").alias("source_a"),
        F.col("n_chunks").alias("n_chunks_a"),
    )
    tb = totals_w.select(
        F.col("source").alias("source_b"),
        F.col("n_chunks").alias("n_chunks_b"),
    )
    matrix = (
        pairs_w.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_chunks",
            "n_chunks_a",
            "n_chunks_b",
            # exact integer `div` — bit-identical to the batch operator
            F.expr("(shared_chunks * 1000000) div n_chunks_a").alias(
                "containment_a_micro"
            ),
            F.expr("(shared_chunks * 1000000) div n_chunks_b").alias(
                "containment_b_micro"
            ),
        )
    )
    matrix.coalesce(1).write.mode("overwrite").parquet(
        f"{out_root}/matrix/batch={int(batch_id)}"
    )


def start_source_matrix_stream(
    stream: DataFrame,
    out_root: str,
    checkpoint: str,
    span: int = 8,
    source_col: str = "source",
    text_col: str = "text",
    trigger_available_now: bool = True,
    n_buckets: int = N_STATE_BUCKETS,
):
    """Wire a document stream into incremental matrix maintenance: one
    ``process_source_matrix_batch`` per micro-batch. ``availableNow``
    drains the backlog and stops (backfill shape); False for
    continuous."""
    writer = (
        stream.writeStream.foreachBatch(
            lambda b, i: process_source_matrix_batch(
                b, i, out_root, span, source_col, text_col, n_buckets
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def prune_source_matrix_state(spark, out_root: str, keep_last: int = 2) -> int:
    """Bounded-directory maintenance: bucketed (digest, source) state
    via :func:`bucketed_state.prune_bucketed_state`, plus keep-last
    pruning of the plain pairs/totals/matrix snapshot chains. Returns
    total dirs removed. SINGLE-WRITER discipline: run between epochs."""
    removed = bst.prune_bucketed_state(spark, f"{out_root}/state", keep_last)
    for family in ("pairs", "totals", "matrix"):
        removed += bst.prune_plain_chain(spark, f"{out_root}/{family}", keep_last)
    return removed
