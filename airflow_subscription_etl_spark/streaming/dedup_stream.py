"""Streaming near-dup detection: maintain a MinHash signature index
across micro-batches and emit each batch's new duplicate pairs as it
arrives — the streaming face of
:func:`..operators.dedup.incremental_minhash_pairs`.

An ingestion pipeline curating a growing corpus cannot re-pair the
whole corpus per batch (that is the history×history rescan); it keeps
the signature INDEX as state and runs delta-sided band joins only.
Structured Streaming's file/stateful sinks don't fit (the index is a
keyed snapshot, pairs are an append log), so this composes
``foreachBatch`` with the package's keyed-state store
(:mod:`.bucketed_state`):

- ``index/batch=<id>/bucket=<b>`` — keyed signature snapshot
  (doc_id → minhash), upserted per batch by
  :func:`.bucketed_state.upsert_keyed_buckets`: the index is
  CORPUS-sized (one row per document), so a batch reads and rewrites
  only the key buckets its delta touches — delta-sized IO, not an
  O(corpus) rewrite per micro-batch;
- ``pairs/batch_<id>/`` — this batch's NEW pairs, written with
  overwrite so a foreachBatch REPLAY rewrites the same directory
  (idempotent), never double-appends.

Replay safety of the pair computation itself: if a retry re-delivers
batch N after the index already absorbed it, the delta join sees each
batch doc also on the corpus side — but ``id_d != id_c`` drops
self-pairs and pair normalization dedups the rest, so the emitted set
is IDENTICAL (asserted in tests/test_dedup_stream.py).

At 100 TB a Delta/Iceberg MERGE (or an index pre-bucketed by
(band, bucket) so the per-batch join co-locates —
``write_banded_signature_index``) slots in where even key-bucket
granularity is too coarse; semantics here are exactly what those
physical plans would run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import incremental_minhash_pairs, portable_signatures
from . import bucketed_state, fsio


def _empty_sigs(batch: DataFrame, id_col: str) -> DataFrame:
    # derive the id type from the batch (string/int/bigint keys all
    # valid downstream) — a hardcoded bigint would fail the cold-start
    # unionByName for any non-bigint-keyed stream
    id_type = batch.schema[id_col].dataType.simpleString()
    return batch.sparkSession.createDataFrame(
        [], f"{id_col} {id_type}, minhash array<bigint>"
    )


def process_dedup_batch(
    batch: DataFrame,
    batch_id: int,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> None:
    """One micro-batch: emit new pairs vs the current index, then merge
    the batch's signatures into the index. Exposed separately from the
    stream wiring so batch backfills can drive the same code path."""
    spark = batch.sparkSession
    # snapshots strictly below this batch id: a replayed epoch must
    # never read the index state its own previous run wrote
    index = bucketed_state.read_keyed_state(
        spark, f"{root}/index", int(batch_id)
    )
    corpus_sigs = (
        index.select(id_col, "minhash")
        if index is not None
        else _empty_sigs(batch, id_col)
    )
    # ONE signature pass per batch, cached for its two consumers (the
    # delta join and the index upsert) and RELEASED when the batch
    # completes — without the unpersist, a long-running stream pins one
    # cached frame per micro-batch until LRU thrash
    sigs = portable_signatures(batch, text_col, k_shingle, num_hashes, id_col).persist()
    try:
        pairs = incremental_minhash_pairs(
            corpus_sigs,
            batch,
            text_col,
            k_shingle,
            num_hashes,
            bands,
            threshold,
            id_col,
            delta_sigs=sigs,
        )
        # overwrite (not append): a replayed batch rewrites its own dir
        pairs.write.mode("overwrite").parquet(
            f"{root}/pairs/batch_{batch_id}"
        )
        bucketed_state.upsert_keyed_buckets(
            sigs.withColumn("_b", F.lit(batch_id)),
            f"{root}/index",
            id_col,
            "_b",
            batch_id,
        )
    finally:
        sigs.unpersist()


def start_dedup_index_sink(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    trigger_available_now: bool = True,
):
    """Wire a streaming doc source into the dedup index. Returns the
    StreamingQuery; callers own awaitTermination/stop."""
    fsio.mkdirs(stream.sparkSession, root)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        process_dedup_batch(
            batch,
            batch_id,
            root,
            text_col,
            id_col,
            k_shingle,
            num_hashes,
            bands,
            threshold,
        )

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_all_pairs(spark: SparkSession, root: str) -> DataFrame | None:
    """Union of every batch's emitted pairs (the dedup log)."""
    base = f"{root}/pairs"
    dirs = [
        f"{base}/{d}"
        for d in fsio.list_names(spark, base)
        if d.startswith("batch_")
    ]
    return spark.read.parquet(*dirs) if dirs else None
