"""Streaming token-budget admission control — the continuous face of
``sampling.token_budget_mix``: documents arrive as micro-batches and
each source's admissions stop the moment its token budget fills, so a
training-mix assembly can run concurrently with ingestion instead of
as a stop-the-world batch job at the end.

Each micro-batch runs the SAME two-level histogram cut as the batch
assembler (``sampling.budget_cut``) against the source's REMAINING
budget, so the admitted set is the greedy strict-prefix-<-budget cut
in (epoch, bucket, md5(text), id) order — the batch assembler applied
sequentially per epoch (pinned by a sequential-replay parity test;
like the assembler, the final admitted document of a source may
overshoot, after which its remaining budget floors at 0 and every
later epoch admits nothing for it).

Exactly-once follows the module discipline (rp_stream / dedup_stream /
drift_stream): per epoch, the admitted rows land in their own
``admitted/batch=<id>`` directory with OVERWRITE, and the state
snapshot — per-source tokens admitted SO FAR, a ≤|sources|-row table —
lands in ``state/batch=<id>`` (a plain snapshot chain of
:mod:`.bucketed_state`). A replayed epoch re-reads the PREVIOUS
epoch's snapshot (never its own possibly-crash-torn one) and
overwrites both directories with identical rows. No keyed stream
state: the snapshot is catalog-sized and rebuilt per epoch, so state
never grows with history.

At 100 TB of arrivals the per-epoch cost is the batch assembler's:
one (source, bucket) histogram agg over the BATCH, a catalog-sized
classification window, and a fine window over boundary buckets only;
the state read/write is ≤|sources| rows."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import bucketed_state as bst

_STATE_SCHEMA = "source string, admitted_tokens bigint"


def process_budget_batch(
    batch: DataFrame,
    batch_id: int,
    out_root: str,
    budgets: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 10_000,
) -> None:
    """Admit one micro-batch against the remaining budgets: the batch
    assembler's cut (``sampling.budget_cut``) with
    ``remaining_s = max(budget_s − admitted_so_far_s, 0)``, then
    overwrite this epoch's ``admitted/batch=<id>`` and
    ``state/batch=<id>`` (replay-idempotent). Exposed separately from
    the stream wiring so batch backfills drive the same code path."""
    from ..operators.sampling import budget_cut  # noqa: PLC0415

    spark = batch.sparkSession
    state_root = f"{out_root}/state"
    # the newest snapshot strictly below this epoch: a replayed epoch
    # must never read its own possibly-torn one
    prev = bst.latest_plain_snapshot(
        spark, state_root, int(batch_id), _STATE_SCHEMA
    )
    so_far = (
        {r["source"]: int(r["admitted_tokens"]) for r in prev.collect()}
        if prev is not None
        else {}
    )
    remaining = {
        s: max(b - so_far.get(s, 0), 0) for s, b in budgets.items()
    }
    admitted = budget_cut(
        batch, remaining, source_col, id_col, text_col, num_buckets
    ).persist()
    try:
        admitted.write.mode("overwrite").parquet(
            f"{out_root}/admitted/batch={int(batch_id)}"
        )
        batch_tokens = {
            r[source_col]: int(r["_t"])
            for r in admitted.groupBy(source_col)
            .agg(F.sum("n_tokens").alias("_t"))
            .collect()
        }
    finally:
        admitted.unpersist()
    new_state = [
        (s, so_far.get(s, 0) + batch_tokens.get(s, 0)) for s in sorted(budgets)
    ]
    spark.createDataFrame(new_state, _STATE_SCHEMA).write.mode(
        "overwrite"
    ).parquet(f"{state_root}/batch={int(batch_id)}")


def prune_budget_state(spark, out_root: str, keep_last: int = 2) -> int:
    """Drop all but the ``keep_last`` newest ``state/batch=<id>``
    snapshot dirs (:func:`.bucketed_state.prune_plain_chain`): without
    it a continuous admission stream accumulates one ≤|sources|-row dir
    per micro-batch forever and the ledger lookup's listing grows
    O(epochs). The ``admitted/batch=<id>`` OUTPUT dirs are the
    operator's product, not state, and are never touched.
    SINGLE-WRITER discipline: run between epochs. Returns the number of
    snapshot dirs removed."""
    return bst.prune_plain_chain(spark, f"{out_root}/state", keep_last)


def start_budget_admission(
    stream: DataFrame,
    out_root: str,
    checkpoint: str,
    budgets: dict[str, int],
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 10_000,
    trigger_available_now: bool = True,
):
    """Wire a document stream into admission control: one
    ``process_budget_batch`` per micro-batch. ``availableNow`` drains
    the backlog and stops (backfill shape); False for continuous."""
    writer = (
        stream.writeStream.foreachBatch(
            lambda b, i: process_budget_batch(
                b, i, out_root, budgets,
                source_col, id_col, text_col, num_buckets,
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
