"""Round-14 fixes (VERDICT r13 #5 + ADVICE r13): the bucketed-state
same-id replay write-aside (decision: MITIGATE) and the widened
AnalysisException missing-file classifier."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from airflow_subscription_etl_spark.streaming import (
    bucketed_state,
    drift_stream,
    fsio,
)

# -------- bucketed same-id replay: write-aside (VERDICT r13 #5, r14)


def _state(spark, root):
    return {
        r["k"]: r["v"]
        for r in bucketed_state.read_keyed_state(spark, root).collect()
    }


def test_bucketed_replay_write_aside_state_and_layout(spark, tmp_path):
    """A completed same-id replay leaves exactly the first attempt's
    state, the replayed batch dir swapped whole, and no hidden
    .batch=<id>.inprogress aside behind."""
    root = str(tmp_path / "breplay")
    df0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    bucketed_state.upsert_keyed_buckets(df0, root, "k", "v", 0, n_buckets=4)
    df1 = spark.createDataFrame([("b", 5), ("c", 7)], "k string, v long")
    bucketed_state.upsert_keyed_buckets(df1, root, "k", "v", 1, n_buckets=4)
    # the retry: batch=1 already exists → write-aside path
    bucketed_state.upsert_keyed_buckets(df1, root, "k", "v", 1, n_buckets=4)
    assert _state(spark, root) == {"a": 1, "b": 5, "c": 7}
    names = fsio.list_names(spark, root)
    assert not any(".inprogress" in n for n in names)


def test_bucketed_replay_crash_before_rename_is_consistent_and_heals(
    spark, tmp_path
):
    """Crash state: the replay wrote its aside and deleted batch=<id>
    but never renamed. A FRESH reader sees each bucket's previous
    epoch — a consistent OLDER state, never a torn or partial one
    (the batch=(\\d+) fullmatch skips the aside and falls through to
    the next-newest dir) — and the re-delivered replay heals."""
    root = str(tmp_path / "bcrash")
    df0 = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v long")
    bucketed_state.upsert_keyed_buckets(df0, root, "k", "v", 0, n_buckets=4)
    df1 = spark.createDataFrame([("b", 5), ("c", 7)], "k string, v long")
    bucketed_state.upsert_keyed_buckets(df1, root, "k", "v", 1, n_buckets=4)
    # construct the mid-swap crash by hand: aside complete, dest gone
    aside = f"{root}/.batch=1.inprogress"
    bucketed_state.write_buckets(
        bucketed_state.read_keyed_state(spark, root), "k", 4, aside
    )
    fsio.delete(spark, f"{root}/batch=1")
    # fresh external reader: consistent pre-batch-1 state
    assert _state(spark, root) == {"a": 1, "b": 2}
    # epoch-2 reader contract unchanged: before_batch=1 sees epoch 0
    pre = bucketed_state.read_keyed_state(spark, root, before_batch=1)
    assert {r["k"]: r["v"] for r in pre.collect()} == {"a": 1, "b": 2}
    # the stream restarts and re-delivers batch 1: layout heals
    bucketed_state.upsert_keyed_buckets(df1, root, "k", "v", 1, n_buckets=4)
    assert _state(spark, root) == {"a": 1, "b": 5, "c": 7}
    assert not any(
        ".inprogress" in n for n in fsio.list_names(spark, root)
    )


def test_bucketed_prune_gcs_orphaned_aside(spark, tmp_path):
    """prune_bucketed_state runs single-writer between epochs, so any
    .batch=<id>.inprogress it sees is a crashed replay's orphan —
    deleted, while numbered batch dirs and state are untouched."""
    root = str(tmp_path / "bgc")
    df = spark.createDataFrame([("a", 1)], "k string, v long")
    for i in range(3):
        bucketed_state.upsert_keyed_buckets(df, root, "k", "v", i, n_buckets=2)
    orphan = f"{root}/.batch=9.inprogress"
    fsio.mkdirs(spark, orphan)
    before = _state(spark, root)
    bucketed_state.prune_bucketed_state(spark, root, keep_last=2)
    assert not fsio.exists(spark, orphan)
    assert _state(spark, root) == before


# ------------- drift classifier: AnalysisException shapes (ADVICE r13)


@pytest.mark.parametrize(
    ("msg", "expect"),
    [
        ("[PATH_NOT_FOUND] Path does not exist: /x", True),
        (
            "[FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error while "
            "reading file /x. File does not exist.",
            True,
        ),
        (
            "Error: java.io.FileNotFoundException: /x (wrapped)",
            True,
        ),
        ("[UNABLE_TO_INFER_SCHEMA] Unable to infer schema for Parquet", False),
        ("[PARSE_SYNTAX_ERROR] bad things", False),
    ],
)
def test_missing_file_classifier_analysis_exception_shapes(msg, expect):
    """ADVICE r13: an AnalysisException carrying a wrapped
    FileNotFoundException / FILE_NOT_EXIST (newer PySpark's
    [FAILED_READ_FILE] shape) is a rotation-race shape too — only
    genuinely non-missing-file AnalysisExceptions propagate."""
    assert (
        drift_stream._is_missing_file_error(AnalysisException(msg)) is expect
    )


def test_missing_file_classifier_non_analysis_shapes():
    assert drift_stream._is_missing_file_error(
        RuntimeError("java.io.FileNotFoundException: gone")
    )
    assert not drift_stream._is_missing_file_error(RuntimeError("boom"))
