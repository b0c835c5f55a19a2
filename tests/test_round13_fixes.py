"""Round-13 fixes (VERDICT r12 #5/#6 + ADVICE r12): the
negative-samples descending-sequence guard and the narrowed drift
baseline-read retry."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from airflow_subscription_etl_spark.streaming import drift_stream

# ------------------------- negative_samples: descending-sequence guard


def test_negative_samples_rejects_nonpositive_k_and_n_items(spark):
    """r13 review: Spark's sequence(0, k-1) DESCENDS for k <= 0
    ([0, -1] for k=0), so k=0 silently emitted TWO draws per positive
    (draw_idx 0 and -1) instead of zero — now a loud ValueError, the
    binned_interval_join precedent. n_items <= 0 likewise."""
    from airflow_subscription_etl_spark.operators.sampling import (
        negative_samples,
    )

    pos = spark.createDataFrame([(1, 7)], "user_id int, item_id int")
    with pytest.raises(ValueError, match="k must be positive"):
        negative_samples(pos, n_items=10, k=0)
    with pytest.raises(ValueError, match="k must be positive"):
        negative_samples(pos, n_items=10, k=-1)
    with pytest.raises(ValueError, match="n_items must be positive"):
        negative_samples(pos, n_items=0, k=2)
    # the legal shape still emits exactly k rows per positive
    assert negative_samples(pos, n_items=10, k=3).count() == 3


# -------------------------- drift baseline read: narrowed retry (ADVICE)


def test_is_missing_file_error_shapes():
    assert drift_stream._is_missing_file_error(
        AnalysisException("[PATH_NOT_FOUND] Path does not exist: /x")
    )
    assert drift_stream._is_missing_file_error(
        Exception("java.io.FileNotFoundException: File file:/x/part-0")
    )
    assert drift_stream._is_missing_file_error(
        Exception("FILE_NOT_EXIST: rerun the query")
    )
    assert not drift_stream._is_missing_file_error(ValueError("boom"))
    assert not drift_stream._is_missing_file_error(
        Exception("Parquet column cannot be converted: expected INT64")
    )


def test_corrupt_baseline_propagates_original_error(spark, tmp_path):
    """A baseline whose counts are readable but WRONG (schema drift,
    corruption) must raise the original error, not be retried once and
    re-blamed on a rotation race (the old bare-except path)."""
    path = str(tmp_path / "base")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")], "id int, text string"
    )
    drift_stream.write_drift_baseline(docs, path, "text", num_buckets=8)
    # corrupt the counts: cnt becomes a non-numeric string
    spark.createDataFrame(
        [(0, "abc")], "bucket int, cnt string"
    ).write.mode("overwrite").parquet(f"{path}/counts")
    with pytest.raises(ValueError, match="invalid literal"):
        drift_stream._read_baseline(spark, path)


def test_missing_baseline_still_raises_rotation_runtimeerror(
    spark, tmp_path
):
    """File-went-missing shapes keep the retry-then-RuntimeError
    contract: a wholly absent baseline exhausts the re-resolve and
    raises the rotation-shaped error with the cause chained."""
    with pytest.raises(RuntimeError, match="unreadable after retry"):
        drift_stream._read_baseline(spark, str(tmp_path / "nope"))
