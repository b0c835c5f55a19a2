"""SparkSession factory.

One place to pin the engine posture we want everywhere (tests, bench,
driver entry): AQE on, sensible shuffle parallelism for the local
harness, UTC session timezone (so timestamp semantics agree with the
DuckDB oracle), and Arrow for any pandas interchange.

At 100 TB these settings still hold conceptually — AQE coalesces and
re-plans shuffles at runtime, skew-join handling is on, and broadcast
thresholds let catalog-sized dims avoid shuffles entirely — only the
static ``shuffle.partitions`` default would be raised (or left to AQE)
on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "airflow-subscription-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the configured SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract);
    defaults to ``local[*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Runtime re-planning: partition coalescing, skew-join splitting,
        # dynamic broadcast selection. Core of the 100 TB posture.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamp semantics (parquet instants render the
        # same here and in the DuckDB oracle).
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as nanos-since-epoch long and convert at the
        # source (sources.io.read_star_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow-backed pandas interchange for the UDF-based operators.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Catalog-sized dims (plans analog: region/nation/supplier) stay
        # under this; fact joins fall through to sort-merge/shuffled-hash.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame debugging wraps every `F.col` and Column
        # method to record its Python call site: a stack walk and extra
        # py4j round trips per call. Building the lifecycle's
        # latest-active lookup took 34 ms with it and 21 ms without
        # (4-core host, median of 50). Off, an analysis or runtime
        # error's query context no longer names the Python line that
        # built the failing expression; the error class and message are
        # unchanged. The conf is static and PySpark reads it once per
        # process, at the first Column call, so to debug, start the
        # process with
        # extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
