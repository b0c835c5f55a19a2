"""Sources & sinks (SURVEY.md §2.1, S1/S2).

The reference's storage is whole-file JSON arrays (`_load_json` /
`_save_json`, subscription_flow.py:27–34). Spark mapping:

- S1 scan: ``spark.read.schema(S).option("multiLine", True).json(path)``
  — the files are JSON *arrays*, not NDJSON, so ``multiLine`` is
  required.
- S2 sink: full overwrite. For catalog-sized tables we keep single-file
  parity: rows come to the driver as Arrow batches from one
  ``coalesce(1)`` partition and are encoded column by column with
  ``pyarrow.compute`` into one JSON array, byte-identical to
  ``json.dump(indent=2)``; the sink returns the fetched
  ``pyarrow.Table``. At scale the same interface writes partitioned
  parquet (the caller picks the format).

Parquet is the scale path: columnar, splittable, predicate-pushdown-
and column-pruning-friendly — ``.explain`` on any filtered scan shows
``PushedFilters`` / pruned ``ReadSchema``.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schemas import PLANS_SCHEMA, USER_SUBSCRIPTIONS_SCHEMA


def read_json_table(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """S1: JSON-array file → DataFrame (subscription_flow.py:27–29)."""
    return spark.read.schema(schema).option("multiLine", True).json(path)


def read_plans(spark: SparkSession, path: str) -> DataFrame:
    return read_json_table(spark, path, PLANS_SCHEMA)


def read_user_subscriptions(spark: SparkSession, path: str) -> DataFrame:
    return read_json_table(spark, path, USER_SUBSCRIPTIONS_SCHEMA)


#: write_json_table refuses tables beyond this many rows — the sink
#: materializes on the driver BY DESIGN (reference byte-parity for
#: catalog-sized JSON files) and must never be pointed at a fact table.
JSON_SINK_MAX_ROWS = 100_000


#: Column types the JSON sink writes: the flat scalars the reference's
#: files hold. Arrow renders nested, temporal and decimal values
#: differently from Spark Rows (or ``json`` cannot encode them at all),
#: so anything else is refused before a job runs.
_JSON_SINK_TYPES = (
    T.BooleanType,
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
)

#: Characters ``json.dumps`` escapes under ``ensure_ascii``: anything
#: outside printable ASCII (control characters, DEL, non-ASCII) plus
#: ``"`` and ``\\``. A string column with none of them is quoted as is.
_JSON_ESCAPE_RE = r'[^ -~]|["\\]'

#: Between two ``"key": value`` fields of one ``indent=2`` record.
_FIELD_SEP = ",\n    "


def _json_values(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """Each value's JSON text, NULL where the value is NULL.

    Integer and boolean columns cast to string, and a string column
    with nothing to escape is wrapped in quotes, all in Arrow. Float
    columns and string columns that need escaping fall back to
    per-value ``json.dumps``: Arrow prints ``29``, ``0.00001`` and
    ``-0`` where Python prints ``29.0``, ``1e-05`` and ``-0.0``.
    """
    t = col.type
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        return pc.cast(col, pa.string())
    if pa.types.is_string(t) and not pc.any(
        pc.match_substring_regex(col, _JSON_ESCAPE_RE)
    ).as_py():
        return pc.binary_join_element_wise('"', col, '"', "")
    return pa.chunked_array(
        [[None if v is None else json.dumps(v) for v in col.to_pylist()]],
        pa.string(),
    )


def _json_array_bytes(table: pa.Table) -> bytes:
    """``json.dumps(records, indent=2)`` for a flat table, byte for
    byte, where each record drops its NULL fields.

    Each field becomes a ``sep + "key": value`` fragment that is NULL
    where the value is. The fragments join with NULLs replaced by the
    empty string (never skipped, see :func:`write_json_table`), then
    the leading separator is sliced off.
    """
    if table.num_rows == 0:
        return b"[]"
    fragments = [
        pc.binary_join_element_wise(
            _FIELD_SEP + json.dumps(name) + ": ", _json_values(col), ""
        )
        for name, col in zip(table.column_names, table.columns)
    ]
    body = pc.utf8_slice_codeunits(
        pc.binary_join_element_wise(
            *fragments, "", null_handling="replace", null_replacement=""
        ),
        start=len(_FIELD_SEP),
    )
    records = pc.if_else(
        pc.equal(body, ""),
        "  {}",
        pc.binary_join_element_wise("  {\n    ", body, "\n  }", ""),
    ).combine_chunks()
    whole = pa.ListArray.from_arrays(
        pa.array([0, len(records)], pa.int32()), records
    )
    text = pc.binary_join(whole, ",\n")[0].as_buffer().to_pybytes()
    return b"[\n" + text + b"\n]"


def write_json_table(
    df: DataFrame, path: str, max_rows: int = JSON_SINK_MAX_ROWS
) -> pa.Table:
    """S2: full-file overwrite sink (subscription_flow.py:32–34).

    The reference overwrites one JSON-array file in place. Spark's JSON
    writer emits an NDJSON *directory*, and we must not read-and-write
    the same path in one plan (self-overwrite reads zero rows). So:
    collect the (catalog-sized, ≤ thousands of rows by construction)
    table to the driver and atomically replace the file — single-writer
    discipline, documented in SURVEY.md §7.4.1. Tables at 100 TB scale
    use :func:`write_parquet_table` instead; this sink exists for
    byte-parity with the reference's storage format.

    The rows reach the driver as Arrow batches from one ``coalesce(1)``
    partition (so the limit needs no shuffle, and rows keep partition
    order). The file is byte-identical to ``json.dump(rows, indent=2)``
    but is encoded column by column with ``pyarrow.compute``: integer,
    boolean and escape-free string columns run no Python per row. Float
    and double columns, and any string column holding a character
    ``json`` escapes, fall back to per-value ``json.dumps`` for that
    column only. The records are joined with NULLs replaced, never
    skipped: pyarrow's ``null_handling="skip"`` drops rows that are NULL
    in every input, which would lose each all-NULL record.

    Only boolean, integral, float/double and string columns are
    accepted; any other column raises ``ValueError`` naming it, before
    any Spark job runs.

    Null fields are dropped per record, matching the ragged
    ``payment_status`` column of the reference (seed rows lack the key
    entirely; subscription_flow.py:222 adds it on new rows).

    Returns the fetched ``pyarrow.Table``. Callers MUST derive any
    post-write results from this return value, not from DataFrames built
    over the old file: Spark plans are lazy and re-read the (now
    mutated) source on every later action — the read-overwrite-reread
    trap.

    Raises ``ValueError`` if the table exceeds ``max_rows``: one
    ``limit(max_rows+1)`` fetch both collects the rows and bounds the
    driver at one row past the guard. This sink is driver-materializing
    by design and the guard keeps it from being silently pointed at a
    fact table. Use :func:`write_parquet_table` for anything big.
    """
    for field in df.schema.fields:
        if not isinstance(field.dataType, _JSON_SINK_TYPES):
            raise ValueError(
                f"write_json_table cannot write column {field.name!r} of type "
                f"{field.dataType.simpleString()}; it takes boolean, integral, "
                f"float/double and string columns"
            )
    table = df.coalesce(1).limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        raise ValueError(
            f"write_json_table is a driver-materializing catalog sink; "
            f"table has > {max_rows} rows — use write_parquet_table"
        )
    d = os.path.dirname(os.path.abspath(path)) or "."
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".json.tmp")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(_json_array_bytes(table))
        shutil.move(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return table


def write_parquet_table(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Scale-path sink: partitioned parquet, overwrite."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def ensure_query_confs(spark: SparkSession) -> None:
    """Pin the semantic SQL confs every query depends on, on THE PASSED
    session — never assume :func:`..session.get_spark` built it.  The
    correctness driver runs queries under its own default-config
    SparkSession; both confs below are runtime-settable, so setting them
    here (the chokepoint every query reads through) makes the whole
    query surface session-proof:

    - ``nanosAsLong``: events.parquet stores TIMESTAMP(NANOS), which
      Spark's vectorized reader otherwise rejects (PARQUET_TYPE_ILLEGAL).
    - ``timeZone=UTC``: timestamp rendering (``date_format``) must agree
      with the DuckDB oracle regardless of host timezone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def read_star_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata table (TESTDATA.md).

    ``events.ts`` has been observed in two physical encodings across
    driver testdata generations: parquet TIMESTAMP(NANOS) (reads as a
    nanos-since-epoch long under ``nanosAsLong``) and TIMESTAMP(MICROS,
    isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ).  Normalize both to
    a session-TZ TIMESTAMP here so every downstream consumer
    (``unix_micros``, range frames, window()) sees one stable type
    regardless of which generation of testdata — or whose SparkSession —
    is in play.  With the UTC session timezone pinned above, the
    NTZ→TZ cast is an identity reinterpretation of the instant.
    """
    from pyspark.sql import functions as F

    ensure_query_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # integer `div` (not `/`): float division of an int64 epoch-nanos
            # loses precision past 2^53 and can shift the microsecond value
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def read_csv_table(
    spark: SparkSession, path: str, schema: T.StructType, header: bool = True
) -> DataFrame:
    """CSV source with a PINNED schema — never ``inferSchema`` (a full
    extra pass over 100 TB just to guess types)."""
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("mode", "FAILFAST")
        .csv(path)
    )


def write_csv_table(df: DataFrame, path: str, header: bool = True) -> None:
    """CSV sink (directory of part files; splittable on read)."""
    df.write.mode("overwrite").option("header", header).csv(path)


def read_ndjson_table(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """NDJSON (one object per line) source — unlike the reference's
    JSON-array files this is splittable, so a single huge file still
    parallelizes across the cluster. Schema pinned for the same
    no-inference-pass reason as CSV."""
    return spark.read.schema(schema).json(path)


def write_ndjson_table(df: DataFrame, path: str) -> None:
    """NDJSON sink: Spark's native JSON writer (one object per line,
    one file per partition) — the scale-path JSON format."""
    df.write.mode("overwrite").json(path)


def compact_parquet(
    spark: SparkSession, path: str, target_files: int
) -> int:
    """Compact a parquet directory to ``target_files`` files — the
    small-files maintenance op every long-running ingest needs (a 100 TB
    table fed by streaming micro-batches accretes millions of tiny
    files; NameNode/liststatus and task-scheduling costs scale with
    file COUNT, not bytes).

    Rewrites to a sibling temp dir then swaps via two renames through
    the Hadoop FileSystem API (:mod:`..streaming.fsio` — r10, so the
    swap works on whatever filesystem ``path`` names, not just POSIX).
    NOT fully atomic: there is a window between the renames where
    ``path`` does not exist, and a crash inside it strands the live
    data in ``.compact.old`` — RECOVERED on the next call (the
    drift-rotation convention: if ``path`` is missing but the old dir
    exists, it is restored before any cleanup; a half-written
    ``.compact.tmp`` is always safe to discard). On object stores the
    renames are copy+delete — correct by the same invariant, just not
    instantaneous; a zero-downtime swap needs the pointer-file pattern
    of :mod:`..streaming.sinks`. ``coalesce`` (not ``repartition``)
    avoids a shuffle — merging files is a narrow dependency. Returns
    the file count after compaction.
    """
    from ..streaming import fsio  # noqa: PLC0415

    tmp = path.rstrip("/") + ".compact.tmp"
    old = path.rstrip("/") + ".compact.old"
    # crash recovery BEFORE cleanup: between the two renames the live
    # data sits in .compact.old — restore it rather than deleting it
    if not fsio.is_dir(spark, path) and fsio.is_dir(spark, old):
        fsio.rename(spark, old, path)
    fsio.delete(spark, old)
    fsio.delete(spark, tmp)
    df = spark.read.parquet(path)
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    fsio.rename(spark, path, old)
    fsio.rename(spark, tmp, path)
    fsio.delete(spark, old)
    return len(
        [n for n in fsio.list_names(spark, path) if n.endswith(".parquet")]
    )


def read_orc_table(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC source — the other columnar format with predicate pushdown,
    column pruning, and stripe-level min/max skipping (parity matters
    for warehouses that standardized on ORC/Hive). Schema optional:
    ORC files carry their schema, so no inference pass happens either
    way; pass one to FAIL FAST on drift instead of at first action."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)


def write_orc_table(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """ORC sink (snappy, overwrite), optionally hive-partitioned."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_ndjson_relaxed(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """PERMISSIVE NDJSON source: malformed lines land in a
    ``_corrupt_record`` column instead of failing the job — the
    real-world web-crawl ingestion posture where one broken line in
    100 TB must not kill the pipeline (contrast ``read_ndjson_table``,
    which is strict-by-schema, and CSV's FAILFAST).

    Callers split the frame on ``_corrupt_record IS NULL``: clean rows
    continue, corrupt ones go to a quarantine sink with full fidelity
    (the raw line is preserved verbatim for replay after a parser fix).
    """
    s = T.StructType(
        [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
    )
    return (
        spark.read.schema(s)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
