"""sources.io JSON source and sink: size guard, byte parity with
``json.dumps(indent=2)``, row order, type contract, the columnar
encoder's parity on random Arrow tables and on chains of versions it
re-encodes in part, and the file-version snapshots the source and sink
share. The parquet star-table source: footer-derived schemas that
match Spark's inference, no job to open a table, both ``events.ts``
encodings, and the refusal of unmapped column types."""

from __future__ import annotations

import datetime
import glob
import json
import math
import os
import struct
from io import BytesIO

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from airflow_subscription_etl_spark.sources.io import (
    _footer_schema,
    _json_join,
    _json_records,
    _json_records_since,
    _Snapshot,
    ensure_query_confs,
    read_star_table,
)

SF = "/root/testdata/sf0.001"
STAR_TABLES = sorted(
    os.path.basename(p)[: -len(".parquet")] for p in glob.glob(f"{SF}/*.parquet")
)


def _joined(records: pa.Array) -> bytes:
    buf = BytesIO()
    _json_join(records, buf)
    return buf.getvalue()


def _expected_bytes(table: pa.Table) -> bytes:
    records = [
        {k: v for k, v in r.items() if v is not None} for r in table.to_pylist()
    ]
    return json.dumps(records, indent=2).encode()


def test_write_json_table_guards_big_tables(spark, tmp_path):
    from airflow_subscription_etl_spark.sources.io import write_json_table

    big = spark.range(50).selectExpr("id", "id * 2 AS v")
    with pytest.raises(ValueError, match="driver-materializing"):
        write_json_table(big, str(tmp_path / "t.json"), max_rows=10)
    # at-the-bound passes and round-trips
    small = spark.range(10).selectExpr("id", "id * 2 AS v")
    rows = write_json_table(small, str(tmp_path / "s.json"), max_rows=10)
    assert len(rows) == 10


def test_write_json_table_matches_json_dumps_indent2(spark, tmp_path):
    """The file is byte-identical to ``json.dumps(rows, indent=2)``:
    ints, doubles, booleans, dropped NULLs, non-ASCII and escaped text."""
    from airflow_subscription_etl_spark.sources.io import write_json_table

    tricky = 'say "hi"\\ back\nslash,"end'
    df = spark.createDataFrame(
        [
            (1, 29.0, None, "Zoë – 東京", True),
            (2, 0.1, 1 << 40, tricky, False),
            (None, None, None, None, None),
        ],
        "id int, price double, big long, name string, ok boolean",
    )
    expected = [
        {"id": 1, "price": 29.0, "name": "Zoë – 東京", "ok": True},
        {"id": 2, "price": 0.1, "big": 1 << 40, "name": tricky, "ok": False},
        {},
    ]
    path = tmp_path / "t.json"
    table = write_json_table(df, str(path))
    assert [
        {k: v for k, v in r.items() if v is not None} for r in table.to_pylist()
    ] == expected
    assert path.read_bytes() == json.dumps(expected, indent=2).encode()

    assert write_json_table(df.limit(0), str(path)).num_rows == 0
    assert path.read_bytes() == b"[]"


def test_write_json_table_keeps_partition_order(spark, tmp_path):
    from pyspark.sql import types as T

    from airflow_subscription_etl_spark.sources.io import (
        read_json_table,
        write_json_table,
    )

    schema = T.StructType([T.StructField("id", T.LongType())])
    parts = []
    for name, ids in (("a", [5, 4, 3]), ("b", [20, 1, 17])):
        path = tmp_path / f"{name}.json"
        path.write_text(json.dumps([{"id": i} for i in ids]))
        parts.append(read_json_table(spark, str(path), schema))
    both = parts[0].unionByName(parts[1])
    assert both.rdd.getNumPartitions() == 2
    rows = write_json_table(both, str(tmp_path / "t.json"))
    assert rows.column("id").to_pylist() == [5, 4, 3, 20, 1, 17]


def test_write_json_table_orders_cached_partition_after_file_scan(spark, tmp_path):
    """``coalesce(1)`` starts its partition with the first input
    partition that has a preferred location, and a cached one has one
    where a local file scan has none: the sink must still write the
    file-scan rows first and the appended row last."""
    from pyspark.sql import types as T

    from airflow_subscription_etl_spark.sources.io import write_json_table

    schema = T.StructType([T.StructField("id", T.LongType())])
    path = tmp_path / "a.json"
    path.write_text(json.dumps([{"id": i} for i in (5, 4, 3)]))
    scan = spark.read.schema(schema).option("multiLine", True).json(str(path))
    cached = spark.createDataFrame([(99,)], schema).coalesce(1).cache()
    try:
        cached.count()
        both = scan.unionByName(cached)
        assert both.rdd.getNumPartitions() == 2
        out = tmp_path / "t.json"
        rows = write_json_table(both, str(out))
    finally:
        cached.unpersist()
    assert rows.column("id").to_pylist() == [5, 4, 3, 99]
    assert [r["id"] for r in json.loads(out.read_text())] == [5, 4, 3, 99]


def test_write_json_table_rejects_nested_columns_before_any_job(
    spark, tmp_path, count_jobs
):
    from airflow_subscription_etl_spark.sources.io import write_json_table

    df = spark.createDataFrame([(1, (2, "x"))], "id int, s struct<a:int,b:string>")

    def write():
        with pytest.raises(ValueError, match="column 's' of type struct"):
            write_json_table(df, str(tmp_path / "t.json"))

    assert count_jobs(write)[1] == 0
    assert not (tmp_path / "t.json").exists()


def test_write_json_table_keeps_all_null_rows(spark, tmp_path):
    """All-NULL rows at the start, middle and end each become ``{}`` and
    read back as rows: a join that skips NULLs would drop them."""
    from airflow_subscription_etl_spark.sources.io import (
        read_json_table,
        write_json_table,
    )

    df = spark.createDataFrame(
        [
            (None, None, None),
            (1, "a", True),
            (None, None, None),
            (None, "b", None),
            (None, None, None),
        ],
        "id long, name string, ok boolean",
    )
    path = tmp_path / "t.json"
    write_json_table(df, str(path))
    expected = [{}, {"id": 1, "name": "a", "ok": True}, {}, {"name": "b"}, {}]
    assert path.read_bytes() == json.dumps(expected, indent=2).encode()
    back = read_json_table(spark, str(path), df.schema).collect()
    assert [tuple(r) for r in back] == [tuple(r) for r in df.collect()]


def _ids_schema(nullable=True):
    from pyspark.sql import types as T

    return T.StructType([T.StructField("id", T.LongType(), nullable)])


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _snapshot_read(spark, path):
    """Read ``path`` twice, as a process serving many intents does: the
    second read is the one that makes the path's snapshot."""
    from airflow_subscription_etl_spark.sources.io import read_json_table

    read_json_table(spark, str(path), _ids_schema())
    return read_json_table(spark, str(path), _ids_schema())


def _cached_rdds(spark) -> set[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}


def _rdd_id(df) -> int:
    return df._jdf.queryExecution().logical().rdd().id()


def test_one_read_per_path_checkpoints_nothing(spark, tmp_path):
    """A one-intent process reads each path once: that read is a plain
    file scan, and the sink registers and caches no snapshot for it."""
    from airflow_subscription_etl_spark.sources.io import (
        _SNAPSHOTS,
        read_json_table,
        write_json_table,
    )

    path = tmp_path / "t.json"
    path.write_text(json.dumps([{"id": 1}, {"id": 2}]))
    before = _cached_rdds(spark)
    subs = read_json_table(spark, str(path), _ids_schema())
    assert "FileScan json" in _plan(subs)
    rows = write_json_table(subs.unionByName(spark.range(3, 4)), str(path))
    assert rows.column("id").to_pylist() == [1, 2, 3]
    assert str(path) not in _SNAPSHOTS
    assert _cached_rdds(spark) == before


def test_read_after_write_is_a_snapshot_hit(spark, tmp_path, plan_log):
    """Once a path has a snapshot, a read of the version the sink just
    wrote parses no JSON: its plan scans the snapshot's RDD, and no
    execution has a JSON scan."""
    from airflow_subscription_etl_spark.sources.io import (
        read_json_table,
        write_json_table,
    )

    path = str(tmp_path / "t.json")
    write_json_table(spark.range(2), path)
    _snapshot_read(spark, path)
    write_json_table(spark.range(4), path)
    plan_log.mark()
    df = read_json_table(spark, path, _ids_schema())
    assert "Scan ExistingRDD" in _plan(df) and "FileScan" not in _plan(df)
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 3]
    assert read_json_table(spark, path, _ids_schema()) is df
    assert plan_log.json_parses() == 0, plan_log.plans()


def test_snapshot_reports_the_file_scan_schema(spark, tmp_path):
    """A hit returns the schema a file scan would: every field nullable,
    whatever the writer's or the reader's nullability."""
    from airflow_subscription_etl_spark.sources.io import (
        read_json_table,
        write_json_table,
    )

    path = str(tmp_path / "t.json")
    write_json_table(spark.range(2), path)
    _snapshot_read(spark, path)
    written = write_json_table(spark.range(3), path)
    assert written.schema.field("id").nullable
    scan = spark.read.schema(_ids_schema(False)).option("multiLine", True).json(path)
    assert scan.schema == _ids_schema()
    for schema in (_ids_schema(False), _ids_schema()):
        df = read_json_table(spark, path, schema)
        assert "Scan ExistingRDD" in _plan(df)
        assert df.schema == scan.schema
        assert [r.id for r in df.collect()] == [0, 1, 2]


def test_external_rewrite_is_seen_on_next_read(spark, tmp_path):
    """An in-place ``json.dump`` by another writer changes the file's
    size and mtime: the next read parses the new version."""
    from airflow_subscription_etl_spark.sources.io import read_json_table

    path = tmp_path / "t.json"
    path.write_text(json.dumps([{"id": 1}]))
    first = _snapshot_read(spark, path)
    assert "Scan ExistingRDD" in _plan(first)
    assert [r.id for r in first.collect()] == [1]
    with open(path, "w") as f:  # same inode, new size
        json.dump([{"id": 10}, {"id": 20}], f)
    again = read_json_table(spark, str(path), _ids_schema())
    assert again is not first
    assert [r.id for r in again.collect()] == [10, 20]


def test_other_session_or_schema_reads_afresh(spark, tmp_path, plan_log):
    """A snapshot serves only its own session and field types: another
    session or schema parses the file again, and the frames already
    built on the same version keep working."""
    from pyspark.sql import types as T

    from airflow_subscription_etl_spark.sources.io import (
        read_json_table,
        write_json_table,
    )

    path = str(tmp_path / "t.json")
    write_json_table(spark.range(3), path)
    mine = _snapshot_read(spark, path)
    assert [r.id for r in mine.collect()] == [0, 1, 2]
    plan_log.mark()
    theirs = read_json_table(spark.newSession(), path, _ids_schema())
    assert [r.id for r in theirs.collect()] == [0, 1, 2]
    assert plan_log.json_parses() == 1, plan_log.plans()
    as_text = read_json_table(
        spark, path, T.StructType([T.StructField("id", T.StringType())])
    )
    assert [r.id for r in as_text.collect()] == ["0", "1", "2"]
    assert plan_log.json_parses() == 2, plan_log.plans()
    assert [r.id for r in mine.collect()] == [0, 1, 2]
    assert plan_log.json_parses() == 2, plan_log.plans()


def test_each_path_keeps_one_checkpointed_rdd(spark, tmp_path):
    """Every write releases the snapshot it supersedes: after N writes
    the path holds one checkpointed RDD, the latest version's."""
    from airflow_subscription_etl_spark.sources.io import (
        _SNAPSHOTS,
        read_json_table,
        write_json_table,
    )

    before = _cached_rdds(spark)
    path = str(tmp_path / "t.json")
    write_json_table(spark.range(1), path)
    for k in range(1, 6):
        subs = read_json_table(spark, path, _ids_schema())
        write_json_table(subs.unionByName(spark.range(k, k + 1)), path)
    assert sorted(r["id"] for r in json.load(open(path))) == [0, 1, 2, 3, 4, 5]
    latest = _SNAPSHOTS[str(tmp_path / "t.json")].df
    assert _cached_rdds(spark) - before == {_rdd_id(latest)}


def test_snapshots_of_deleted_or_rewritten_files_are_released(spark, tmp_path):
    """A registration anywhere releases the snapshots whose file is gone
    or was rewritten by another writer: no checkpointed RDD outlives
    the file version it mirrors."""
    from airflow_subscription_etl_spark.sources.io import (
        _SNAPSHOTS,
        write_json_table,
    )

    before = _cached_rdds(spark)
    gone, rewritten = tmp_path / "gone.json", tmp_path / "rewritten.json"
    held = {}
    for path in (gone, rewritten):
        write_json_table(spark.range(2), str(path))
        _snapshot_read(spark, path)
        write_json_table(spark.range(3), str(path))
        held[path] = _rdd_id(_SNAPSHOTS[str(path)].df)
    assert _cached_rdds(spark) - before == set(held.values())
    gone.unlink()
    with open(rewritten, "w") as f:
        json.dump([{"id": 7}], f)
    write_json_table(spark.range(1), str(tmp_path / "other.json"))
    assert str(gone) not in _SNAPSHOTS and str(rewritten) not in _SNAPSHOTS
    assert _cached_rdds(spark) - before == set()


def test_size_guard_leaves_no_checkpoint(spark, tmp_path):
    """A write refused by the row guard caches nothing, even on a path
    that has a snapshot."""
    from airflow_subscription_etl_spark.sources.io import write_json_table

    path = tmp_path / "t.json"
    path.write_text(json.dumps([{"id": 1}]))
    _snapshot_read(spark, path)
    before = _cached_rdds(spark)
    with pytest.raises(ValueError, match="driver-materializing"):
        write_json_table(spark.range(50), str(path), max_rows=10)
    assert _cached_rdds(spark) == before


def test_frame_on_superseded_version_raises(spark, tmp_path):
    """A frame built on a version the sink has since overwritten fails
    on its next action instead of returning the new file's rows."""
    from airflow_subscription_etl_spark.sources.io import write_json_table

    path = tmp_path / "t.json"
    path.write_text(json.dumps([{"id": 1}, {"id": 2}]))
    old = _snapshot_read(spark, path)
    evens = old.filter("id % 2 = 0")
    assert [r.id for r in evens.collect()] == [2]
    write_json_table(spark.range(10, 14), str(path))
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        evens.collect()


def test_paths_without_a_file_identity_read_as_before(spark, tmp_path):
    """A glob is a plain file scan, and a missing path still raises
    ``PATH_NOT_FOUND``."""
    from pyspark.errors import AnalysisException

    from airflow_subscription_etl_spark.sources.io import read_json_table

    for name in ("a", "b"):
        (tmp_path / f"{name}.json").write_text(json.dumps([{"id": len(name)}]))
    both = read_json_table(spark, str(tmp_path / "*.json"), _ids_schema())
    assert "FileScan json" in _plan(both)
    assert [r.id for r in both.collect()] == [1, 1]
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        read_json_table(spark, str(tmp_path / "missing.json"), _ids_schema())


_SPECIAL_TEXT = ['"', "\\", "\x00", "\n", "\x1f", "\x7f", " ", "é", "東京", "😀", ""]
_DOUBLES = st.floats() | st.sampled_from(
    [-0.0, 0.0, 1e-05, 1e16, 29.0, math.inf, -math.inf]
)
#: (name, type, values): every flat type the sink encodes from Arrow
#: or per value, an ASCII-only string column that takes the vectorized
#: path, and an escape-heavy string column under a name that itself
#: needs escaping
_COLUMNS = [
    ("i32", pa.int32(), st.integers(-(2**31), 2**31 - 1)),
    ("i64", pa.int64(), st.integers(-(2**63), 2**63 - 1)),
    ("flag", pa.bool_(), st.booleans()),
    ("x", pa.float64(), _DOUBLES),
    (
        "ascii",
        pa.string(),
        st.text(
            st.characters(
                min_codepoint=0x20, max_codepoint=0x7E, blacklist_characters='"\\'
            ),
            max_size=8,
        ),
    ),
    (
        'tëxt "\\\n',
        pa.string(),
        st.text(st.characters(blacklist_categories=("Cs",)), max_size=8)
        | st.sampled_from(_SPECIAL_TEXT),
    ),
]


def _table(cols, rows):
    return pa.table(
        {
            name: pa.array([r[i] for r in rows], type_)
            for i, (name, type_, _) in enumerate(cols)
        }
    )


@st.composite
def _flat_tables(draw):
    cols = draw(st.permutations(_COLUMNS))
    row = st.tuples(*(st.none() | values for _, _, values in cols))
    all_null = st.just(tuple(None for _ in cols))
    rows = draw(st.lists(row | all_null, max_size=12))
    table = _table(cols, rows)
    # Spark hands the sink several record batches: split into two chunks
    cut = draw(st.integers(0, table.num_rows))
    return pa.concat_tables([table.slice(0, cut), table.slice(cut)])


@settings(max_examples=400, deadline=None)
@given(_flat_tables())
def test_json_array_bytes_matches_json_dumps(table):
    assert _joined(_json_records(table)) == _expected_bytes(table)


@st.composite
def _table_versions(draw):
    """Two versions of one flat table: the second keeps a prefix of the
    first's rows, edits some of them and appends others."""
    cols = draw(st.permutations(_COLUMNS))
    row = st.tuples(*(st.none() | values for _, _, values in cols))
    old = draw(st.lists(row, max_size=10))
    kept = old[: draw(st.integers(0, len(old)))]
    new = [draw(st.just(r) | row) for r in kept] + draw(st.lists(row, max_size=4))
    return _table(cols, old), _table(cols, new)


@settings(max_examples=300, deadline=None)
@example(versions=(pa.table({"x": [0.0, 1.0]}), pa.table({"x": [-0.0, 1.0]})))
@given(versions=_table_versions())
def test_json_records_since_matches_json_dumps(versions):
    """Re-encoding only the rows that differ from the previous version
    gives the bytes a full encode gives."""
    old, new = versions
    identity = (0, 0, 0, 0)
    prev = _Snapshot(identity, None, None, old, _json_records(old))
    assert _joined(_json_records_since(new, prev, identity)) == _expected_bytes(new)


def _bits(v):
    """A float as its bit pattern: ``0.0 == -0.0`` and ``nan != nan``,
    but the sink must keep each exactly."""
    return struct.pack(">d", v) if isinstance(v, float) else v


_CHAIN_TYPES = {"id": "long", "price": "double", "name": "string", "extra": "int"}
_CHAIN_VALUES = {
    "id": st.integers(-(2**63), 2**63 - 1),
    "price": _DOUBLES,
    "name": st.text(st.characters(blacklist_categories=("Cs",)), max_size=6)
    | st.sampled_from(_SPECIAL_TEXT),
    "extra": st.integers(-(2**31), 2**31 - 1),
}


def _chain_row(cols):
    return st.fixed_dictionaries({c: st.none() | _CHAIN_VALUES[c] for c in cols})


def _edit(version, op, arg):
    """The next version of ``version``: ``set`` a cell to ``arg = (row,
    column, value)``, ``append`` the row ``arg``, ``truncate`` to ``arg``
    rows or ``add`` the column ``arg``."""
    cols, rows = list(version[0]), [dict(r) for r in version[1]]
    if op == "set":
        i, col, value = arg
        rows[i][col] = value
    elif op == "append":
        rows.append(arg)
    elif op == "truncate":
        rows = rows[:arg]
    else:
        cols.append(arg)
        for k, r in enumerate(rows):
            r[arg] = k or None
    return cols, rows


@st.composite
def _version_chains(draw):
    """5–10 successive versions ``(columns, rows)`` of one table, each
    one edit away from the last."""
    cols = ["id", "price", "name"]
    chain = [(cols, draw(st.lists(_chain_row(cols), min_size=1, max_size=6)))]
    for _ in range(draw(st.integers(4, 9))):
        cols, rows = chain[-1]
        op = draw(st.sampled_from(["set", "set", "append", "truncate", "add"]))
        if op == "set" and rows:
            col = draw(st.sampled_from(cols))
            value = draw(st.none() | _CHAIN_VALUES[col])
            arg = (draw(st.integers(0, len(rows) - 1)), col, value)
        elif op == "append":
            arg = draw(_chain_row(cols))
        elif op == "add" and "extra" not in cols:
            arg = "extra"
        else:
            op, arg = "truncate", draw(st.integers(0, len(rows)))
        chain.append(_edit(chain[-1], op, arg))
    return chain


def _covering_chain():
    """A chain with every edit the sink must get right: an update, an
    append, NULL → value → NULL, a string that needs escaping, 0.0 →
    -0.0 → NaN, a truncation and an added column."""
    chain = [
        (
            ["id", "price", "name"],
            [
                {"id": 1, "price": 29.0, "name": "a"},
                {"id": 2, "price": 0.0, "name": None},
                {"id": 3, "price": 1.5, "name": "c"},
            ],
        )
    ]
    for op, arg in (
        ("set", (0, "price", 39.0)),
        ("append", {"id": 4, "price": 2.0, "name": "d"}),
        ("set", (1, "name", "x")),
        ("set", (1, "name", None)),
        ("set", (2, "name", 'say "hi"\\\n東京')),
        ("set", (1, "price", -0.0)),
        ("set", (1, "price", math.nan)),
        ("truncate", 2),
        ("add", "extra"),
    ):
        chain.append(_edit(chain[-1], op, arg))
    return chain


@settings(max_examples=3, deadline=None)
@example(chain=_covering_chain())
@given(chain=_version_chains())
def test_version_chain_bytes_match_json_dumps(spark, tmp_path_factory, chain):
    """Successive writes of one path in snapshot mode, each re-encoding
    only what changed since the last, leave exactly the bytes of
    ``json.dumps(rows, indent=2)``, and return the written rows with
    every float's bits intact."""
    from airflow_subscription_etl_spark.sources.io import (
        _SNAPSHOTS,
        read_json_table,
        write_json_table,
    )

    path = str(tmp_path_factory.mktemp("chain") / "t.json")

    def frame(cols, rows):
        schema = ", ".join(f"{c} {_CHAIN_TYPES[c]}" for c in cols)
        return spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], schema)

    first = frame(*chain[0])
    write_json_table(first, path)
    read_json_table(spark, path, first.schema)
    read_json_table(spark, path, first.schema)  # the path now has a snapshot
    for cols, rows in chain:
        table = write_json_table(frame(cols, rows), path)
        expected = [{c: r[c] for c in cols if r[c] is not None} for r in rows]
        with open(path, "rb") as f:
            assert f.read() == json.dumps(expected, indent=2).encode()
        assert table.column_names == cols
        assert [tuple(map(_bits, r.values())) for r in table.to_pylist()] == [
            tuple(_bits(r[c]) for c in cols) for r in rows
        ]
        assert _SNAPSHOTS[path].records is not None


def test_sink_re_encodes_only_changed_rows(spark, tmp_path, monkeypatch):
    """With the sink's own snapshot of the file at the path, a write
    encodes only the rows that differ from it or are new; after another
    writer rewrites the file, the next write encodes every row."""
    from pyspark.sql import functions as F

    from airflow_subscription_etl_spark.sources import io

    path = str(tmp_path / "t.json")
    base = spark.range(50).selectExpr(
        "id", "CAST(id AS DOUBLE) * 1.5 AS x", "CAST(id AS STRING) AS s"
    )
    io.write_json_table(base, path)
    io.read_json_table(spark, path, base.schema)
    io.read_json_table(spark, path, base.schema)
    encoded = []
    encode = io._json_records
    monkeypatch.setattr(
        io, "_json_records", lambda t: encoded.append(t.num_rows) or encode(t)
    )
    io.write_json_table(base, path)  # the snapshot was parsed, not written
    one = base.withColumn("s", F.when(F.col("id") == 7, "seven").otherwise(F.col("s")))
    io.write_json_table(one, path)
    new = spark.range(50, 52).selectExpr("id", "0.0 AS x", "'n' AS s")
    longer = one.unionByName(new)
    io.write_json_table(longer, path)
    io.write_json_table(longer.limit(10), path)
    assert encoded == [50, 1, 2, 0]
    with open(path, "w") as f:
        json.dump([{"id": 0}], f, indent=2)
    io.write_json_table(one, path)
    assert encoded[-1] == 50
    rows = [
        {"id": i, "x": i * 1.5, "s": "seven" if i == 7 else str(i)} for i in range(50)
    ]
    with open(path, "rb") as f:
        assert f.read() == json.dumps(rows, indent=2).encode()


def test_read_once_paths_of_deleted_files_are_forgotten(spark, tmp_path):
    """A path read once is remembered only while its file exists: the
    next registration forgets it once the file is deleted."""
    from airflow_subscription_etl_spark.sources.io import (
        _READ_ONCE,
        read_json_table,
        write_json_table,
    )

    gone, kept = tmp_path / "gone.json", tmp_path / "kept.json"
    for path in (gone, kept):
        path.write_text(json.dumps([{"id": 1}]))
        read_json_table(spark, str(path), _ids_schema())
    assert {str(gone), str(kept)} <= _READ_ONCE
    gone.unlink()
    write_json_table(spark.range(1), str(tmp_path / "other.json"))
    assert str(gone) not in _READ_ONCE and str(kept) in _READ_ONCE


# --- parquet star tables -----------------------------------------------------


def test_star_tables_open_with_no_job(spark, count_jobs):
    assert len(STAR_TABLES) == 10
    _, n = count_jobs(lambda: [read_star_table(spark, SF, t) for t in STAR_TABLES])
    assert n == 0


@pytest.mark.parametrize("name", STAR_TABLES)
def test_footer_schema_is_the_inferred_schema(spark, name):
    ensure_query_confs(spark)
    path = f"{SF}/{name}.parquet"
    assert _footer_schema(path) == spark.read.parquet(path).schema


def test_spark_written_directory_reads_its_first_part_file(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(3).selectExpr("id", "array(CAST(id AS float)) AS v").write.parquet(path)
    assert _footer_schema(path) == spark.read.parquet(path).schema
    assert read_star_table(spark, str(tmp_path), "t").count() == 3


_INSTANTS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0),
    datetime.datetime(2024, 3, 10, 12, 34, 56, 789012),
    datetime.datetime(1999, 12, 31, 23, 59, 59, 999999),
]


@pytest.mark.parametrize(
    "ts_type, write_kwargs",
    [
        (pa.timestamp("ns"), {"version": "2.6"}),  # INT64 TIMESTAMP(NANOS)
        (pa.timestamp("us"), {}),  # INT64 TIMESTAMP(MICROS), not UTC-adjusted
        (pa.timestamp("ns"), {"use_deprecated_int96_timestamps": True}),  # INT96
    ],
    ids=["nanos", "micros_ntz", "int96"],
)
def test_events_ts_encodings_read_to_the_same_instants(
    spark, tmp_path, ts_type, write_kwargs
):
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(_INSTANTS, ts_type),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet", **write_kwargs)
    df = read_star_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = df.selectExpr("event_id", "unix_micros(ts) AS us").orderBy("event_id")
    epoch = datetime.datetime(1970, 1, 1)
    want = [(t - epoch) // datetime.timedelta(microseconds=1) for t in _INSTANTS]
    assert [r["us"] for r in got.collect()] == want


def test_unmapped_column_type_is_refused(spark, tmp_path):
    table = pa.table(
        {
            "id": pa.array([1], pa.int64()),
            "attrs": pa.array([{"a": 1}], pa.map_(pa.string(), pa.int64())),
        }
    )
    pq.write_table(table, tmp_path / "t.parquet")
    with pytest.raises(ValueError, match=r"t\.parquet: column 'attrs' has parquet type map"):
        read_star_table(spark, str(tmp_path), "t")
