"""sources.io JSON sink: size guard, byte parity with
``json.dumps(indent=2)``, row order, type contract, and the columnar
encoder's parity on random Arrow tables."""

from __future__ import annotations

import json
import math

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from airflow_subscription_etl_spark.sources.io import _json_array_bytes


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


def test_write_json_table_rejects_nested_columns_before_any_job(spark, tmp_path):
    from airflow_subscription_etl_spark.sources.io import write_json_table

    df = spark.createDataFrame([(1, (2, "x"))], "id int, s struct<a:int,b:string>")
    sc = spark.sparkContext
    group = "json-sink-type-contract"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="column 's' of type struct"):
            write_json_table(df, str(tmp_path / "t.json"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events arrive asynchronously
    assert sc.statusTracker().getJobIdsForGroup(group) == []
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


@st.composite
def _flat_tables(draw):
    cols = draw(st.permutations(_COLUMNS))
    row = st.tuples(*(st.none() | values for _, _, values in cols))
    all_null = st.just(tuple(None for _ in cols))
    rows = draw(st.lists(row | all_null, max_size=12))
    table = pa.table(
        {
            name: pa.array([r[i] for r in rows], type_)
            for i, (name, type_, _) in enumerate(cols)
        }
    )
    # Spark hands the sink several record batches: split into two chunks
    cut = draw(st.integers(0, table.num_rows))
    return pa.concat_tables([table.slice(0, cut), table.slice(cut)])


@settings(max_examples=400, deadline=None)
@given(_flat_tables())
def test_json_array_bytes_matches_json_dumps(table):
    assert _json_array_bytes(table) == _expected_bytes(table)

