"""Output digests and the 8x replica."""

from __future__ import annotations

import pandas as pd
import pyarrow.parquet as pq
import pytest

import datagen
import workloads as wl


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.0, None]})
    b = a.iloc[[2, 0, 1]][["v", "k"]]
    assert wl.frame_digest(a) == wl.frame_digest(b)
    assert wl.frame_digest(a) != wl.frame_digest(a.assign(v=[0.5, 1.5, None]))
    assert wl.frame_digest(a) != wl.frame_digest(a.iloc[:2])


def test_check_output_reports_rows_then_digest():
    a = pd.DataFrame({"k": [1, 2]})
    want = {"rows": 2, "digest": wl.frame_digest(a)}
    assert wl.check_output(a, want) is None
    assert "rows" in wl.check_output(a.iloc[:1], want)
    assert "digest" in wl.check_output(a + 1, want)
    assert wl.check_output(a + 1, {"rows": 2, "digest": None}) is None


@pytest.fixture(scope="module")
def star(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("star"))
    datagen.write_star(d, 0.001)
    return d


def test_x8_replica_shifts_only_family_keys(star, tmp_path):
    out = str(tmp_path / "x8")
    wl.build_x8(star, out, ["lineitem", "orders"])
    base = pq.read_table(f"{star}/lineitem.parquet").to_pandas()
    rep = pq.read_table(f"{out}/lineitem.parquet").to_pandas()
    assert len(rep) == wl.X8_REPS * len(base)
    # replica r of l_orderkey sits r * 10^9 above the base; part/supp keys never move
    assert sorted(set(rep.l_orderkey // wl.X8_OFFSET)) == list(range(wl.X8_REPS))
    assert set(rep.l_partkey) == set(base.l_partkey)
    assert set(rep.l_suppkey) == set(base.l_suppkey)
    for t in wl.X8_DIMS:
        assert pq.read_table(f"{out}/{t}.parquet").equals(pq.read_table(f"{star}/{t}.parquet"))


def test_star_generation_is_deterministic():
    a, b = datagen.star_tables(0.001), datagen.star_tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)
