"""Deterministic star-schema generator for the benchmark's inputs.

Writes the ten tables the query surface reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
same Arrow column types and value domains as the repository's seed-42
testdata (FIXTURES.md §2), one row group per file. Content is a pure
function of ``(sf, seed)``: NumPy's PCG64 stream drives every column, so
a rebuilt directory is byte-identical and the committed expected-output
digests (``expected.json``) stay valid.

Also builds the per-run lifecycle table: ``user_subscriptions`` rows
for the reference's JSON-array sink.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def star_tables(sf: float, seed: int = STAR_SEED) -> dict[str, pa.Table]:
    """Every star table at scale factor ``sf`` (sf0.1: 600k lineitem)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.array(_NOUN)[rng.integers(0, 8, n_part)],
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(
                _EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _DAY_US
            ),
        }
    )
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + ev_us),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_vec)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad corpus; ~5% of docs are another doc's text + " dup",
    the near-duplicate pairs the dedup and similarity operators find."""
    lens = rng.integers(10, 100, n)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lens.sum()))]
    ends = np.cumsum(lens)
    text = [" ".join(words[e - k : e]) for e, k in zip(ends, lens)]
    is_dup = rng.random(n) < 0.05
    originals = np.flatnonzero(~is_dup)
    for i, j in zip(np.flatnonzero(is_dup), rng.choice(originals, int(is_dup.sum()))):
        text[i] = text[j] + " dup"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": text,
            "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in text], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit-norm 64-d float32 vectors around ten weak label centroids."""
    labels = rng.integers(0, 10, n, dtype=np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64)) * 0.1
    v = rng.normal(0.0, 1.0, (n, 64)) / 8.0 + centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )


def write_star(out_dir: str, sf: float, seed: int = STAR_SEED) -> None:
    """Write every star table as ``<out_dir>/<name>.parquet`` (one row
    group, snappy, the testdata layout)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(sf, seed).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(table.num_rows, 1),
            compression="snappy",
        )


PLANS = [
    {
        "subscription_plan_id": 1,
        "subscription_plan_name": "Free",
        "subscription_price": 0,
        "subscription_plan_start_date": "2025-01-01",
        "subscription_plan_end_date": "2025-12-31",
    },
    {
        "subscription_plan_id": 2,
        "subscription_plan_name": "Pro",
        "subscription_price": 29,
        "subscription_plan_start_date": "2025-01-01",
        "subscription_plan_end_date": "2025-12-31",
    },
    {
        "subscription_plan_id": 3,
        "subscription_plan_name": "Team",
        "subscription_price": 99,
        "subscription_plan_start_date": "2025-01-01",
        "subscription_plan_end_date": "2025-12-31",
    },
]


def subscription_rows(n_rows: int, n_users: int, seed: int) -> list[dict]:
    """Seeded ``user_subscriptions`` rows in the reference's file shape:
    ids from 1001 in file order, ISO date strings, ~70% active, and no
    ``payment_status`` key on seed rows (the ragged column)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    users = rng.integers(1, n_users + 1, n_rows)
    plans = rng.integers(1, 4, n_rows)
    active = rng.random(n_rows) < 0.7
    starts = np.datetime64("2024-01-01") + rng.integers(0, 540, n_rows)
    rows = []
    for i in range(n_rows):
        start = str(starts[i])
        rows.append(
            {
                "subscription_id": 1001 + i,
                "user_id": int(users[i]),
                "subscription_plan_id": int(plans[i]),
                "subscription_status": "active" if active[i] else "inactive",
                "start_date": start,
                "end_date": str(starts[i] + 365),
            }
        )
    return rows


def write_json(path: str, rows: list) -> None:
    with open(path, "w") as f:
        json.dump(rows, f, indent=2)
