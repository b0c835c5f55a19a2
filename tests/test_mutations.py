"""Property-based mutation tests (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from airflow_subscription_etl_spark.operators import mutations as M
from airflow_subscription_etl_spark.schemas import (
    PLANS_SCHEMA,
    PLANS_SEED,
    USER_SUBSCRIPTIONS_SCHEMA,
)

_spark = None


@pytest.fixture(autouse=True)
def _cap(spark):
    global _spark
    _spark = spark


def sub_rows():
    row = st.tuples(
        st.integers(1001, 1020),
        st.integers(100, 105),
        st.integers(1, 3),
        st.sampled_from(["active", "inactive"]),
        st.sampled_from(["2025-01-01", "2025-02-01", "2025-03-15"]),
        st.just("2025-12-31"),
        st.none(),
    )
    return st.lists(row, min_size=0, max_size=8, unique_by=lambda r: r[0])


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=sub_rows())
def test_m1_insert_never_mutates_existing(rows):
    spark = _spark
    subs = spark.createDataFrame(rows, USER_SUBSCRIPTIONS_SCHEMA)
    plans = spark.createDataFrame(PLANS_SEED, PLANS_SCHEMA)
    sel = plans.filter(F.col("subscription_plan_name") == "Pro")
    out = M.insert_subscription(subs, sel, user_id=101)
    before = {tuple(r) for r in subs.collect()}
    after_rows = out.collect()
    after = {tuple(r) for r in after_rows}
    assert before <= after and len(after_rows) == len(rows) + 1
    new = after - before
    (new_row,) = new
    # A2: id strictly greater than all existing (floor 1000)
    max_existing = max((r[0] for r in rows), default=1000)
    assert new_row[0] == max_existing + 1


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=sub_rows())
def test_m3_cancel_only_touches_status(rows):
    spark = _spark
    subs = spark.createDataFrame(rows, USER_SUBSCRIPTIONS_SCHEMA)
    active_101 = [r for r in rows if r[1] == 101 and r[3] == "active"]
    # A1 target: max start_date, tie → max id; an absent id (user 101
    # has no active row) must leave every row unchanged
    target = max(active_101, key=lambda r: (r[4], r[0]))[0] if active_101 else 9999
    out = M.cancel_subscription(subs, target).collect()
    assert len(out) == len(rows)
    for r in out:
        orig = next(o for o in rows if o[0] == r["subscription_id"])
        if r["subscription_id"] == target:
            assert r["subscription_status"] == "inactive"
        else:
            assert r["subscription_status"] == orig[3]
        # every non-status column unchanged
        assert (r["user_id"], r["subscription_plan_id"], r["start_date"]) == (
            orig[1],
            orig[2],
            orig[4],
        )


def test_m2_change_updates_only_target(spark):
    rows = [
        (1001, 101, 1, "active", "2025-01-01", "2025-12-31", None),
        (1002, 101, 1, "active", "2025-02-01", "2025-12-31", None),
        (1003, 102, 2, "active", "2025-01-01", "2025-12-31", None),
    ]
    subs = spark.createDataFrame(rows, USER_SUBSCRIPTIONS_SCHEMA)
    out = {r["subscription_id"]: r for r in M.change_subscription_plan(subs, 1002, 3).collect()}
    assert out[1002]["subscription_plan_id"] == 3
    assert out[1001]["subscription_plan_id"] == 1
    assert out[1003]["subscription_plan_id"] == 2
