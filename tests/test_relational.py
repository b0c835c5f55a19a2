"""Operator-level tests for the relational library (SURVEY.md §2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_subscription_etl_spark.operators import relational as R
from airflow_subscription_etl_spark.schemas import (
    PLANS_SCHEMA,
    PLANS_SEED,
    USER_SUBSCRIPTIONS_SCHEMA,
    USER_SUBSCRIPTIONS_SEED,
)


@pytest.fixture()
def plans(spark):
    return spark.createDataFrame(PLANS_SEED, PLANS_SCHEMA)


@pytest.fixture()
def subs(spark):
    return spark.createDataFrame(USER_SUBSCRIPTIONS_SEED, USER_SUBSCRIPTIONS_SCHEMA)


def test_p1_projection(plans):
    out = R.project(plans, ["subscription_plan_name", "subscription_plan_id"])
    assert out.columns == ["subscription_plan_name", "subscription_plan_id"]
    assert out.count() == 3


def test_p2_label(plans):
    out = R.with_label(plans, "subscription_plan_name", "subscription_price")
    labels = {r["label"] for r in out.collect()}
    assert labels == {"Free - $0.0", "Pro - $29.0", "Team - $99.0"}


def test_p3_filter_active(subs):
    assert R.active_subs_for_user(subs, 101).count() == 1
    assert R.active_subs_for_user(subs, 999).count() == 0


def test_p3_missing_user_id_treated_as_zero(spark):
    """D3: rows with null user_id match uid 0 (subscription_flow.py:97)."""
    df = spark.createDataFrame(
        [(1, None, 1, "active", "2025-01-01", "2025-12-31", None)],
        USER_SUBSCRIPTIONS_SCHEMA,
    )
    assert R.active_subs_for_user(df, 0).count() == 1


def test_p4_validate_intent():
    assert R.validate_intent("create") == "create"
    with pytest.raises(ValueError, match="Invalid intent"):
        R.validate_intent("refund")


def test_a1_top1_per_key_tiebreak(spark):
    rows = [
        (1, 101, 1, "active", "2025-01-01", "2025-12-31", None),
        (2, 101, 2, "active", "2025-01-01", "2025-12-31", None),  # tie date
        (3, 102, 1, "active", "2025-03-01", "2025-12-31", None),
        (4, 102, 2, "active", "2025-02-01", "2025-12-31", None),
    ]
    df = spark.createDataFrame(rows, USER_SUBSCRIPTIONS_SCHEMA)
    out = R.top1_per_key(
        df,
        "user_id",
        [F.col("start_date").desc(), F.col("subscription_id").desc()],
    )
    got = {r["user_id"]: r["subscription_id"] for r in out.collect()}
    # D2: tie on start_date → max subscription_id; user 102 → later date wins
    assert got == {101: 2, 102: 3}


def test_a2_next_id_empty_table_floor(spark, subs):
    assert R.next_subscription_id(subs) == 1003
    empty = spark.createDataFrame([], USER_SUBSCRIPTIONS_SCHEMA)
    # D4: empty table → 1001
    assert R.next_subscription_id(empty) == 1001


def test_e2_payment_status(spark, plans):
    out = plans.select(
        "subscription_plan_name",
        R.payment_status_for_price(F.col("subscription_price")).alias("ps"),
    )
    got = {r[0]: r[1] for r in out.collect()}
    assert got == {"Free": "Free", "Pro": "Paid", "Team": "Paid"}


def test_e6_row_json(plans):
    out = R.row_json(plans.filter(F.col("subscription_plan_id") == 1))
    s = out.collect()[0]["row_json"]
    assert '"subscription_plan_name":"Free"' in s
