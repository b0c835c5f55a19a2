"""The lifecycle reference model on FIXTURES.md §1's golden scenarios,
and the intent stream's mix."""

from __future__ import annotations

import pytest

import datagen
import workloads as wl
from refmodel import Outcome, SubscriptionModel, check

SEED_ROWS = [
    {
        "subscription_id": 1001,
        "user_id": 101,
        "subscription_plan_id": 1,
        "subscription_status": "active",
        "start_date": "2025-01-01",
        "end_date": "2025-12-31",
    },
    {
        "subscription_id": 1002,
        "user_id": 102,
        "subscription_plan_id": 2,
        "subscription_status": "active",
        "start_date": "2025-02-01",
        "end_date": "2025-12-31",
    },
]
LABELS = ["Free - $0.0", "Pro - $29.0", "Team - $99.0"]


@pytest.fixture
def model():
    return SubscriptionModel(datagen.PLANS, SEED_ROWS)


def test_create_defaults_to_pro(model):
    out = model.apply({"user_id": 101, "intent": "create"})
    assert out.result == {
        "subscription_id": 1003,
        "user_id": 101,
        "subscription_plan_id": 2,
        "subscription_status": "active",
        "start_date": "2025-01-01",
        "end_date": "2025-12-31",
        "payment_status": "Paid",
    }
    assert out.payment_status == "Success" and out.plan_labels == LABELS
    assert len(model.rows) == 3 and out.writes


def test_create_free_plan_is_free(model):
    out = model.apply({"user_id": 101, "intent": "create", "selected_plan_name": "Free"})
    assert out.result["payment_status"] == "Free"


@pytest.mark.parametrize("plan,diff,plan_id", [("Team", 70.0, 3), ("Free", -29.0, 1)])
def test_change_price_difference(model, plan, diff, plan_id):
    out = model.apply({"user_id": 102, "intent": "change", "selected_plan_name": plan})
    assert out.price_difference == diff
    assert out.result == {**SEED_ROWS[1], "subscription_plan_id": plan_id}
    assert model.rows[0] == SEED_ROWS[0]


def test_cancel_marks_inactive(model):
    out = model.apply({"user_id": 101, "intent": "cancel"})
    assert out.result == {**SEED_ROWS[0], "subscription_status": "inactive"}
    assert model.latest_active(101) is None


def test_view_returns_row_and_leaves_table(model):
    out = model.apply({"user_id": 101, "intent": "view"})
    assert out.result == SEED_ROWS[0] and not out.writes
    assert model.rows == SEED_ROWS


def test_view_unknown_user_is_null_not_error(model):
    out = model.apply({"user_id": 999, "intent": "view"})
    assert out.result is None and out.error is None


def test_change_without_active_subscription_errors(model):
    out = model.apply({"user_id": 999, "intent": "change"})
    assert out.error == "No active subscription for user_id 999"


def test_invalid_intent_errors(model):
    assert model.apply({"intent": "refund"}).error == "Invalid intent: refund"


def test_latest_active_breaks_ties_by_id_desc():
    rows = [
        {**SEED_ROWS[0], "subscription_id": 1, "start_date": "2025-03-01"},
        {**SEED_ROWS[0], "subscription_id": 2, "start_date": "2025-02-01"},
        {**SEED_ROWS[0], "subscription_id": 3, "start_date": "2025-03-01"},
    ]
    m = SubscriptionModel(datagen.PLANS, rows)
    assert m.latest_active(101)["subscription_id"] == 3


def test_check_reports_mismatch_and_unexpected_errors():
    class Res:
        result = {"a": 1}
        price_difference = None
        payment_status = None
        plan_labels: list = []

    assert check(Outcome(result={"a": 1}), Res, None) is None
    assert "result" in check(Outcome(result={"a": 2}), Res, None)
    assert check(Outcome(error="boom"), None, ValueError("boom")) is None
    assert "unexpected" in check(Outcome(), None, KeyError("x"))


def test_intent_stream_tracks_the_mix_in_every_prefix():
    rows = datagen.subscription_rows(2000, 1000, 7)
    m = SubscriptionModel(datagen.PLANS, rows)
    s = wl.IntentStream(7, m)
    kinds, misses = [], 0
    for n in range(1, 201):
        c = s.next()
        calls = sum(k in ("change", "cancel") for k in kinds) + (
            c["intent"] in ("change", "cancel")
        )
        misses += m.apply(c).error is not None
        kinds.append(c["intent"])
        for k, pct in wl.LIFE_MIX.items():
            assert abs(kinds.count(k) - pct * n / 100) < 1
        assert misses == round(calls * wl.LIFE_MISS / 100 + 1e-9)
    assert [kinds.count(k) for k in wl.LIFE_MIX] == [120, 30, 30, 20]
    assert misses == 5


def test_intent_stream_restart_repeats_the_kind_sequence():
    m = SubscriptionModel(datagen.PLANS, datagen.subscription_rows(2000, 1000, 7))
    s = wl.IntentStream(7, m)
    first = [s.next()["intent"] for _ in range(30)]
    s.restart()
    assert [s.next()["intent"] for _ in range(30)] == first
