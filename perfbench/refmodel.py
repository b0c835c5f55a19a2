"""Pure-Python reference model of the subscription lifecycle.

Row-at-a-time semantics of the reference DAG (FIXTURES.md §1), kept
independent of Spark so the lifecycle workload can predict every
``run_intent`` outcome before it runs: the result record, the
``price_difference`` of a change, the payment status, the plan labels
of create/change, and each ``ValueError`` the pipeline must raise.

Ordering rules match the engine's decisions: the latest active row of
a user is the lexicographic-max ``start_date``, ties broken by
``subscription_id`` descending (D1/D2); a missing ``user_id`` reads as
0 (D3); new ids are ``max(ids + [1000]) + 1`` (D4).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

INTENTS = ("create", "change", "cancel", "view")


@dataclass
class Outcome:
    """What one intent should produce (``error`` set instead when the
    pipeline must raise)."""

    result: dict[str, Any] | None = None
    price_difference: float | None = None
    payment_status: str | None = None
    plan_labels: list[str] = field(default_factory=list)
    error: str | None = None
    writes: bool = False


def _label(plan: dict) -> str:
    # Spark renders the double price through CAST(... AS STRING)
    return f"{plan['subscription_plan_name']} - ${float(plan['subscription_price'])}"


class SubscriptionModel:
    """The two JSON tables as Python lists, mutated the way the
    reference mutates them."""

    def __init__(self, plans: list[dict], rows: list[dict]):
        self.plans = [dict(p) for p in plans]
        self.rows = [dict(r) for r in rows]
        self._by_user: dict[int, list[int]] = {}
        for i, r in enumerate(self.rows):
            self._by_user.setdefault(int(r.get("user_id") or 0), []).append(i)

    def latest_active(self, user_id: int) -> dict | None:
        cands = [
            self.rows[i]
            for i in self._by_user.get(user_id, [])
            if self.rows[i]["subscription_status"] == "active"
        ]
        if not cands:
            return None
        return max(cands, key=lambda r: (r["start_date"], r["subscription_id"]))

    def _plan(self, name: str) -> dict:
        for p in self.plans:
            if p["subscription_plan_name"] == name:
                return p
        raise ValueError(f"Selected plan not found: {name}")

    def _plan_by_id(self, plan_id: int) -> dict:
        return next(p for p in self.plans if p["subscription_plan_id"] == plan_id)

    def apply(self, conf: dict[str, Any]) -> Outcome:
        """Predict ``run_intent(conf)`` and apply its write, if any."""
        try:
            return self._apply(conf)
        except ValueError as e:
            return Outcome(error=str(e))

    def _apply(self, conf: dict[str, Any]) -> Outcome:
        user_id = int(conf.get("user_id") or 0)
        intent = str(conf.get("intent") or "view")
        if intent not in INTENTS:
            raise ValueError(f"Invalid intent: {intent}")
        name = str(conf.get("selected_plan_name") or "Pro")
        out = Outcome()
        if intent in ("create", "change"):
            out.plan_labels = [_label(p) for p in self.plans]
        if intent == "create":
            plan = self._plan(name)
            row = {
                "subscription_id": max([r["subscription_id"] for r in self.rows] + [1000]) + 1,
                "user_id": user_id,
                "subscription_plan_id": plan["subscription_plan_id"],
                "subscription_status": "active",
                "start_date": plan.get("subscription_plan_start_date") or "2025-01-01",
                "end_date": plan.get("subscription_plan_end_date") or "2025-12-31",
                "payment_status": "Paid" if plan["subscription_price"] > 0 else "Free",
            }
            self._by_user.setdefault(user_id, []).append(len(self.rows))
            self.rows.append(row)
            out.payment_status, out.result, out.writes = "Success", dict(row), True
            return out
        current = self.latest_active(user_id)
        if intent == "view":
            out.result = dict(current) if current else None
            return out
        if current is None:
            raise ValueError(f"No active subscription for user_id {user_id}")
        if intent == "change":
            plan = self._plan(name)
            cur_plan = self._plan_by_id(current["subscription_plan_id"])
            out.price_difference = float(
                plan["subscription_price"] - cur_plan["subscription_price"]
            )
            out.payment_status = "Success"
            current["subscription_plan_id"] = plan["subscription_plan_id"]
        else:
            current["subscription_status"] = "inactive"
        out.result, out.writes = dict(current), True
        return out


def check(outcome: Outcome, res: Any, err: BaseException | None) -> str | None:
    """Compare one pipeline run with its prediction; ``None`` when they
    agree, else a one-line description of the first difference."""
    if outcome.error is not None:
        if err is None:
            return f"expected error {outcome.error!r}, got result"
        if not isinstance(err, ValueError) or str(err) != outcome.error:
            return f"expected error {outcome.error!r}, got {type(err).__name__}: {err}"
        return None
    if err is not None:
        return f"unexpected {type(err).__name__}: {err}"
    for attr in ("result", "price_difference", "payment_status", "plan_labels"):
        want, got = getattr(outcome, attr), getattr(res, attr)
        if want != got:
            return f"{attr}: expected {want!r}, got {got!r}"
    return None
