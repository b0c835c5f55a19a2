"""Lifecycle pipeline: the reference DAG's control flow as driver code.

Maps the Airflow layer (SURVEY.md §2.7, C1–C7) to plain Python
dispatch. The reference routes ``create | change | cancel | view``
through two ``BranchPythonOperator``s (subscription_flow.py:69–76,
258–267); here un-taken branches are never even *planned* — cheaper
than Airflow's skip propagation. The always-run ``notify_user``
finalizer (TriggerRule.ALL_DONE, :334) becomes try/finally (C4).

Each intent resolves what it needs once, as driver values, before any
write: only ``create``/``change`` open the plan catalog, and they
collect it with its labels (the selected plan, the current plan's
price and ``plan_labels`` all come from those rows);
``view``/``change``/``cancel`` collect the latest active row. That
lookup is a filtered top-1: P3 narrows the table to one user, so A1's
"top-1 per ``user_id``" is a global top-1, planned as one
``TakeOrderedAndProject`` job with no shuffle. M2/M3 then rewrite that
row by ``subscription_id``, so no plan built over the table is used
after ``write_json_table`` overwrites it. In a process that runs many
intents, both tables are read through ``sources.io``'s file-version
snapshots: the sink's fetch job leaves the written rows cached for the
next intent, and a frame over a superseded version raises on its next
action, so the read-overwrite-reread trap is an error, not a silent
re-read of the new file. The catalog rows are collected once per
snapshot frame of the plans file: while ``read_plans`` returns the same
frame, a create or change reuses them, so a warm process runs 1/2/2/2
jobs per view/create/change/cancel. A one-intent process reads each
table once, as a plain scan, and caches nothing. The result row of a
write comes from the Arrow table the sink returns: ``pyarrow.compute``
finds the first row holding the max ``subscription_id`` (create) or the
target id (change/cancel), and only that one row becomes a dict.

Error-message parity with the reference's ``ValueError``s:
- invalid intent            (:62–63)
- no active subscription    (:108–109)
- unknown selected plan     (:178–179, :208–209)

An Airflow deployment keeps orchestration upstream: a thin DAG shells
into :func:`run_intent` per run (see ``dags/subscription_flow_spark.py``),
retaining retries (C6) at the task level.
"""

from __future__ import annotations

import json
import weakref
from dataclasses import dataclass, field
from typing import Any

import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..operators.mutations import (
    cancel_subscription,
    change_subscription_plan,
    insert_subscription,
)
from ..operators.relational import (
    active_subs_for_user,
    validate_intent,
    with_label,
)
from ..sources.io import (
    read_plans,
    read_user_subscriptions,
    write_json_table,
)


@dataclass
class RunResult:
    """What the reference surfaces via XCom + notify_user (:248–256)."""

    intent: str
    user_id: int
    result: dict[str, Any] | None = None
    price_difference: float | None = None
    payment_status: str | None = None
    plan_labels: list[str] = field(default_factory=list)
    notified: bool = False

    def notify_json(self) -> str:
        """S5 log sink: pretty JSON (subscription_flow.py:256)."""
        return json.dumps(self.result, indent=2)


def _latest_active(subs: DataFrame, user_id: int) -> DataFrame:
    """P3 + A1 (subscription_flow.py:93–110): the user's active rows,
    latest first, ties broken by ``subscription_id`` desc (D1/D2).

    Only one user survives the filter, so the first row is the top-1
    per ``user_id``: ``limit(1)`` on this order is a single top-k job,
    where a per-key window would shuffle.
    """
    return active_subs_for_user(subs, user_id).orderBy(
        F.col("start_date").desc(), F.col("subscription_id").desc()
    )


#: plans frame → its collected, labelled catalog rows. ``read_plans``
#: returns the same snapshot frame for as long as it serves one version
#: of the file in one session, so a warm process collects each version
#: once; an entry goes with its frame, when the snapshot is superseded.
#: A plain scan (a path's first read) is a new frame on every read.
_CATALOGS: weakref.WeakKeyDictionary[DataFrame, tuple[Row, ...]] = (
    weakref.WeakKeyDictionary()
)


def _catalog(plans: DataFrame) -> tuple[Row, ...]:
    """P1+P2 (subscription_flow.py:84–91, 127–134): the plan rows with
    their labels, collected once per plans frame."""
    catalog = _CATALOGS.get(plans)
    if catalog is None:
        catalog = tuple(
            with_label(plans, "subscription_plan_name", "subscription_price").collect()
        )
        _CATALOGS[plans] = catalog
    return catalog


def run_intent(
    spark: SparkSession,
    conf: dict[str, Any],
    plans_path: str,
    subs_path: str,
) -> RunResult:
    """Execute one lifecycle run — the whole reference DAG in one job.

    ``conf`` mirrors ``dag_run.conf`` (subscription_flow.py:52–60):
    ``user_id`` (default 0), ``intent`` (default "view"),
    ``selected_plan_name`` (default "Pro", :157).
    """
    user_id = int(conf.get("user_id") or 0)
    intent = validate_intent(str(conf.get("intent") or "view"))
    selected_name = str(conf.get("selected_plan_name") or "Pro")

    res = RunResult(intent=intent, user_id=user_id)
    try:
        subs = read_user_subscriptions(spark, subs_path)

        if intent == "view":  # null result, NO error (decision D7, :245)
            res.result = _collect_one(_latest_active(subs, user_id))
            return res

        if intent in ("change", "cancel"):
            current = _collect_one(_latest_active(subs, user_id))
            if current is None:
                raise ValueError(f"No active subscription for user_id {user_id}")
            target_id = current["subscription_id"]

        if intent in ("create", "change"):
            # fetch_subscription_plans / fetch_available…: the same catalog
            # rows resolve the selected plan and the current plan's price.
            # Only these two intents open the catalog.
            plans = read_plans(spark, plans_path)
            catalog = _catalog(plans)
            res.plan_labels = [p["label"] for p in catalog]
            sel = next(
                (p for p in catalog if p["subscription_plan_name"] == selected_name),
                None,
            )
            if sel is None:
                raise ValueError(f"Selected plan not found: {selected_name}")
            res.payment_status = "Success"  # E4 (:186, :190) — downgrades too (D6)

        if intent == "create":
            sel_plan = plans.filter(F.col("subscription_plan_name") == selected_name)
            new_subs = insert_subscription(subs, sel_plan, user_id)
        elif intent == "change":
            # J1/J4 enrichment (:118–125) + E1 price diff (:181)
            cur_plan = next(
                p
                for p in catalog
                if p["subscription_plan_id"] == current["subscription_plan_id"]
            )
            res.price_difference = float(
                sel["subscription_price"] - cur_plan["subscription_price"]
            )
            new_subs = change_subscription_plan(
                subs, target_id, sel["subscription_plan_id"]
            )
        else:
            new_subs = cancel_subscription(subs, target_id)

        # Every id and price above is a driver value, so nothing after the
        # write reads the version it supersedes (see sources.io).
        table = write_json_table(new_subs, subs_path)
        ids = table.column("subscription_id")
        key = pc.max(ids) if intent == "create" else target_id
        row = table.slice(pc.index(ids, key).as_py(), 1).to_pylist()[0]
        res.result = {k: v for k, v in row.items() if v is not None}
        return res
    finally:
        # C4: notify always runs (TriggerRule.ALL_DONE, :334), even when a
        # branch raised above.
        res.notified = True


def _collect_one(df: DataFrame) -> dict[str, Any] | None:
    rows = df.limit(1).collect()
    if not rows:
        return None
    return {k: v for k, v in rows[0].asDict().items() if v is not None}
