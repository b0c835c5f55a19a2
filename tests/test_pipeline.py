"""Golden lifecycle tests (SURVEY.md §5.2 item 2; FIXTURES.md §1)."""

from __future__ import annotations

import json

import pytest

from airflow_subscription_etl_spark.plans import run_intent

GOLDEN_CREATE = {
    "subscription_id": 1003,
    "user_id": 101,
    "subscription_plan_id": 2,
    "subscription_status": "active",
    "start_date": "2025-01-01",
    "end_date": "2025-12-31",
    "payment_status": "Paid",
}


def test_create_golden_record(spark, seed_tables):
    """The notify_logs.png golden run: user 101, plan defaults to Pro."""
    plans_path, subs_path = seed_tables
    res = run_intent(spark, {"user_id": 101, "intent": "create"}, plans_path, subs_path)
    assert res.result == GOLDEN_CREATE
    assert res.payment_status == "Success"
    assert res.notified
    table = json.load(open(subs_path))
    assert len(table) == 3 and table[2] == GOLDEN_CREATE


def test_create_free_plan_payment_status(spark, seed_tables):
    plans_path, subs_path = seed_tables
    res = run_intent(
        spark,
        {"user_id": 101, "intent": "create", "selected_plan_name": "Free"},
        plans_path,
        subs_path,
    )
    assert res.result["payment_status"] == "Free"


def test_change_updates_plan_and_price_diff(spark, seed_tables):
    plans_path, subs_path = seed_tables
    res = run_intent(
        spark,
        {"user_id": 102, "intent": "change", "selected_plan_name": "Team"},
        plans_path,
        subs_path,
    )
    assert res.price_difference == 70.0
    assert res.result["subscription_plan_id"] == 3
    table = json.load(open(subs_path))
    row = next(r for r in table if r["subscription_id"] == 1002)
    assert row["subscription_plan_id"] == 3
    # M2 invariant: only plan_id changed
    assert row["subscription_status"] == "active" and row["start_date"] == "2025-02-01"


def test_change_downgrade_negative_diff(spark, seed_tables):
    """D6: downgrades still route through payment, diff is negative."""
    plans_path, subs_path = seed_tables
    res = run_intent(
        spark,
        {"user_id": 102, "intent": "change", "selected_plan_name": "Free"},
        plans_path,
        subs_path,
    )
    assert res.price_difference == -29.0
    assert res.payment_status == "Success"


def test_cancel_soft_delete(spark, seed_tables):
    plans_path, subs_path = seed_tables
    res = run_intent(spark, {"user_id": 101, "intent": "cancel"}, plans_path, subs_path)
    assert res.result["subscription_status"] == "inactive"
    table = json.load(open(subs_path))
    row = next(r for r in table if r["subscription_id"] == 1001)
    assert row["subscription_status"] == "inactive"
    # M3 invariant: other columns unchanged
    assert row["subscription_plan_id"] == 1 and row["end_date"] == "2025-12-31"


def test_view_returns_latest_active(spark, seed_tables):
    plans_path, subs_path = seed_tables
    res = run_intent(spark, {"user_id": 101, "intent": "view"}, plans_path, subs_path)
    assert res.result["subscription_id"] == 1001
    # table untouched
    assert len(json.load(open(subs_path))) == 2


def test_view_unknown_user_null_no_error(spark, seed_tables):
    """D7: view path returns null result without raising."""
    plans_path, subs_path = seed_tables
    res = run_intent(spark, {"user_id": 999, "intent": "view"}, plans_path, subs_path)
    assert res.result is None
    assert res.notified


def test_change_unknown_user_raises(spark, seed_tables):
    plans_path, subs_path = seed_tables
    with pytest.raises(ValueError, match="No active subscription for user_id 999"):
        run_intent(spark, {"user_id": 999, "intent": "change"}, plans_path, subs_path)


def test_invalid_intent_raises(spark, seed_tables):
    plans_path, subs_path = seed_tables
    with pytest.raises(ValueError, match="Invalid intent"):
        run_intent(spark, {"intent": "refund"}, plans_path, subs_path)


def test_unknown_plan_raises(spark, seed_tables):
    plans_path, subs_path = seed_tables
    with pytest.raises(ValueError, match="Selected plan not found: Gold"):
        run_intent(
            spark,
            {"user_id": 101, "intent": "create", "selected_plan_name": "Gold"},
            plans_path,
            subs_path,
        )


def test_a1_tiebreak_subscription_id_desc(spark, seed_tables):
    """D2: equal start_date → higher subscription_id wins."""
    plans_path, subs_path = seed_tables
    # create adds id 1003 with start_date 2025-01-01 == seed row 1001's
    run_intent(spark, {"user_id": 101, "intent": "create"}, plans_path, subs_path)
    res = run_intent(spark, {"user_id": 101, "intent": "view"}, plans_path, subs_path)
    assert res.result["subscription_id"] == 1003


def test_cancel_unknown_user_raises(spark, seed_tables):
    plans_path, subs_path = seed_tables
    with pytest.raises(ValueError, match="No active subscription for user_id 999"):
        run_intent(spark, {"user_id": 999, "intent": "cancel"}, plans_path, subs_path)
    # a user whose only subscription is inactive has no cancel target either
    run_intent(spark, {"user_id": 101, "intent": "cancel"}, plans_path, subs_path)
    with pytest.raises(ValueError, match="No active subscription for user_id 101"):
        run_intent(spark, {"user_id": 101, "intent": "cancel"}, plans_path, subs_path)


def test_change_error_order(spark, seed_tables):
    """The missing active subscription is reported before the unknown
    plan, as in the reference (:108–109 precede :178–179)."""
    plans_path, subs_path = seed_tables
    bad = {"intent": "change", "selected_plan_name": "Gold"}
    with pytest.raises(ValueError, match="No active subscription for user_id 999"):
        run_intent(spark, {**bad, "user_id": 999}, plans_path, subs_path)
    with pytest.raises(ValueError, match="Selected plan not found: Gold"):
        run_intent(spark, {**bad, "user_id": 102}, plans_path, subs_path)
    # neither error wrote the table
    assert len(json.load(open(subs_path))) == 2


def test_cancel_tiebreak_subscription_id_desc(spark, seed_tables):
    """D2 through cancel: equal start_date → the higher id is cancelled."""
    plans_path, subs_path = seed_tables
    run_intent(spark, {"user_id": 101, "intent": "create"}, plans_path, subs_path)
    res = run_intent(spark, {"user_id": 101, "intent": "cancel"}, plans_path, subs_path)
    assert res.result["subscription_id"] == 1003
    by_id = {r["subscription_id"]: r for r in json.load(open(subs_path))}
    assert by_id[1003]["subscription_status"] == "inactive"
    assert by_id[1001]["subscription_status"] == "active"


def test_only_create_and_change_open_the_catalog(spark, seed_tables, tmp_path):
    """Views, cancels and misses never use the plan catalog, so they
    run without one; a create still needs it."""
    from pyspark.errors import AnalysisException

    _, subs_path = seed_tables
    no_plans = str(tmp_path / "absent" / "plans.json")
    view = run_intent(spark, {"user_id": 101, "intent": "view"}, no_plans, subs_path)
    assert view.result["subscription_id"] == 1001
    with pytest.raises(ValueError, match="No active subscription for user_id 999"):
        run_intent(spark, {"user_id": 999, "intent": "change"}, no_plans, subs_path)
    cancel = run_intent(spark, {"user_id": 102, "intent": "cancel"}, no_plans, subs_path)
    assert cancel.result["subscription_status"] == "inactive"
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        run_intent(spark, {"user_id": 101, "intent": "create"}, no_plans, subs_path)


def _run_in_group(sc, group, fn):
    """Run ``fn`` under job group ``group``; return its result and the
    stage count of every Spark job it launched."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job and SQL-execution events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    return out, [len(st.getJobInfo(j).stageIds) for j in st.getJobIdsForGroup(group)]


def test_spark_jobs_per_intent(spark, seed_tables):
    """Each intent resolves its lookups once: the Spark jobs one
    run_intent launches stay within a fixed budget per intent."""
    plans_path, subs_path = seed_tables
    sc = spark.sparkContext

    def run(kind, conf):
        if kind.endswith("_miss"):
            with pytest.raises(ValueError, match="No active subscription"):
                run_intent(spark, conf, plans_path, subs_path)
        else:
            run_intent(spark, conf, plans_path, subs_path)

    confs = {
        "view": {"user_id": 101, "intent": "view"},
        "create": {"user_id": 101, "intent": "create"},
        "change": {"user_id": 102, "intent": "change", "selected_plan_name": "Team"},
        "cancel": {"user_id": 101, "intent": "cancel"},
        "change_miss": {"user_id": 999, "intent": "change"},
    }
    limits = {"view": 1, "create": 3, "change": 3, "cancel": 2, "change_miss": 1}
    jobs = {}
    for kind, conf in confs.items():
        group = f"jobs-per-intent-{kind}"
        _, stages = _run_in_group(sc, group, lambda: run(kind, conf))
        jobs[kind] = len(stages)
    assert all(jobs[k] <= limits[k] for k in limits), jobs


def test_latest_active_lookup_has_no_exchange(spark, seed_tables):
    """The latest-active lookup is a filtered top-1: one single-stage
    job, no Exchange in the executed plan."""
    from airflow_subscription_etl_spark.plans.pipeline import _latest_active
    from airflow_subscription_etl_spark.sources.io import read_user_subscriptions

    _, subs_path = seed_tables
    lookup = _latest_active(read_user_subscriptions(spark, subs_path), 101).limit(1)
    rows, stages = _run_in_group(
        spark.sparkContext, "latest-active-plan", lookup.collect
    )
    assert [r["subscription_id"] for r in rows] == [1001]
    plan = lookup._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "TakeOrderedAndProject" in plan, plan
    assert stages == [1]


def test_json_sink_collect_has_no_exchange(spark, seed_tables, plan_log):
    """The sink fetches a two-partition union (the create path) in one
    single-stage job, with and without a snapshot of the target path.
    The execution that holds the coalesce also holds the
    order-restoring sort and the limit, and no execution of the write
    has an Exchange."""
    from airflow_subscription_etl_spark.sources.io import (
        _SNAPSHOTS,
        read_user_subscriptions,
        write_json_table,
    )

    _, subs_path = seed_tables
    subs = read_user_subscriptions(spark, subs_path)
    both = subs.unionByName(subs)
    assert both.rdd.getNumPartitions() == 2
    out = subs_path + ".out"
    for snapshot in (False, True):
        if snapshot:  # a path read twice gets its snapshots from the sink
            read_user_subscriptions(spark, out)
            read_user_subscriptions(spark, out)
        plan_log.mark()
        rows, stages = _run_in_group(
            spark.sparkContext,
            f"json-sink-plan-{snapshot}",
            lambda: write_json_table(both, out),
        )
        assert len(rows) == 4 and stages == [1]
        assert (out in _SNAPSHOTS) == snapshot
        plans = plan_log.plans()
        assert not any("Exchange" in p for p in plans), plans
        (fetch,) = [p for p in plans if "Coalesce" in p]
        assert "Sort" in fetch and "CollectLimit" in fetch, fetch


def test_json_parsed_once_per_file_version(spark, seed_tables, plan_log):
    """Over a mixed 20-intent sequence each file's first read is a plain
    scan, parsed by every job that uses it (the first create parses the
    catalog for its lookup and again for its write), and its second
    read makes its snapshot: five JSON scans in the first four intents.
    Every later read is served from the snapshot the last write left,
    so the last 16 intents parse no JSON."""
    plans_path, subs_path = seed_tables
    confs = [
        {"user_id": 101, "intent": "view"},
        {"user_id": 999, "intent": "view"},
        {"user_id": 101, "intent": "create"},
        {"user_id": 102, "intent": "change", "selected_plan_name": "Team"},
        {"user_id": 101, "intent": "view"},
        {"user_id": 101, "intent": "cancel"},
        {"user_id": 103, "intent": "create", "selected_plan_name": "Free"},
        {"user_id": 999, "intent": "cancel"},
        {"user_id": 102, "intent": "view"},
        {"user_id": 103, "intent": "change", "selected_plan_name": "Pro"},
    ] * 2
    plan_log.mark()
    misses = 0
    for i, conf in enumerate(confs):
        if i == 4:
            assert plan_log.json_parses() <= 5, plan_log.plans()
            plan_log.mark()
        try:
            run_intent(spark, conf, plans_path, subs_path)
        except ValueError as e:
            assert "No active subscription for user_id 999" in str(e)
            misses += 1
    assert misses == 2 and len(json.load(open(subs_path))) == 6
    assert plan_log.json_parses() == 0, plan_log.plans()


def _warm(spark, plans_path, subs_path):
    """Read both tables twice, as a process serving many intents does:
    from here on each is served from its file-version snapshot."""
    run_intent(spark, {"user_id": 101, "intent": "create"}, plans_path, subs_path)
    run_intent(
        spark,
        {"user_id": 102, "intent": "change", "selected_plan_name": "Team"},
        plans_path,
        subs_path,
    )


def test_warm_jobs_per_intent(spark, seed_tables):
    """Once the plans snapshot exists, create and change reuse the
    catalog rows collected for it: a warm process launches 1/2/2/2/1
    jobs per view/create/change/cancel/miss."""
    plans_path, subs_path = seed_tables
    _warm(spark, plans_path, subs_path)
    confs = {
        "view": {"user_id": 101, "intent": "view"},
        "create": {"user_id": 103, "intent": "create"},
        "change": {"user_id": 102, "intent": "change", "selected_plan_name": "Pro"},
        "cancel": {"user_id": 101, "intent": "cancel"},
        "change_miss": {"user_id": 999, "intent": "change"},
    }
    jobs = {}
    for kind, conf in confs.items():

        def run():
            try:
                return run_intent(spark, conf, plans_path, subs_path)
            except ValueError as e:
                return e

        out, stages = _run_in_group(spark.sparkContext, f"warm-jobs-{kind}", run)
        assert isinstance(out, ValueError) == kind.endswith("_miss"), out
        jobs[kind] = len(stages)
    assert jobs == {"view": 1, "create": 2, "change": 2, "cancel": 2, "change_miss": 1}


def test_rewritten_catalog_is_collected_again(spark, seed_tables):
    """A new version of ``plans.json`` is a new snapshot: the next
    change collects the catalog again and prices with the new rows."""
    plans_path, subs_path = seed_tables
    _warm(spark, plans_path, subs_path)
    plans = json.load(open(plans_path))
    plans[2]["subscription_price"] = 149
    with open(plans_path, "w") as f:
        json.dump(plans, f, indent=2)
    sc = spark.sparkContext
    for n, (name, diff, jobs) in enumerate(
        [("Pro", -120.0, 3), ("Team", 120.0, 2)]
    ):
        conf = {"user_id": 102, "intent": "change", "selected_plan_name": name}
        res, stages = _run_in_group(
            sc,
            f"catalog-rewrite-{n}",
            lambda: run_intent(spark, conf, plans_path, subs_path),
        )
        assert res.price_difference == diff and len(stages) == jobs
    assert res.plan_labels[2] == "Team - $149.0"


def test_other_session_collects_its_own_catalog(spark, seed_tables):
    """The catalog rows belong to one session's snapshot frame: another
    session collects afresh."""
    plans_path, subs_path = seed_tables
    _warm(spark, plans_path, subs_path)
    other = spark.newSession()
    conf = {"user_id": 102, "intent": "change", "selected_plan_name": "Pro"}
    res, stages = _run_in_group(
        spark.sparkContext,
        "catalog-other-session",
        lambda: run_intent(other, conf, plans_path, subs_path),
    )
    assert res.price_difference == -70.0 and len(stages) == 3


@pytest.mark.parametrize(
    ("conf", "message"),
    [
        ({"intent": "refund"}, "Invalid intent: refund"),
        (
            {"user_id": 999, "intent": "cancel"},
            "No active subscription for user_id 999",
        ),
        (
            {"user_id": 101, "intent": "create", "selected_plan_name": "Gold"},
            "Selected plan not found: Gold",
        ),
    ],
)
def test_error_messages_are_the_references(spark, seed_tables, conf, message):
    """Each lifecycle ``ValueError`` carries exactly the reference's
    text, with nothing appended."""
    plans_path, subs_path = seed_tables
    with pytest.raises(ValueError) as err:
        run_intent(spark, conf, plans_path, subs_path)
    assert str(err.value) == message
