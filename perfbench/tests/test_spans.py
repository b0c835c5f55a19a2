"""Span recorder and event-log folder, on a tiny local run."""

from __future__ import annotations

import os
import re
import time

import pytest

import datagen
import spans as tr


def test_self_time_subtracts_children():
    rec = tr.Recorder()
    with rec.span("op", "outer"):
        time.sleep(0.02)
        with rec.span("queries", "inner"):
            time.sleep(0.05)
    outer, inner = rec.spans
    assert inner.parent == outer.sid
    assert outer.child_s == pytest.approx(inner.dur)
    assert outer.self_s == pytest.approx(outer.dur - inner.dur)
    assert 0.015 < outer.self_s < inner.dur
    assert tr.child_coverage(rec, "op") == {outer.sid: pytest.approx(inner.dur / outer.dur)}


@pytest.fixture(scope="module")
def star(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("star"))
    datagen.write_star(d, 0.001)
    return d


def _session(tmp, event_dir=None):
    from airflow_subscription_etl_spark import session

    conf = {"spark.ui.enabled": "false"}
    if event_dir:
        conf.update(tr.event_log_conf(event_dir))
    return session.get_spark("perfbench-test", master="local[2]", extra_conf=conf)


def _explain(df) -> str:
    s = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "extended")
    return re.sub(r"(#|plan_id=)\d+L?", r"\1", s)


def test_traced_run_keeps_plan_and_attributes_jobs(star, tmp_path):
    from airflow_subscription_etl_spark import queries

    spark = _session(tmp_path)
    untraced = _explain(queries.REGISTRY["pareto_customers"][0](spark, star))
    spark.stop()

    event_dir = str(tmp_path / "events")
    os.makedirs(event_dir)
    spark = _session(tmp_path, event_dir)
    rec = tr.Recorder()
    restore = tr.instrument(rec)
    try:
        with rec.span("op", "pareto_customers"):
            with rec.span("queries", "pareto_customers"):
                df = queries.REGISTRY["pareto_customers"][0](spark, star)
            traced = _explain(df)
            with rec.span("spark.exec", "pareto_customers"):
                df.write.format("noop").mode("overwrite").save()
        with rec.span("op", "range"):
            spark.range(1000, numPartitions=3).selectExpr("sum(id)").collect()
    finally:
        restore()
        spark.stop()
    assert traced == untraced
    assert queries.read_star_table.__name__ == "read_star_table"
    assert not hasattr(queries.read_star_table, "__wrapped__")

    layers = {s.layer for s in rec.spans}
    assert {"sources", "operators.scale"} <= layers
    jobs = tr.fold_event_log(tr.find_event_log(event_dir))
    by_span = tr.jobs_by_span(jobs)
    exec_span = next(s for s in rec.spans if s.layer == "spark.exec")
    assert by_span[exec_span.sid], "the noop-sink action's jobs carry its span id"
    range_op = next(s for s in rec.spans if s.name == "range")
    range_jobs = by_span[range_op.sid]
    assert sum(j.tasks for j in range_jobs) >= 3
    assert sum(j.failed_tasks for j in range_jobs) == 0
    assert all(j.group is None or j.group.startswith("pb") for j in jobs.values())
