"""CLI surface (__main__.py): subcommands + bare-flag back-compat."""

from __future__ import annotations

import json

from airflow_subscription_etl_spark.__main__ import main
from tests.conftest import SF_DIR


def test_list_filters_and_tags(capsys, spark):
    assert main(["list", "--filter", "minhash"]) == 0
    out = capsys.readouterr().out
    assert "doc_minhash_pairs" in out and "doc_minhash_incremental" in out
    assert "q1_pricing_summary" not in out


def test_query_runs_and_prints_json_rows(capsys, spark):
    assert main(["query", "p1_projection", "--sf-dir", SF_DIR, "--limit", "3"]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    assert len(lines) == 3
    assert all("p_name" in json.loads(l) for l in lines)


def test_query_explain_prints_plan(capsys, spark):
    assert main(["query", "p3_filter", "--sf-dir", SF_DIR, "--explain"]) == 0
    assert "Physical Plan" in capsys.readouterr().out


def test_query_unknown_name_is_error(capsys, spark):
    assert main(["query", "no_such_query"]) == 2
    assert "unknown query" in capsys.readouterr().err


def test_bare_flags_route_to_lifecycle(capsys, spark, seed_tables):
    plans_path, subs_path = seed_tables
    rc = main(
        [
            "--intent",
            "view",
            "--user-id",
            "101",
            "--plans-path",
            plans_path,
            "--subs-path",
            subs_path,
        ]
    )
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["subscription_id"] == 1001


def test_top_level_help_shows_subcommands(capsys):
    import pytest as _pytest

    with _pytest.raises(SystemExit) as exc:
        main(["--help"])
    assert exc.value.code == 0
    out = capsys.readouterr().out
    assert "query" in out and "list" in out and "lifecycle" in out


def test_list_tags_generated_oracles_without_running_them(capsys, spark):
    """The generated-SQL oracles (pure-Python references) must NOT
    execute for a metadata listing — they're tagged by callability."""
    assert main(["list", "--filter", "ivf"]) == 0
    out = capsys.readouterr().out
    assert "emb_ivf_topk                     oracled (generated)" in out


def test_query_limit_zero_streams_every_row(capsys, spark):
    """``--limit 0`` prints one line per result row, streamed rather
    than collected."""
    from airflow_subscription_etl_spark.queries import REGISTRY

    n = REGISTRY["p1_projection"][0](spark, SF_DIR).count()
    assert main(["query", "p1_projection", "--sf-dir", SF_DIR, "--limit", "0"]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == n > 20
    assert all("p_name" in json.loads(l) for l in lines)
