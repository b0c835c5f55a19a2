"""CLI entry point.

Three subcommands; bare flags keep working as the lifecycle trigger
(the reference's manual ``dag_run.conf``, subscription_flow.py:52–60):

lifecycle (default)::

    python -m airflow_subscription_etl_spark \
        --intent create --user-id 101 --plan Pro \
        --plans-path data/plans.json --subs-path data/user_subscriptions.json

Prints the result record as indented JSON — the reference's
notify_user log sink (subscription_flow.py:256).

query — run any of the registered analytics queries against a star
directory (TESTDATA.md layout) and print JSON rows (or the physical
plan with ``--explain``)::

    python -m airflow_subscription_etl_spark query q1_pricing_summary \
        --sf-dir /root/testdata/sf0.01 --limit 10

list — enumerate the registered query surface::

    python -m airflow_subscription_etl_spark list --filter minhash
"""

from __future__ import annotations

import argparse
import json
import sys


def _lifecycle(args) -> int:
    from . import get_spark  # noqa: PLC0415 — spark only after arg errors
    from .plans.pipeline import run_intent  # noqa: PLC0415

    conf = {"user_id": args.user_id, "intent": args.intent}
    if args.plan is not None:
        conf["selected_plan_name"] = args.plan

    spark = get_spark("cli")
    try:
        res = run_intent(
            spark, conf, plans_path=args.plans_path, subs_path=args.subs_path
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    print(res.notify_json())
    return 0


def _query(args) -> int:
    from . import get_spark  # noqa: PLC0415
    from .queries import REGISTRY  # noqa: PLC0415

    if args.name not in REGISTRY:
        print(f"error: unknown query {args.name!r} (see `list`)", file=sys.stderr)
        return 2
    fn, _ = REGISTRY[args.name]
    spark = get_spark("cli-query")
    df = fn(spark, args.sf_dir)
    if args.explain:
        print(df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        ))
        return 0
    # --limit 0 streams every row, one partition at a time, instead of
    # collecting the whole result on the driver
    rows = df.limit(args.limit).collect() if args.limit else df.toLocalIterator()
    for r in rows:
        print(json.dumps(r.asDict(recursive=True), default=str))
    return 0


def _list(args) -> int:
    from .queries import REGISTRY  # noqa: PLC0415

    # classify WITHOUT invoking oracle callables: the generated-SQL
    # oracles recompute full pure-Python references (minutes of work,
    # and fixture-dependent) — a metadata listing must not run them
    for name, (_fn, sql) in REGISTRY.items():
        if args.filter and args.filter not in name:
            continue
        if sql is None:
            tag = "rows-only"
        elif callable(sql):
            tag = "oracled (generated)"
        else:
            tag = "oracled"
        print(f"{name:32s} {tag}")
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    # back-compat: bare flags mean the lifecycle trigger — but leave
    # top-level -h/--help alone so the subcommands stay discoverable
    if argv and argv[0].startswith("-") and argv[0] not in ("-h", "--help"):
        argv = ["lifecycle", *argv]

    p = argparse.ArgumentParser(prog="airflow_subscription_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    lc = sub.add_parser("lifecycle", help="run one intent (reference DAG trigger)")
    lc.add_argument(
        "--intent",
        default="view",
        help="create | change | cancel | view (default: view)",
    )
    lc.add_argument("--user-id", type=int, default=0)
    lc.add_argument("--plan", default=None, help="selected plan name")
    lc.add_argument("--plans-path", required=True)
    lc.add_argument("--subs-path", required=True)
    lc.set_defaults(fn=_lifecycle)

    q = sub.add_parser("query", help="run a registered analytics query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    q.add_argument("--limit", type=int, default=20, help="0 = all rows")
    q.add_argument("--explain", action="store_true", help="print the plan instead")
    q.set_defaults(fn=_query)

    ls = sub.add_parser("list", help="list registered queries")
    ls.add_argument("--filter", default=None)
    ls.set_defaults(fn=_list)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
