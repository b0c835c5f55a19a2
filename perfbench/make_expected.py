"""Write ``perfbench/expected.json``: input fingerprints and the expected
output of every batch query.

    python3 perfbench/make_expected.py      (from the repository root)

For each query of the ``batch`` workload (the relational ones on the
8x replica, the corpus ones on the sf0.1 tables) it records the row
count and order-insensitive digest of the DuckDB ``oracle_sql()``
result on the exact input the benchmark times, after checking that
Spark's output has the same digest.
Queries without oracle SQL get Spark's row count only. Exits 1, writing
nothing, if any Spark output disagrees with its oracle.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as runner  # noqa: E402
import workloads as wl  # noqa: E402


def duck_views(con, d: str) -> None:
    for name in os.listdir(d):
        if name.endswith(".parquet"):
            path = os.path.join(d, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")


def expectations(spark, queries: list[str], d: str) -> tuple[dict, list[str]]:
    import duckdb

    from airflow_subscription_etl_spark.queries import REGISTRY

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = d
    con = duckdb.connect()
    duck_views(con, d)
    out, bad = {}, []
    for q in queries:
        fn, sql = REGISTRY[q]
        sql = sql() if callable(sql) else sql
        pdf = fn(spark, d).toPandas()
        if sql is None:
            out[q] = {"rows": len(pdf), "digest": None}
        else:
            out[q] = wl.oracle_expectation(con, sql)
            err = wl.check_output(pdf, out[q])
            if err:
                bad.append(f"{q}: {err}")
        print(f"{q:28s} {out[q]}", file=sys.stderr)
    con.close()
    return out, bad


def main() -> int:
    root = os.getcwd()
    os.makedirs(runner.CACHE, exist_ok=True)
    d = wl.ensure_star(runner.CACHE, wl.STAR_SF, None)
    inputs = {f"sf{wl.STAR_SF}": wl.table_fingerprints(d)}
    scratch = tempfile.mkdtemp(prefix="expected_", dir=runner.CACHE)
    try:
        runner.configure_env(root, scratch)
        from airflow_subscription_etl_spark import session

        spark = session.get_spark("perfbench-expected", extra_conf=runner.spark_conf(scratch, None))
        try:
            x8 = os.path.join(scratch, "x8")
            wl.build_x8(wl.star_dir(runner.CACHE, wl.STAR_SF), x8, wl.x8_facts())
            analytics, bad_a = expectations(spark, list(wl.X8_QUERIES), x8)
            corpus, bad_c = expectations(
                spark, wl.CORPUS_QUERIES, wl.star_dir(runner.CACHE, wl.STAR_SF)
            )
        finally:
            spark.stop()
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if bad_a or bad_c:
        print("Spark disagrees with the oracle:", *bad_a, *bad_c, sep="\n  ", file=sys.stderr)
        return 1
    doc = {"inputs": inputs, "batch": {**analytics, **corpus}}
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
