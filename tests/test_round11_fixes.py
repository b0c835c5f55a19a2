"""Round-11 hardening — VERDICT r10 #1 + ADVICE r10:

- ``tools/plan_lint``'s ``single-partition-window`` rule actually
  FIRES now (it grepped for the literal line ``Exchange
  SinglePartition``, which formatted-mode explain never emits — the
  tree says ``Exchange (5)`` and ``SinglePartition`` lives in the
  node's ``Arguments:`` detail block — so the rule had been dead code
  and the whole-registry "no single-partition windows" claim was
  vacuously true). Positive cases pin it fires; negative cases pin
  the global-agg / keyed-window shapes stay clean; the two EXEMPT
  entries are pinned LIVE (the flag fires on those queries before
  exemption — an exemption for a flag that can't fire is dead weight).
- ``scale._monotone_id_key``: the string-key expression depends on
  Spark >= 3.3 byte-wise ``rpad`` over BINARY; older versions fall
  back to ``None`` (one fine partition per tie class) instead of
  silently scrambling ranks (ADVICE r10).
"""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, "tools")

import plan_lint  # noqa: E402

SF = "/root/testdata/sf0.001"


# ----------------------------------------------- single-partition-window


def test_spw_flags_unpartitioned_window(spark):
    """The canonical anti-pattern — row_number with no partitionBy —
    must flag (it funnels the whole dataset through one task)."""
    df = spark.range(100).withColumn(
        "r", F.row_number().over(Window.orderBy("id"))
    )
    flags = plan_lint.lint_plan(plan_lint.render_plan(df))
    assert "single-partition-window" in flags
    assert "SinglePartition" in flags["single-partition-window"]


def test_spw_clean_on_global_agg_and_keyed_window(spark):
    """A SinglePartition exchange feeding a final global aggregate is
    the NORMAL plan; a keyed window has no SinglePartition exchange.
    Neither may flag."""
    agg = spark.range(100).groupBy().agg(F.sum("id").alias("s"))
    assert "single-partition-window" not in plan_lint.lint_plan(
        plan_lint.render_plan(agg)
    )
    keyed = spark.range(100).withColumn("k", F.col("id") % 7).withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("id"))
    )
    assert "single-partition-window" not in plan_lint.lint_plan(
        plan_lint.render_plan(keyed)
    )


def test_spw_clean_when_sort_sits_past_an_aggregate(spark):
    """A Sort ABOVE a global aggregate that itself sits above the
    SinglePartition exchange is sorting the (bounded) agg output, not
    the exchanged data — the orders_profile / dq_expectations shape.
    The unary-chain walk must stop at the aggregate."""
    df = (
        spark.range(100)
        .groupBy()
        .agg(F.sum("id").alias("s"), F.max("id").alias("m"))
        .select(F.explode(F.array("s", "m")).alias("v"))
        .orderBy("v")
    )
    assert "single-partition-window" not in plan_lint.lint_plan(
        plan_lint.render_plan(df)
    )


@pytest.mark.parametrize(
    "name", ["q11_important_suppliers", "sql_segment_revenue"]
)
def test_spw_exemptions_are_live(spark, name):
    """The two EXEMPT sites must actually flag pre-exemption — the
    exemption documents a REAL (bounded, deliberate) single-partition
    window, not a stale entry."""
    from airflow_subscription_etl_spark.queries import REGISTRY

    assert "single-partition-window" in plan_lint.EXEMPT[name]
    fn, _ = REGISTRY[name]
    flags = plan_lint.lint_plan(plan_lint.render_plan(fn(spark, SF)))
    assert "single-partition-window" in flags


# ------------------------------------------- span de-skew (VERDICT r10 #2)


def _hot_corpus(spark):
    """Every doc shares one viral chunk ('subscribe to our newsletter'
    — the exact shape boilerplate_df targets); each also has unique
    content, and docs a/b share a genuine duplicate span."""
    rows = [
        ("a", "subscribe to our newsletter alpha beta gamma delta"),
        ("b", "subscribe to our newsletter alpha beta gamma delta"),
        ("c", "subscribe to our newsletter unique c words here now"),
        ("d", "subscribe to our newsletter more d content entirely"),
        ("e", "subscribe to our newsletter still other e text body"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_span_rewrite_hot_digest_no_window_and_correct(spark):
    """The de-skewed span rewrite on a corpus with a chunk in EVERY
    doc: (a) the physical plan contains NO Window node — the hot
    digest can never funnel one task; (b) keep/drop/boilerplate
    accounting is exactly the r10 semantics."""
    from airflow_subscription_etl_spark.operators.dedup import (
        span_dedup_rewrite,
    )

    df = _hot_corpus(spark)
    out = span_dedup_rewrite(df, span=4, boilerplate_df=5)
    plan = plan_lint.render_plan(out)
    assert "Window" not in plan.split("\n\n")[0]
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    # span=4 → chunk0 = 'subscribe to our newsletter' in all 5 docs →
    # boilerplate (df >= 5), dropped once from every doc
    assert all(g["n_boiler_dropped"] == 1 for g in got.values())
    # a/b share their tail chunk: a (smaller id) keeps, b drops as dup
    assert got["a"]["n_kept"] == 1 and got["a"]["n_dup_dropped"] == 0
    assert got["b"]["n_kept"] == 0 and got["b"]["n_dup_dropped"] == 1
    assert got["b"]["text_clean"] == ""
    assert got["a"]["text_clean"] == "alpha beta gamma delta"
    # c/e have 9 tokens → 3 chunks (2 unique survive); d has 8 → 2
    assert got["c"]["n_kept"] == 2 and got["c"]["n_dup_dropped"] == 0
    assert got["c"]["text_clean"] == "unique c words here now"
    assert got["d"]["n_kept"] == 1 and got["e"]["n_kept"] == 2


def test_span_dedup_signal_hot_digest_no_window(spark):
    """span_dedup (the stats sibling) got the same de-skew: per-digest
    occurrence counts are an aggregate joined back, never a window."""
    from airflow_subscription_etl_spark.operators.dedup import span_dedup

    out = span_dedup(_hot_corpus(spark), span=4)
    assert "Window" not in plan_lint.render_plan(out).split("\n\n")[0]
    got = {r["doc_id"]: r.asDict() for r in out.collect()}
    # every doc's chunk0 occurs 5x -> dup; a/b's tail chunk occurs 2x
    assert got["c"]["n_dup_chunks"] == 1 and got["c"]["n_chunks"] == 3
    assert got["a"]["n_dup_chunks"] == 2 and got["b"]["n_dup_chunks"] == 2


def test_span_stream_hot_digest_no_window(spark, tmp_path):
    """The streaming face's per-epoch cleaning is window-free too, and
    a hot digest crossing the boilerplate threshold mid-stream drops
    from that epoch onward (unchanged r10 semantics)."""
    from airflow_subscription_etl_spark.streaming.span_stream import (
        process_span_batch,
    )

    root = str(tmp_path / "span")
    df = _hot_corpus(spark)
    process_span_batch(
        df.filter(F.col("doc_id").isin("a", "b", "c")), 0, root,
        span=4, boilerplate_df=4,
    )
    process_span_batch(
        df.filter(F.col("doc_id").isin("d", "e")), 1, root,
        span=4, boilerplate_df=4,
    )
    b0 = {
        r["doc_id"]: r.asDict()
        for r in spark.read.parquet(f"{root}/cleaned/batch=0").collect()
    }
    b1 = {
        r["doc_id"]: r.asDict()
        for r in spark.read.parquet(f"{root}/cleaned/batch=1").collect()
    }
    # epoch 0: hot chunk at 3 distinct docs < 4 -> kept once (doc a)
    assert b0["a"]["n_kept"] == 2 and b0["b"]["n_dup_dropped"] == 2
    assert b0["c"]["n_kept"] == 2 and b0["c"]["n_dup_dropped"] == 1
    # epoch 1: history 3 + epoch 2 >= 4 -> boilerplate from here on
    assert b1["d"]["n_boiler_dropped"] == 1 and b1["e"]["n_boiler_dropped"] == 1
    assert b1["d"]["n_kept"] == 1 and b1["e"]["n_kept"] == 2


# --------------------------------------------------- ADVICE r10 fixes


def test_monotone_id_key_falls_back_on_old_spark(spark, monkeypatch):
    """String ids degrade to kexpr=None below Spark 3.3 (character-wise
    rpad would scramble the key) instead of silently wrong ranks."""
    from airflow_subscription_etl_spark.operators.scale import (
        _monotone_id_key,
    )

    df = spark.createDataFrame([("a",)], "doc_id string")
    assert _monotone_id_key(df, "doc_id") is not None  # pinned >= 3.3
    monkeypatch.setattr(
        type(spark), "version", property(lambda self: "3.2.4")
    )
    assert _monotone_id_key(df, "doc_id") is None
    monkeypatch.setattr(
        type(spark), "version", property(lambda self: "weird-build")
    )
    assert _monotone_id_key(df, "doc_id") is None
    # integral ids never depended on rpad — unaffected by version
    dfi = spark.createDataFrame([(1,)], "doc_id bigint")
    assert _monotone_id_key(dfi, "doc_id") is not None
