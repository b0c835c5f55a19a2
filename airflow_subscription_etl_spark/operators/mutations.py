"""Mutations M1–M3 (SURVEY.md §2.6) as pure DataFrame→DataFrame transforms.

The reference mutates a list-of-dicts in place and rewrites the whole
file (subscription_flow.py:211–241). Here each mutation is a pure
transform ``subs -> new_subs``; the caller persists via sources.io
(JSON single-file for reference parity, parquet/Delta-style rewrite at
scale). Non-transactional read-modify-write semantics and the
single-writer constraint are documented in SURVEY.md §7.4.1.

M2/M3 are addressed by ``subscription_id``: the caller resolves the
target row (the pipeline's A1 lookup, subscription_flow.py:93–110) and
the mutation is one conditional ``withColumn`` on that key — narrow and
order-preserving, the Spark form of the reference's in-place row edit
(subscription_flow.py:229–241).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .relational import (
    coalesce_default,
    next_subscription_id,
    payment_status_for_price,
)


def insert_subscription(
    subs: DataFrame,
    selected_plan: DataFrame,
    user_id: int,
) -> DataFrame:
    """M1: INSERT — append the new subscription row built from the
    selected plan (E5 row construction, subscription_flow.py:213–225).

    - new id = global max + 1, floor 1000 (A2, :214; decision D4)
    - dates default from the plan with literal fallbacks (P6, :220–221)
    - payment_status = Paid|Free by price (E2, :222)
    """
    new_id = next_subscription_id(subs)
    new_row = selected_plan.select(
        F.lit(new_id).cast("int").alias("subscription_id"),
        F.lit(user_id).cast("int").alias("user_id"),
        F.col("subscription_plan_id").cast("int").alias("subscription_plan_id"),
        F.lit("active").alias("subscription_status"),
        coalesce_default("subscription_plan_start_date", "2025-01-01").alias("start_date"),
        coalesce_default("subscription_plan_end_date", "2025-12-31").alias("end_date"),
        payment_status_for_price(F.col("subscription_price")).alias("payment_status"),
    )
    # allowMissingColumns absorbs the ragged payment_status column
    # (SURVEY.md §7.4.6).
    return subs.unionByName(new_row, allowMissingColumns=True)


def change_subscription_plan(
    subs: DataFrame, subscription_id: int, new_plan_id: int
) -> DataFrame:
    """M2: UPDATE subscription_plan_id on row ``subscription_id``
    (subscription_flow.py:228–234)."""
    return subs.withColumn(
        "subscription_plan_id",
        F.when(
            F.col("subscription_id") == F.lit(subscription_id),
            F.lit(new_plan_id).cast("int"),
        ).otherwise(F.col("subscription_plan_id")),
    )


def cancel_subscription(subs: DataFrame, subscription_id: int) -> DataFrame:
    """M3: soft delete — status → "inactive" on row ``subscription_id``
    (subscription_flow.py:236–242)."""
    return subs.withColumn(
        "subscription_status",
        F.when(
            F.col("subscription_id") == F.lit(subscription_id), F.lit("inactive")
        ).otherwise(F.col("subscription_status")),
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    key_cols: list[str],
    update_cols: list[str] | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """MERGE INTO semantics as a pure transform — the lakehouse CDC
    primitive (matched → UPDATE, not-matched → INSERT, optionally
    matched+flag → DELETE) the reference's whole-file rewrite
    (subscription_flow.py:211–241) generalizes to at scale.

    Plan shape: ONE key-equi-join (left outer from target) resolves
    updates and deletes, one ``left_anti`` resolves inserts; both join
    on the same key, so at scale a bucketed/pre-partitioned target
    pays a single shuffle of the (small) CDC batch — never a rewrite
    of unmatched data, which passes through untouched. With AQE the
    typical CDC batch broadcasts.

    ``update_cols`` defaults to every non-key column. ``delete_col``
    names a boolean column in ``source``; matched rows with it true
    drop from the result, and flagged unmatched rows are NOT inserted.
    Inserted rows take NULL for target columns outside ``update_cols``
    — and a matched update SETS NULL when the source carries NULL
    (``_matched``-gated, not ``coalesce``: a CDC event that nulls a
    field must null it, e.g. PII erasure) — both ANSI MERGE rules.
    ANSI's third rule is enforced too: duplicate keys in ``source``
    raise at execution (``raise_error`` behind a per-key window count
    over the small CDC side), because a fanned-out match would
    silently duplicate target rows.
    """
    update_cols = update_cols or [
        c for c in target.columns if c not in key_cols
    ]
    missing = [c for c in update_cols if c not in source.columns]
    if missing:
        raise ValueError(f"source lacks update columns: {missing}")
    src_cols = key_cols + update_cols + ([delete_col] if delete_col else [])
    wk = Window.partitionBy(*key_cols)
    s = source.select(*src_cols).withColumn(
        "_kn", F.count(F.lit(1)).over(wk)
    )
    # the guard rides ON the first key column (not a dead side column
    # Catalyst would prune away), so it must evaluate wherever the key does
    k0 = key_cols[0]
    s = s.withColumn(
        k0,
        F.when(
            F.col("_kn") > 1,
            F.raise_error(
                F.concat(
                    F.lit("merge_upsert: duplicate source key ("),
                    F.concat_ws(
                        ",", *[F.col(k).cast("string") for k in key_cols]
                    ),
                    F.lit(") — ANSI MERGE forbids multiple matched rows"),
                )
            ),
        ).otherwise(F.col(k0)),
    ).drop("_kn")
    s_upd = s.select(
        *key_cols,
        *[F.col(c).alias(f"_src_{c}") for c in update_cols],
        *(
            [F.coalesce(F.col(delete_col), F.lit(False)).alias("_src_del")]
            if delete_col
            else []
        ),
        F.lit(True).alias("_matched"),
    )
    upd = target.join(s_upd, key_cols, "left")
    if delete_col:
        upd = upd.filter(~F.coalesce(F.col("_src_del"), F.lit(False)))
    matched = F.coalesce(F.col("_matched"), F.lit(False))
    merged = upd.select(
        *key_cols,
        *[
            F.when(matched, F.col(f"_src_{c}")).otherwise(F.col(c)).alias(c)
            if c in update_cols
            else F.col(c)
            for c in target.columns
            if c not in key_cols
        ],
    )
    ins = s.join(target.select(*key_cols), key_cols, "left_anti")
    if delete_col:
        ins = ins.filter(~F.coalesce(F.col(delete_col), F.lit(False))).drop(
            delete_col
        )
    return merged.unionByName(
        ins.select(*key_cols, *update_cols), allowMissingColumns=True
    )
