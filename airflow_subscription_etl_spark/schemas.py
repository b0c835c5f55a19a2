"""Explicit StructType schemas.

The reference has no schema declarations — fields materialize out of
``dict.get(key, default)`` (subscription_flow.py:97,102,214,220–221).
Here every table gets an explicit schema; read-time defaults become
``F.coalesce`` at use sites (SURVEY.md §1.4–1.5).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- Reference-domain tables (FIXTURES.md §1) -------------------------------

#: plans catalog — /root/reference/data/plans.json:2–4.
#: subscription_price is int-in-file but consumed as float
#: (subscription_flow.py:124,175,181,222) → DoubleType (decision §7.4.5).
PLANS_SCHEMA = T.StructType(
    [
        T.StructField("subscription_plan_id", T.IntegerType(), False),
        T.StructField("subscription_plan_name", T.StringType(), False),
        T.StructField("subscription_price", T.DoubleType(), False),
        # ISO YYYY-MM-DD strings; lexicographic == chronological ordering,
        # matching the reference's string compare (subscription_flow.py:102).
        T.StructField("subscription_plan_start_date", T.StringType(), True),
        T.StructField("subscription_plan_end_date", T.StringType(), True),
    ]
)

#: user_subscriptions fact — /root/reference/data/user_subscriptions.json:2–3.
#: payment_status is the ragged column: absent on seed rows, written by the
#: pipeline (subscription_flow.py:222) → nullable.
USER_SUBSCRIPTIONS_SCHEMA = T.StructType(
    [
        T.StructField("subscription_id", T.IntegerType(), False),
        T.StructField("user_id", T.IntegerType(), True),
        T.StructField("subscription_plan_id", T.IntegerType(), False),
        T.StructField("subscription_status", T.StringType(), False),
        T.StructField("start_date", T.StringType(), False),
        T.StructField("end_date", T.StringType(), False),
        T.StructField("payment_status", T.StringType(), True),
    ]
)

#: Seed fixtures, exact reference values (FIXTURES.md §1).
PLANS_SEED = [
    (1, "Free", 0.0, "2025-01-01", "2025-12-31"),
    (2, "Pro", 29.0, "2025-01-01", "2025-12-31"),
    (3, "Team", 99.0, "2025-01-01", "2025-12-31"),
]

USER_SUBSCRIPTIONS_SEED = [
    (1001, 101, 1, "active", "2025-01-01", "2025-12-31", None),
    (1002, 102, 2, "active", "2025-02-01", "2025-12-31", None),
]

# --- Driver star schema (TESTDATA.md / FIXTURES.md §2) ----------------------
# Batch reads take each table's schema from its own parquet footer
# (sources.io.read_star_table), so nothing here pins them. These are the
# normalized shapes those reads return, for schema-pinned streaming
# reads (streaming sources can't infer) and test frames.

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        T.StructField("label", T.IntegerType(), True),
    ]
)

#: Multimodal column convention (north-star): opaque payload + typed
#: metadata. The decode step is stubbed (no codec libs in this container);
#: the schema/partitioning/UDF plumbing is real (operators/multimodal.py).
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("format", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

STAR_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
