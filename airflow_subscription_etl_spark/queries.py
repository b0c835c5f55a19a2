"""Oracle-checked query surface — the SURVEY.md §2 contract.

Every operator family from the reference (P/J/A/E; SURVEY.md §2.2–2.5)
and every north-star extension gets a named query here: a PySpark
callable ``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible)
a DuckDB oracle string over the same parquet tables. The driver
hash-compares them at sf0.01.

Engine-portability rules used throughout (so value-hashes match):

- **Money aggregation** uses exact scaled-integer arithmetic: every
  money column in the testdata is an exact ≤2-decimal double (verified),
  so ``sum(cast(round(x*100) as bigint))/100.0`` is bit-identical in
  Spark and DuckDB, immune to FP summation order (which differs between
  engines and between partitionings of the same engine). At true 100 TB
  the same queries would use DECIMAL columns; the scaled-bigint form is
  the double-typed equivalent with deterministic semantics.
- **Timestamps** render as strings (``date_format`` / ``strftime``) so
  engine-side epoch conventions can't leak into the hash.
- **Ranking/limits** always carry a total order (unique key tiebreak).
- **Sums of full-precision random doubles** (e.g. events.value) are NOT
  oracle-hashed — no rounding makes cross-engine FP summation exact;
  those queries hash counts/mins/maxes and keep the double sums in
  rows-only variants.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.expressions import iso_date_str, label_expr
from .operators import dedup, similarity, sketch, text
from .oracles.lsh_ref import (
    sql_doc_minhash_pairs,
    sql_doc_simhash_pairs,
    sql_emb_ivf_topk,
    sql_emb_ivfpq_topk,
)
from .operators.relational import top1_per_key
from .sources.io import read_star_table
from .streaming.events import sessionize_batch, sliding_counts, tumbling_counts

# --------------------------------------------------------------------------
# helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_star_table(spark, sf_dir, name)


def money_sum(col: F.Column, scale: int = 100, alias: str | None = None) -> F.Column:
    """Exact sum of a ≤2-decimal double via scaled bigint (see module doc)."""
    c = F.sum(F.round(col * scale).cast("bigint")) / F.lit(float(scale))
    return c.alias(alias) if alias else c


# --------------------------------------------------------------------------
# P/E: projections, filters, scalar expressions


def q_p1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: column projection (subscription_flow.py:84–87)."""
    return _t(spark, sf_dir, "part").select("p_name", "p_brand", "p_type")


SQL_P1 = "SELECT p_name, p_brand, p_type FROM part"


def q_p2_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/E3: computed label `f"{name} - ${price}"` (subscription_flow.py:88–91)."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_name",
        label_expr(F.col("p_name"), F.col("p_retailprice")).alias("plan_label"),
    )


SQL_P2 = (
    "SELECT p_name, p_name || ' - $' || CAST(p_retailprice AS VARCHAR) AS plan_label "
    "FROM part"
)


def q_p3_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: conjunctive equality filter (subscription_flow.py:95–98).

    Both predicates push down to the parquet scan (PushedFilters).
    """
    return (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderstatus") == "O") & (F.col("o_custkey") % 10 == 7))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            iso_date_str(F.col("o_orderdate")).alias("o_orderdate_str"),
        )
    )


SQL_P3 = (
    "SELECT o_orderkey, o_custkey, o_totalprice, "
    "strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str "
    "FROM orders WHERE o_orderstatus = 'O' AND o_custkey % 10 = 7"
)


def q_p5_p6_cast_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 casts + P6 defaulting (subscription_flow.py:59,97,214,220–221).

    floor-then-cast (not bare cast) because Spark truncates double→int
    while DuckDB rounds — floor pins both.
    """
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.floor("o_totalprice").cast("int").alias("price_int"),
        F.coalesce(
            F.when(F.col("o_orderpriority") != "1-URGENT", F.col("o_orderpriority")),
            F.lit("URGENT_DEFAULT"),
        ).alias("priority_norm"),
    )


SQL_P5_P6 = (
    "SELECT o_orderkey, CAST(FLOOR(o_totalprice) AS INTEGER) AS price_int, "
    "COALESCE(NULLIF(o_orderpriority, '1-URGENT'), 'URGENT_DEFAULT') AS priority_norm "
    "FROM orders"
)


def q_e1_e2_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 arithmetic + E2 CASE WHEN (subscription_flow.py:181,222).

    net_revenue is a per-row product of exact ≤2-decimal doubles —
    deterministic IEEE, identical across engines (no summation).
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "net_revenue"
        ),
        F.when(F.col("l_discount") > 0, F.lit("Paid"))
        .otherwise(F.lit("Free"))
        .alias("payment_status"),
    )


SQL_E1_E2 = (
    "SELECT l_orderkey, l_linenumber, "
    "l_extendedprice * (1.0 - l_discount) AS net_revenue, "
    "CASE WHEN l_discount > 0 THEN 'Paid' ELSE 'Free' END AS payment_status "
    "FROM lineitem"
)


def q_e5_e6_row_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 row construction + E6 to_json (subscription_flow.py:215–223,256)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.to_json(F.struct("c_custkey", "c_name", "c_mktsegment")).alias("row_json"),
    )


SQL_E5_E6 = (
    "SELECT c_custkey, to_json(struct_pack(c_custkey := c_custkey, "
    "c_name := c_name, c_mktsegment := c_mktsegment))::VARCHAR AS row_json "
    "FROM customer"
)


# --------------------------------------------------------------------------
# J: joins


def q_j1_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: broadcast equi lookup join (subscription_flow.py:121).

    customer plays the plans catalog; explicitly broadcast — zero
    shuffle of the fact side.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return o.join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"], "inner"
    ).select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


SQL_J1 = (
    "SELECT o_orderkey, o_totalprice, c_name, c_mktsegment "
    "FROM orders JOIN customer ON o_custkey = c_custkey"
)


def q_j2_left_existence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/J3: left lookup + existence flag (subscription_flow.py:177–179)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"], "left")
        .select(
            "n_nationkey",
            "n_name",
            "r_name",
            F.col("r_name").isNotNull().alias("has_region"),
        )
    )


SQL_J2 = (
    "SELECT n_nationkey, n_name, r_name, (r_name IS NOT NULL) AS has_region "
    "FROM nation LEFT JOIN region ON n_regionkey = r_regionkey"
)


def q_j4_latest_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: A1 top-1-per-key composed with the broadcast lookup
    (subscription_flow.py:118–125) — the `change`/`view` intent shape
    on the star schema: latest order per customer + customer attrs."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    latest = top1_per_key(
        o, "o_custkey", [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    )
    return latest.join(F.broadcast(c), latest["o_custkey"] == c["c_custkey"]).select(
        "c_custkey",
        "c_name",
        "o_orderkey",
        iso_date_str(F.col("o_orderdate")).alias("o_orderdate_str"),
        "o_totalprice",
    )


SQL_J4 = """
WITH latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str, o_totalprice
FROM latest JOIN customer ON o_custkey = c_custkey
WHERE rn = 1
"""


# --------------------------------------------------------------------------
# A: aggregations


def q_a1_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: top-1 per key with deterministic tiebreak
    (subscription_flow.py:93–103; decisions D1/D2)."""
    o = _t(spark, sf_dir, "orders")
    return top1_per_key(
        o, "o_custkey", [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    ).select(
        "o_custkey",
        "o_orderkey",
        iso_date_str(F.col("o_orderdate")).alias("o_orderdate_str"),
        "o_totalprice",
    )


SQL_A1 = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str, o_totalprice
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


def q_a2_next_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: global max+1 ID allocation (subscription_flow.py:214; D4)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        (F.coalesce(F.max("o_orderkey"), F.lit(1000)) + F.lit(1)).alias("next_id")
    )


SQL_A2 = "SELECT COALESCE(MAX(o_orderkey), 1000) + 1 AS next_id FROM orders"


def q_a3_existence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: emptiness/existence as a count (subscription_flow.py:99–100)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_orders"))


SQL_A3 = "SELECT o_orderstatus, COUNT(*) AS n_orders FROM orders GROUP BY o_orderstatus"


# --------------------------------------------------------------------------
# TPC-H-shaped headline queries (bench + correctness)


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: grouped aggregate over lineitem.

    All sums via exact scaled-bigint (module doc); averages derived
    from those exact sums → identical doubles in both engines.
    Map-side partial agg + one 6-group shuffle; scan reads only 7 cols.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc * (F.lit(1.0) + F.col("l_tax"))
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        money_sum(F.col("l_extendedprice"), 100, "sum_base_price"),
        money_sum(disc, 10000, "sum_disc_price"),
        money_sum(charge, 1000000, "sum_charge"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).alias("avg_price"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


SQL_Q1 = """
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
         SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0
           AS sum_disc_price,
         SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1000000) AS BIGINT)) / 1000000.0
           AS sum_charge,
         COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, sum_charge,
       CAST(sum_qty AS DOUBLE) / count_order AS avg_qty,
       sum_base_price / count_order AS avg_price,
       count_order
FROM agg
"""


def q_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + grouped revenue + deterministic top-10.

    customer is broadcast (dim-sized); orders⋈lineitem shuffles on
    o_orderkey — the natural co-partitioning key at scale. r14 (guide
    §2.3 — aggregate before you shuffle): the grouped revenue's keys
    are all functionally determined by o_orderkey, so the lineitem
    side pre-aggregates its exact micro-revenue per orderkey BELOW
    the join — map-side partial aggregation collapses each order's
    lines before the exchange, the join's li-side partitioning IS the
    agg's (no extra exchange), and the post-join per-order re-agg
    disappears (orders are unique per key, so the join is 1:1).
    Integer micro sums are associative, so the revenue is bit-equal.
    """
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    li_rev = li.groupBy("l_orderkey").agg(
        F.sum(F.round(disc * 10000).cast("bigint")).alias("_rev_micro")
    )
    joined = (
        li_rev.join(o, li_rev["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
    )
    return (
        joined.select(
            "o_orderkey",
            iso_date_str(F.col("o_orderdate")).alias("o_orderdate_str"),
            "o_orderpriority",
            (F.col("_rev_micro") / F.lit(10000.0)).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


SQL_Q3 = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
       o_orderpriority,
       SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q_q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join, revenue per nation.

    region/nation/supplier/customer all broadcast. r14 (guide §2.3 /
    §3.2 — reduce the big side BEFORE shuffling it): the ASIA
    region→nation→supplier/customer restriction (selectivity 1/5) now
    applies to BOTH fact sides ahead of the one big shuffle, so the
    lineitem⋈orders orderkey exchange carries a fifth of each table;
    the same-nation customer⋈supplier constraint rides the orderkey
    join as a residual condition. The pre-r14 declared order joined
    the full facts first — Catalyst doesn't reorder joins across a
    broadcast chain without CBO stats.
    """
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    asia_n = n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    s_asia = s.join(
        F.broadcast(asia_n), s["s_nationkey"] == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    c_asia = c.join(
        F.broadcast(asia_n.select(F.col("n_nationkey").alias("_cn"))),
        c["c_nationkey"] == F.col("_cn"),
    ).select("c_custkey", "c_nationkey")
    li_asia = li.select("l_orderkey", "l_suppkey", disc.alias("_disc")).join(
        F.broadcast(s_asia), li["l_suppkey"] == s_asia["s_suppkey"]
    )
    o_asia = o.select("o_orderkey", "o_custkey").join(
        F.broadcast(c_asia), o["o_custkey"] == c_asia["c_custkey"]
    )
    joined = li_asia.join(
        o_asia,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("c_nationkey") == F.col("s_nationkey")),
    )
    return (
        joined.groupBy("n_name")
        .agg(money_sum(F.col("_disc"), 10000, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


SQL_Q5 = """
SELECT n_name,
       SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def q_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20.

    r14 (guide §2.3 — the q3 move): returned-revenue micro sums
    pre-aggregate per orderkey below the join, so map-side combine
    collapses each order's R-lines before the one orderkey exchange
    and the per-customer re-agg sums one bigint per order instead of
    one per line. Integer micro sums are associative — bit-equal."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    disc = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    li_rev = li.groupBy("l_orderkey").agg(
        F.sum(F.round(disc * 10000).cast("bigint")).alias("_rev_micro")
    )
    joined = li_rev.join(o, li_rev["l_orderkey"] == o["o_orderkey"]).join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"]
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            (F.sum("_rev_micro") / F.lit(10000.0)).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


SQL_Q10 = """
SELECT c_custkey, c_name, c_mktsegment,
       SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT)) / 10000.0
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# events: windowed / sessionized / JSON


def q_ev_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows per event_type (batch form of the
    streaming op; streaming path adds the watermark)."""
    ev = _t(spark, sf_dir, "events")
    out = tumbling_counts(ev, "10 minutes")
    return out.select(
        F.date_format("w_start", "yyyy-MM-dd HH:mm:ss").alias("w_start_str"),
        "event_type",
        "n_events",
    )


SQL_EV_TUMBLING = """
SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S')
         AS w_start_str,
       event_type, COUNT(*) AS n_events
FROM events GROUP BY 1, 2
"""


def q_ev_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min / 5 min): each event lands in 2 windows."""
    ev = _t(spark, sf_dir, "events")
    out = sliding_counts(ev, "10 minutes", "5 minutes")
    return out.select(
        F.date_format("w_start", "yyyy-MM-dd HH:mm:ss").alias("w_start_str"),
        "event_type",
        "n_events",
    )


SQL_EV_SLIDING = """
WITH offsets AS (SELECT unnest([0, 1]) AS k)
SELECT strftime(
         time_bucket(INTERVAL '5 minutes', ts) - k * INTERVAL '5 minutes',
         '%Y-%m-%d %H:%M:%S') AS w_start_str,
       event_type, COUNT(*) AS n_events
FROM events CROSS JOIN offsets
GROUP BY 1, 2
"""


def q_ev_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) — gaps-and-islands."""
    ev = _t(spark, sf_dir, "events")
    out = sessionize_batch(ev, 30)
    return out.select(
        "user_id",
        "session_seq",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start_str"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end_str"
        ),
        "n_events",
    )


SQL_EV_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_break
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
), s AS (
  SELECT *, CAST(SUM(is_break) OVER (
    PARTITION BY user_id ORDER BY ts ASC, event_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start_str,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end_str,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, session_seq
"""


def q_ev_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the props column + grouped stats."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum(F.col("k").cast("bigint")).alias("sum_k"),
        )
    )


SQL_EV_JSON = """
SELECT event_type, COUNT(*) AS n,
       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# documents: dedup + text analysis (north star)


def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: md5(text) → keeper + multiplicity."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs)


SQL_DOC_EXACT_DEDUP = (
    "SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count "
    "FROM documents GROUP BY md5(text)"
)


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokens, distinct, chars, mean length)."""
    docs = _t(spark, sf_dir, "documents")
    return text.with_token_stats(docs)


SQL_DOC_TOKEN_STATS = r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       len(list_distinct(regexp_split_to_array(trim(text), '\s+'))) AS n_distinct_tokens,
       length(text) AS n_chars_computed,
       CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
         / len(regexp_split_to_array(trim(text), '\s+')) AS mean_token_len
FROM documents
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: punctuation/uppercase/stopword ratios + composite."""
    docs = _t(spark, sf_dir, "documents")
    return text.with_quality_score(docs)


SQL_DOC_QUALITY = r"""
WITH b AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) AS n_upper,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tok,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
              x -> lower(x) IN ('the','and','of','to','is'))) AS DOUBLE) AS stop_hits
  FROM documents
), r AS (
  SELECT doc_id,
         CASE WHEN n > 0 THEN n_punct / n ELSE 0.0 END AS punct_ratio,
         CASE WHEN n > 0 THEN n_upper / n ELSE 0.0 END AS upper_ratio,
         CASE WHEN n_tok > 0 THEN stop_hits / n_tok ELSE 0.0 END AS stopword_ratio,
         least(n / 500.0, 1.0) AS length_score
  FROM b
)
SELECT doc_id, punct_ratio, upper_ratio, stopword_ratio, length_score,
       0.4 * length_score + 0.3 * (1.0 - punct_ratio)
         + 0.2 * (1.0 - upper_ratio) + 0.1 * stopword_ratio AS quality_score
FROM r
"""


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID by stopword-marker hits."""
    docs = _t(spark, sf_dir, "documents")
    return text.with_lang_id(docs)


def _sql_lang_hits(lang: str) -> str:
    words = "|".join(text.LANG_MARKERS[lang])
    return rf"len(regexp_extract_all(lower(text), '\b({words})\b'))"


SQL_DOC_LANG_ID = rf"""
WITH h AS (
  SELECT doc_id,
         {_sql_lang_hits('de')} AS hits_de,
         {_sql_lang_hits('en')} AS hits_en,
         {_sql_lang_hits('es')} AS hits_es,
         {_sql_lang_hits('fr')} AS hits_fr
  FROM documents
)
SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
       CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
            WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
            WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
            WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM h
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text md5 fingerprint."""
    docs = _t(spark, sf_dir, "documents")
    return text.with_fingerprint(docs)


SQL_DOC_FINGERPRINT = (
    "SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) "
    "AS fingerprint FROM documents"
)


def q_doc_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for adjacent doc pairs (id, id+1) — the
    verify stage of near-dup dedup, oracle-checkable because the pair
    set is deterministic."""
    docs = _t(spark, sf_dir, "documents")
    # persist: both join sides reuse the shingle arrays; without the
    # boundary the shingle expression is inlined & recomputed per side
    sh = (
        docs.select("doc_id", dedup.norm_tokens(F.col("text")).alias("_toks"))
        .select(
            "doc_id", dedup.shingles_of_tokens(F.col("_toks"), 3).alias("sh")
        )
        .persist()
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    from .cache import pin  # noqa: PLC0415

    return pin(
        a.join(b, F.col("id_b") == F.col("id_a") + 1)
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        ),
        sh,
    )


SQL_DOC_JACCARD_ADJ = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 1, 2)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS sh
  FROM (
    SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS w
    FROM documents
  )
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


def q_doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs. The xxhash64 family isn't
    replicable in ANSI SQL, so the oracle is a driver-side pure-Python
    reference (oracles/lsh_ref.py::minhash_pairs_reference — bit-exact
    XXH64 replica, same tokenize→shingle→permute→band pipeline) whose
    expected pairs are emitted as a VALUES table: full value-hash
    check of signatures, banding, and the Jaccard estimate."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.4)


def q_doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — oracled by the driver-side reference
    implementation (oracles/lsh_ref.py::simhash_pairs_reference):
    bit-exact token hashes → 64 bit-votes → prefix buckets → Hamming,
    emitted as a VALUES table."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_near_pairs(docs, max_hamming=16)


# --------------------------------------------------------------------------
# embeddings: similarity search (north star)


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    emb = _t(spark, sf_dir, "embeddings")
    row = emb.orderBy("vec_id").limit(1).collect()[0]
    return list(row["embedding"])


def q_emb_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 against the min-vec_id query vector.

    Exact baseline: map-only scoring + 20-row global top-k.
    """
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.brute_force_topk(emb, qv, k=20)


SQL_EMB_TOPK = """
WITH q AS (
  SELECT embedding AS qv FROM embeddings
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
),
scored AS (
  SELECT vec_id,
         list_sum(list_transform(range(1, len(embedding) + 1),
            i -> embedding[i]::DOUBLE * qv[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
              i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
              i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))) AS cosine_sim
  FROM embeddings, q
)
SELECT vec_id, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id ASC LIMIT 20
"""


def q_emb_topk_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same top-k as emb_topk_cosine via the Arrow/numpy mapInPandas
    scorer. Cosines round to 6dp for the oracle (numpy's SIMD/pairwise
    summation differs from sequential aggregation in final ulps)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.brute_force_topk_pandas(emb, qv, k=20).select(
        "vec_id", F.round("cosine_sim", 6).alias("cosine_r6")
    )


SQL_EMB_TOPK_PANDAS = """
WITH q AS (
  SELECT embedding AS qv FROM embeddings
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
),
scored AS (
  SELECT vec_id,
         list_sum(list_transform(range(1, len(embedding) + 1),
            i -> embedding[i]::DOUBLE * qv[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
              i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
              i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))) AS cosine_sim
  FROM embeddings, q
)
SELECT vec_id, ROUND(cosine_sim, 6) AS cosine_r6 FROM scored
ORDER BY cosine_sim DESC, vec_id ASC LIMIT 20
"""


def q_emb_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH approximate top-k. The hyperplanes are seeded plan
    constants (similarity._planes) and both engines fold the projection
    sums sequentially, so the ENTIRE probe — signatures, band match,
    candidate cosine top-k — replays in DuckDB: full value-hash oracle
    (generated SQL with the plane matrix inlined as literals)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.ann_topk(emb, qv, k=20, n_planes=12, bands=4)


def _ann_oracle_sql(
    n_planes: int = 12, bands: int = 4, dims: int = 64, k: int = 20
) -> str:
    from .operators.similarity import _planes  # noqa: PLC0415

    planes = _planes(n_planes, dims)
    plane_lit = (
        "["
        + ", ".join(
            "[" + ", ".join(repr(v) for v in p) + "]" for p in planes
        )
        + "]"
    )
    bits = n_planes // bands
    mask = (1 << bits) - 1
    band_match = " OR ".join(
        f"((s.sig >> {b * bits}) & {mask}) = ((qs.qsig >> {b * bits}) & {mask})"
        for b in range(bands)
    )
    sig_expr = (
        f"CAST(list_sum(list_transform(range(1, {n_planes + 1}), p -> "
        f"CASE WHEN list_sum(list_transform(range(1, {dims + 1}), "
        f"i -> v[i]::DOUBLE * planes[p][i])) >= 0 "
        f"THEN (CAST(1 AS BIGINT) << ({n_planes} - p)) ELSE 0 END)) AS BIGINT)"
    )
    return f"""
WITH pl AS (SELECT {plane_lit} AS planes),
q AS (
  SELECT embedding AS qv FROM embeddings
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
),
sigs AS (
  SELECT e.vec_id, e.embedding,
         {sig_expr.replace("v[i]", "e.embedding[i]")} AS sig
  FROM embeddings e, pl
),
qs AS (
  SELECT {sig_expr.replace("v[i]", "q.qv[i]")} AS qsig FROM q, pl
),
cand AS (
  SELECT s.vec_id, s.embedding FROM sigs s, qs WHERE {band_match}
),
scored AS (
  SELECT c.vec_id,
         list_sum(list_transform(range(1, len(c.embedding) + 1),
            i -> c.embedding[i]::DOUBLE * qv[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
              i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
              i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))) AS cosine_sim
  FROM cand c, q
)
SELECT vec_id, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id ASC LIMIT {k}
"""


SQL_EMB_ANN_TOPK = _ann_oracle_sql()


def q_emb_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified retrieval (similarity.py::mmr_rerank): top-25
    cosine candidates reranked into 10 results balancing relevance vs
    redundancy (λ=0.7). All float math runs in the engine's sequential
    fold (micro-quantized); the greedy k-step selection is pure-integer
    over the bounded candidate tables, replayed by the oracle's
    unrolled per-step CTEs."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.mmr_rerank(emb, qv, k=10, pool=25, lam_bp=7000)


def _mmr_oracle_sql(k: int = 10, pool: int = 25, lam_bp: int = 7000) -> str:
    """Unrolled-CTE MMR replay (the kmeans/BPE oracle strategy): one
    CTE pair per greedy step — step i picks the argmax of
    lam·rel − (1−lam)·max sim to the i−1 already-selected rows."""
    mu = 10_000 - lam_bp

    def cos(a: str, b: str) -> str:
        return (
            f"(list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE)) "
            f"/ (sqrt(list_sum(list_transform(range(1, len({a}) + 1), "
            f"i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE))) "
            f"* sqrt(list_sum(list_transform(range(1, len({b}) + 1), "
            f"i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE)))))"
        )

    steps = []
    for i in range(2, k + 1):
        steps.append(
            f""", s{i} AS (
  SELECT c.vec_id, c.rel_micro,
         CAST({lam_bp} * c.rel_micro - {mu} * (
           SELECT MAX(p.sim_micro) FROM pairs p
           JOIN sel{i - 1} s ON p.ib = s.vec_id
           WHERE p.ia = c.vec_id) AS BIGINT) AS mmr_score,
         {i} AS rank
  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1})
  ORDER BY mmr_score DESC, c.vec_id ASC LIMIT 1
), sel{i} AS MATERIALIZED (SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM s{i})"""
        )
    return f"""
WITH q AS (
  SELECT embedding AS qv FROM embeddings
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
),
cand AS MATERIALIZED (
  SELECT vec_id, embedding,
         CAST(round({cos("embedding", "qv")} * 1000000) AS BIGINT) AS rel_micro
  FROM embeddings, q
  WHERE vec_id IS NOT NULL
    AND embedding IS NOT NULL
    AND len(embedding) = len(qv)
    AND NOT COALESCE(list_bool_or(list_transform(embedding,
          x -> x IS NULL OR isnan(x::DOUBLE)
               OR abs(x::DOUBLE) = 'infinity'::DOUBLE)), FALSE)
    AND COALESCE(list_bool_or(list_transform(embedding,
          x -> x::DOUBLE <> 0.0)), FALSE)
  ORDER BY rel_micro DESC, vec_id ASC LIMIT {pool}
),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         CAST(round({cos("a.embedding", "b.embedding")} * 1000000) AS BIGINT)
           AS sim_micro
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
sel1 AS (
  SELECT vec_id, rel_micro,
         CAST({lam_bp} * rel_micro AS BIGINT) AS mmr_score, 1 AS rank
  FROM cand ORDER BY rel_micro DESC, vec_id ASC LIMIT 1
){"".join(steps)}
SELECT CAST(rank AS INT) AS rank, vec_id, rel_micro, mmr_score FROM sel{k}
"""


SQL_EMB_MMR_RERANK = _mmr_oracle_sql()


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (coarse k-means lists + nprobe probing).
    List membership depends on xxhash64 seeding, so the oracle is the
    driver-side reference (oracles/lsh_ref.py::ivf_topk_reference):
    same seeds, Lloyd iterations (float32 centroid truncation absorbs
    summation-order ulps), probe choice, and sequential-fold cosines,
    emitted as a VALUES table — full value-hash check."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.ivf_topk(emb, qv, k=20, n_lists=16, nprobe=4)


def q_emb_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded LSH. Like
    emb_ann_topk, the hyperplanes are seeded plan constants, so the
    full band join + cosine verify replays in DuckDB (generated SQL) —
    value-hash oracle-checked.

    The testdata embeddings are isotropic-random (max pairwise cosine
    ≈0.5 at sf0.01), so the threshold is 0.3 — high for random vectors —
    to exercise a non-empty verify stage."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.all_pairs_ann(emb, threshold=0.3, n_planes=24, bands=3)


def _near_pairs_oracle_sql(
    n_planes: int = 24, bands: int = 3, dims: int = 64, threshold: float = 0.3
) -> str:
    from .operators.similarity import _planes  # noqa: PLC0415

    planes = _planes(n_planes, dims)
    plane_lit = (
        "["
        + ", ".join("[" + ", ".join(repr(v) for v in p) + "]" for p in planes)
        + "]"
    )
    bits = n_planes // bands
    mask = (1 << bits) - 1
    bands_lit = "[" + ", ".join(str(b) for b in range(bands)) + "]"
    sig_expr = (
        f"CAST(list_sum(list_transform(range(1, {n_planes + 1}), p -> "
        f"CASE WHEN list_sum(list_transform(range(1, {dims + 1}), "
        f"i -> e.embedding[i]::DOUBLE * planes[p][i])) >= 0 "
        f"THEN (CAST(1 AS BIGINT) << ({n_planes} - p)) ELSE 0 END)) AS BIGINT)"
    )
    return f"""
WITH pl AS (SELECT {plane_lit} AS planes),
sigs AS (
  SELECT e.vec_id, e.embedding,
         sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) AS nrm,
         {sig_expr} AS sig
  FROM embeddings e, pl
),
bb AS (
  SELECT vec_id, embedding, nrm, band,
         (sig >> (band * {bits})) & {mask} AS bucket
  FROM sigs, unnest({bands_lit}) AS u(band)
)
SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b,
       list_sum(list_transform(range(1, len(a.embedding) + 1),
          i -> a.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
         / (a.nrm * c.nrm) AS cosine_sim
FROM bb a JOIN bb c ON a.band = c.band AND a.bucket = c.bucket
       AND a.vec_id < c.vec_id
WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
          i -> a.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
        / (a.nrm * c.nrm) >= {threshold}
"""


SQL_EMB_NEAR_PAIRS = _near_pairs_oracle_sql()


def q_emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components, exact-integer projection.

    Emits (label, dim, n_vecs, sum_scaled, centroid_q) rows instead of
    raw array<float> centroids — integer-deterministic under any
    partitioning, hashable by the driver, and DuckDB-expressible (the
    array-valued API remains ``similarity.centroid_per_label``).
    """
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.centroid_components(emb)


SQL_EMB_CENTROIDS = """
SELECT label, CAST(i AS INTEGER) AS dim,
       COUNT(*) AS n_vecs,
       CAST(SUM(CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
         AS sum_scaled,
       CAST(SUM(CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT)) AS BIGINT)::DOUBLE
         / (COUNT(*)::DOUBLE * 1000000.0) AS centroid_q
FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
GROUP BY label, i
"""


def q_ev_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the custom stateful operator
    (streaming.events.stateful_user_totals / applyInPandasWithState).
    The double value-sum stays out of the oracle hash (FP summation
    order; module doc)."""
    from .streaming.events import stateful_user_totals

    ev = _t(spark, sf_dir, "events")
    return stateful_user_totals(ev).select("user_id", "n_events")


SQL_EV_USER_TOTALS = """
SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# multimodal columns (north star): binary payload + typed metadata


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from documents: the text bytes
    play the opaque binary payload; kind/meta derive from doc columns.

    This is the plumbing convention for multimodal data at scale:
    ``(media_id, kind, payload binary, meta struct)`` — media bytes are
    opaque to the engine, metadata is typed and prunable.
    """
    docs = _t(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            (F.col("n_chars") % 640 + 16).cast("int").alias("width"),
            (F.col("n_chars") % 480 + 16).cast("int").alias("height"),
            F.lit(16000).alias("sample_rate"),
            (F.col("n_chars") * 10).cast("bigint").alias("duration_ms"),
            F.lit("raw").alias("format"),
        ).alias("meta"),
    )


def q_mm_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature-extract via Arrow-batched mapInPandas
    (operators.multimodal.featurize_media; codec stubbed, plumbing real).

    Oracle-checkable because the fake decode is deterministic: sha256
    and byte length of the payload, shape math from the meta struct.
    """
    from .operators.multimodal import featurize_media

    return featurize_media(_media_df(spark, sf_dir)).select(
        "media_id",
        "kind",
        "payload_sha256",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_frames").cast("bigint").alias("n_frames"),
        "ok",
    )


SQL_MM_FEATURIZE = """
SELECT doc_id AS media_id,
       ['image','audio','video'][(doc_id % 3 + 1)::INT] AS kind,
       sha256(text) AS payload_sha256,
       octet_length(encode(text))::BIGINT AS n_bytes,
       (n_chars % 640 + 16)::BIGINT AS width,
       (n_chars % 480 + 16)::BIGINT AS height,
       CASE WHEN doc_id % 3 = 2 AND n_chars * 10 > 0
            THEN greatest(1, (n_chars * 10) // 1000)
            ELSE 1 END::BIGINT AS n_frames,
       TRUE AS ok
FROM documents
"""


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-position sampling: JVM-side explode of a generated
    sequence from typed metadata (operators.multimodal.sample_video_frames)."""
    from .operators.multimodal import sample_video_frames

    return sample_video_frames(_media_df(spark, sf_dir), every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("bigint").alias("frame_ts_ms")
    )


SQL_MM_FRAME_SAMPLE = """
SELECT doc_id AS media_id,
       unnest(range(0, greatest(n_chars * 10 - 1, 0) + 1, 1000))::BIGINT AS frame_ts_ms
FROM documents
WHERE doc_id % 3 = 2
"""


# --------------------------------------------------------------------------
# wider analytics surface: TPC-H-ish + rollup/pivot/window/anti-join


def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: predicate-pushdown-friendly single-table agg —
    the whole filter reaches the parquet scan; zero joins, one partial
    agg shuffle of a single value."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(
                F.col("l_extendedprice") * F.col("l_discount"),
                scale=10000,
                alias="revenue",
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


SQL_Q6 = """
SELECT SUM(CAST(ROUND(l_extendedprice * l_discount * 10000) AS BIGINT)) / 10000.0
         AS revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01'
  AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
"""


def q_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact⋈dim broadcast join + conditional aggregate
    (CASE inside SUM)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.filter(
        (F.col("l_shipdate") >= "1995-09-01") & (F.col("l_shipdate") < "1995-10-01")
    ).join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.agg(
        money_sum(
            F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0)),
            scale=10000,
            alias="promo_revenue",
        ),
        money_sum(rev, scale=10000, alias="total_revenue"),
    )


SQL_Q14 = """
SELECT SUM(CAST(ROUND(CASE WHEN p_type LIKE 'PROMO%'
             THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END * 10000) AS BIGINT))
         / 10000.0 AS promo_revenue,
       SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
         / 10000.0 AS total_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1995-09-01'
  AND l_shipdate < TIMESTAMP '1995-10-01'
"""


def q_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: groupBy-HAVING subquery driving a semi-join,
    then enrichment joins. The HAVING aggregate is the only full
    shuffle; the subsequent joins ride broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            iso_date_str(F.col("o_orderdate")).alias("o_orderdate_s"),
            F.col("o_totalprice"),
            F.col("total_qty"),
        )
    )


SQL_Q18 = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
       o_totalprice, total_qty
FROM orders
JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 300) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets: subtotals + grand total in one pass
    (Spark expands grouping sets map-side; one shuffle)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_extendedprice"), alias="sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "sum_price",
            "n_rows",
        )
    )


SQL_ROLLUP = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_pivot_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per status × priority. Spark's pivot with an
    explicit value list stays a single groupBy (no extra pass to
    discover pivot values — required posture at scale)."""
    orders = _t(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderstatus",
            *[
                F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("bigint").alias(f"n_{p[0]}")
                for p in prios
            ],
        )
    )


SQL_PIVOT = """
SELECT o_orderstatus,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_1,
       COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_2,
       COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_3,
       COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_4,
       COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_5
FROM orders GROUP BY o_orderstatus
"""


def q_window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function suite per customer order history: running sum,
    rank, and lag — one shuffle on o_custkey serves all three frames."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        iso_date_str(F.col("o_orderdate")).alias("o_orderdate_s"),
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).over(cum) / 100.0)
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
    )


SQL_WINDOW_RUNNING = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0
         AS running_spend,
       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS order_seq,
       LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS prev_orderkey
FROM orders
"""


def q_anti_join_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no URGENT-priority order (NOT EXISTS).
    Spark plans a broadcast/shuffled anti join — no materialized NOT-IN
    list; the orders-side filter pushes to the scan."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


SQL_ANTI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_distinct_part_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate: per-brand distinct type/size counts plus a
    plain count — Spark expands distinct aggs into one two-phase plan."""
    part = _t(spark, sf_dir, "part")
    return part.groupBy("p_brand").agg(
        F.countDistinct("p_type").alias("n_types"),
        F.countDistinct("p_size").alias("n_sizes"),
        F.count(F.lit(1)).alias("n_parts"),
    )


SQL_DISTINCT_AGG = """
SELECT p_brand, COUNT(DISTINCT p_type) AS n_types,
       COUNT(DISTINCT p_size) AS n_sizes, COUNT(*) AS n_parts
FROM part GROUP BY p_brand
"""


def q_intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: customers having BOTH open and finished orders
    (INTERSECT), minus those with any 'P' order (EXCEPT)."""
    orders = _t(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    p = orders.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    return o.intersect(f).exceptAll(p.distinct()).select(
        F.col("o_custkey").alias("custkey")
    )


SQL_SET_OPS = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
"""


def q_scalar_subquery_pricey_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery: parts priced ≥ 1.5× the global average retail
    price. The aggregate is a 1-row broadcast, not a driver round-trip."""
    part = _t(spark, sf_dir, "part")
    avg_price = part.agg(
        (F.sum(F.round(F.col("p_retailprice") * 100).cast("bigint")) / 100.0
         / F.count(F.lit(1))).alias("avg_price")
    )
    return (
        part.crossJoin(F.broadcast(avg_price))
        .filter(F.col("p_retailprice") >= 1.04 * F.col("avg_price"))
        .select("p_partkey", "p_name", "p_retailprice")
    )


SQL_SCALAR_SUBQ = """
SELECT p_partkey, p_name, p_retailprice
FROM part
WHERE p_retailprice >= 1.04 * (
  SELECT SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) / 100.0 / COUNT(*)
  FROM part)
"""


def q_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date bucketing: order counts + exact money sums per calendar
    month (date_trunc)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(F.col("o_totalprice"), alias="sum_price"),
        )
    )


SQL_ORDERS_BY_MONTH = """
SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_price
FROM orders GROUP BY 1
"""


def q_quantity_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of l_quantity per return flag —
    Spark ``percentile`` and DuckDB ``quantile_cont`` share linear
    interpolation semantics, so the oracle is exact."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("p25"),
        F.expr("percentile(l_quantity, 0.5)").alias("p50"),
        F.expr("percentile(l_quantity, 0.75)").alias("p75"),
        F.min("l_quantity").alias("q_min"),
        F.max("l_quantity").alias("q_max"),
    )


SQL_PERCENTILES = """
SELECT l_returnflag,
       quantile_cont(l_quantity, 0.25) AS p25,
       quantile_cont(l_quantity, 0.5) AS p50,
       quantile_cont(l_quantity, 0.75) AS p75,
       MIN(l_quantity) AS q_min,
       MAX(l_quantity) AS q_max
FROM lineitem GROUP BY l_returnflag
"""


def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function suite over one scan: LIKE filter, substring,
    upper, length, lpad, replace, split-part."""
    part = _t(spark, sf_dir, "part")
    return part.filter(F.col("p_name").like("%widget%")).select(
        "p_partkey",
        F.upper(F.col("p_brand")).alias("brand_uc"),
        F.substring(F.col("p_name"), 1, 10).alias("name10"),
        F.length(F.col("p_name")).alias("name_len"),
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("key_padded"),
        F.regexp_replace(F.col("p_name"), " ", "_").alias("name_snake"),
        F.split(F.col("p_name"), " ").getItem(0).alias("name_head"),
    )


SQL_STRING_FUNCS = """
SELECT p_partkey,
       UPPER(p_brand) AS brand_uc,
       substring(p_name, 1, 10) AS name10,
       length(p_name) AS name_len,
       lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS key_padded,
       replace(p_name, ' ', '_') AS name_snake,
       split_part(p_name, ' ', 1) AS name_head
FROM part WHERE p_name LIKE '%widget%'
"""


def q_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct parts per supplier via the PORTABLE KMV
    sketch (operators/sketch.py) — md5-based, so the estimate is
    bit-identical in any engine and fully oracle-checkable, unlike
    native HLL (``approx_count_distinct``) whose estimates are
    implementation-defined.
    The exact hash-distinct count rides along for error visibility."""
    from .operators.sketch import kmv_distinct  # noqa: PLC0415

    li = _t(spark, sf_dir, "lineitem")
    return kmv_distinct(li, ["l_suppkey"], "l_partkey", k=64)


SQL_APPROX_DISTINCT = """
WITH h AS (
  SELECT DISTINCT l_suppkey,
         CAST(('0x' || substring(md5(CAST(l_partkey AS VARCHAR)), 1, 15)) AS BIGINT)
           AS h
  FROM lineitem
), r AS (
  SELECT l_suppkey, h,
         row_number() OVER (PARTITION BY l_suppkey ORDER BY h) AS rn,
         COUNT(*) OVER (PARTITION BY l_suppkey) AS nd
  FROM h
)
SELECT l_suppkey,
       CAST(MAX(nd) AS BIGINT) AS n_distinct,
       CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS DOUBLE)
            ELSE 63.0 * 1152921504606846976.0
                 / (MAX(CASE WHEN rn <= 64 THEN h END) + 1)
       END AS kmv_estimate
FROM r GROUP BY 1
"""


# --------------------------------------------------------------------------
# TPC-H remainder — every classic shape the testdata schema can express.
# The star schema has no partsupp / shipmode / commit-receipt dates /
# phone, so Q2/Q12/Q16/Q20/Q21/Q22 are ADAPTED: same relational shape
# (correlated min, EXISTS, disjunctive predicates, nested-agg semi-join,
# single-offender windows, anti-join + scalar subquery), columns mapped
# onto what exists. Each docstring names the adaptation.


def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: no partsupp — unit cost derived as
    min(l_extendedprice/l_quantity) per part×supplier from lineitem):
    correlated-min supplier selection with deterministic tiebreak,
    joined back to part/supplier/nation dims.

    Plan: the `p_size <= 10` part filter is pushed AHEAD of the agg as a
    broadcast semi-join on the fact scan (selectivity ~1/5 — at scale it
    shrinks both the agg shuffle and the window input by that factor),
    then one shuffle for the (part,supp) agg, window argmin per part,
    and broadcast dim joins — no correlated re-scan of the fact.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    small_part = part.filter(F.col("p_size") <= 10)
    li_small = li.join(
        F.broadcast(small_part.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "leftsemi",
    )
    # ONE part-keyed exchange feeds both the (part, supp) agg and the
    # per-part argmin window (r14, guide §2.4): hash(l_partkey)
    # satisfies the agg's clustered distribution on (l_partkey,
    # l_suppkey) — a subset partitioning co-locates every group — so
    # the explicit repartition replaces TWO full-data exchanges
    # (agg-keyed, then window-keyed) with one. The window by part was
    # always the skew constraint; it still reads agged rows only.
    unit = (
        li_small.repartition(F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_cost"
            )
        )
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("unit_cost").asc(), F.col("l_suppkey").asc()
    )
    best = (
        unit.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(
            F.broadcast(small_part),
            best.l_partkey == F.col("p_partkey"),
        )
        .join(F.broadcast(supp), best.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_partkey", "p_name", "s_name", "n_name", "unit_cost")
    )


SQL_Q2 = """
WITH unit AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
), best AS (
  SELECT *, row_number() OVER (PARTITION BY l_partkey
                               ORDER BY unit_cost ASC, l_suppkey ASC) AS rn
  FROM unit
)
SELECT p_partkey, p_name, s_name, n_name, unit_cost
FROM best
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE rn = 1 AND p_size <= 10
"""


def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS as a left-semi join with a
    cross-side predicate (adapted: "late" = shipped >30 days after
    order date; no commit/receipt dates in the schema).
    """
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


SQL_Q4 = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
"""


def q_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional two-nation trade volume by year.
    Fact joins stay on the fact's keys; both nation lookups broadcast.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(n2), s.s_nationkey == F.col("s_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            money_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                alias="revenue",
            )
        )
    )


SQL_Q7 = """
SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) / 100.0
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n2.n_name = 'NATION_1' AND n1.n_name = 'NATION_2')
    OR (n2.n_name = 'NATION_2' AND n1.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
"""


def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of ASIA's PROMO-part market by
    order year. Share = bigint-scaled conditional sum / total sum —
    both operands exact, so the double ratio hashes identically.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    n_cust = n.select(F.col("n_nationkey").alias("c_nk"), "n_regionkey")
    n_supp = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    scaled = F.round(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("bigint")
    return (
        li.join(F.broadcast(p.filter(F.col("p_type") == "PROMO")),
                li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_cust), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_supp), s.s_nationkey == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", scaled).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / F.sum(scaled).cast("double")
            ).alias("mkt_share")
        )
    )


SQL_Q8 = """
SELECT year(o_orderdate) AS o_year,
       CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
                THEN CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)
                ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT))
              AS DOUBLE) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
"""


def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp, so profit = revenue):
    per supplier-nation × order-year revenue on '%widget%' parts.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_name").like("%widget%"))),
            li.l_partkey == p.p_partkey,
        )
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(
            money_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                alias="sum_profit",
            )
        )
    )


SQL_Q9 = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) / 100.0
         AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
"""


def q_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no l_shipmode/receiptdate — "late" =
    shipped >60 days after order; grouped by l_linestatus): the
    CASE-conditional count pair per group.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_linestatus").agg(
        F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
    )


SQL_Q12 = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
         AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


def q_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left join preserving order-less customers, per-
    customer order count, then the distribution of those counts.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = c.join(o, c.c_custkey == o.o_custkey, "left").groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


SQL_Q13 = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) GROUP BY c_count
"""


def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue-view per supplier over one quarter, then
    the supplier(s) achieving the global max (scalar-subquery equality —
    both sides exact scaled sums, so the equality is hash-safe).
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            money_sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                alias="total_revenue",
            )
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == F.col("max_revenue"))
        .join(F.broadcast(s), rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


SQL_Q15 = """
WITH revenue AS (
  SELECT l_suppkey,
         SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) / 100.0
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: supplier-per-part-attribute variety
    from lineitem instead of partsupp; "complaint" suppliers =
    negative account balance, excluded via anti-join).
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(
            F.broadcast(
                p.filter(
                    (F.col("p_brand") != "Brand#1")
                    & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
                )
            ),
            li.l_partkey == p.p_partkey,
        )
        .join(F.broadcast(bad), li.l_suppkey == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


SQL_Q16 = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def q_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part average driving a row filter
    (decorrelated to one agg + self-join — Catalyst's plan for the
    correlated form, written explicitly). Quantities are integral
    doubles, so sum/count averages are exact in both engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.sum("l_quantity") / F.count("*")).alias("avg_qty")
    )
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_brand") == "Brand#3")),
            li.l_partkey == p.p_partkey,
        )
        .join(avg_qty, li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.4) * F.col("avg_qty"))
        .agg(
            (money_sum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly")
        )
    )


SQL_Q17 = """
SELECT SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN (SELECT l_partkey AS ap_partkey,
             SUM(l_quantity) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY 1) a ON l_partkey = ap_partkey
WHERE p_brand = 'Brand#3' AND l_quantity < 0.4 * avg_qty
"""


def q_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three OR'd conjunctive branches over the
    fact⋈dim join (brand × size-band × quantity-band). Catalyst pushes
    the common join key and prunes columns; the disjunction stays as a
    post-join filter exactly as written.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(branch).agg(
        money_sum(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            alias="revenue",
        ),
        F.count("*").alias("line_count"),
    )


SQL_Q19 = """
SELECT SUM(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) / 100.0
         AS revenue,
       COUNT(*) AS line_count
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_q20_part_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: share of shipped quantity from
    lineitem instead of partsupp availability): suppliers who shipped
    >15% of some 'red%' part's total volume — nested agg feeding a
    semi-join up to the supplier dim.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    red = F.broadcast(p.filter(F.col("p_name").like("red%")).select("p_partkey"))
    red_lines = li.join(red, li.l_partkey == F.col("p_partkey"), "left_semi")
    per_sp = red_lines.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    per_part = red_lines.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("l_quantity").alias("total_qty")
    )
    dominant = (
        per_sp.join(per_part, per_sp.l_partkey == F.col("t_partkey"))
        .filter(F.col("supp_qty") > F.lit(0.15) * F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    return s.join(dominant, s.s_suppkey == F.col("l_suppkey"), "left_semi").select(
        "s_suppkey", "s_name"
    )


SQL_Q20 = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM (
    SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
    GROUP BY 1, 2
  ) sp JOIN (
    SELECT l_partkey AS t_partkey, SUM(l_quantity) AS total_qty
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
    GROUP BY 1
  ) tp ON sp.l_partkey = tp.t_partkey
  WHERE supp_qty > 0.15 * total_qty
)
"""


def q_q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: "kept the order waiting" = the ONLY
    late-shipping supplier, late = >60 days after order date, on a
    finished multi-supplier order; no commit/receipt dates). The
    EXISTS / NOT-EXISTS pair is expressed as per-order conditional
    distinct counts — one aggregation instead of two correlated
    re-scans of the fact.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    per_order = j.groupBy(F.col("l_orderkey").alias("po_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    late_pairs = (
        j.filter(F.col("is_late")).select("l_orderkey", "l_suppkey").distinct()
    )
    waiting = (
        late_pairs.join(per_order, late_pairs.l_orderkey == F.col("po_orderkey"))
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


SQL_Q21 = """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey AS po_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp
  FROM j GROUP BY 1
), late_pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM j WHERE is_late
)
SELECT s_name, COUNT(*) AS numwait
FROM late_pairs
JOIN per_order ON l_orderkey = po_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp >= 2 AND n_late_supp = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


def q_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: nation instead of phone country code,
    and "idle" = no orders since 2000-01-01 because every synthetic
    customer has at least one lifetime order): customers above the
    positive-balance average with no RECENT orders — scalar subquery
    threshold + anti-join, grouped per nation. The threshold is a
    scaled-bigint average so both engines compare the identical double.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    n = _t(spark, sf_dir, "nation")
    thresh = c.filter(F.col("c_acctbal") > 0).agg(
        (
            (F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")) / F.lit(100.0))
            / F.count("*")
        ).alias("avg_bal")
    )
    return (
        c.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("numcust"),
            money_sum(F.col("c_acctbal"), alias="totacctbal"),
        )
    )


SQL_Q22 = """
SELECT n_name AS nation, COUNT(*) AS numcust,
       SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT (SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0) / COUNT(*)
    FROM customer WHERE c_acctbal > 0
  )
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY 1
"""


# --------------------------------------------------------------------------
# temporal joins (operators/temporal.py)


def q_ev_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event matched to the user's most recent
    click at-or-before it (operators/temporal.py::asof_join — the
    union+window single-shuffle formulation). The click side is pre-
    collapsed to one row per (user, ts) so tie identity is pinned in
    both engines. Timestamps surface as unix micros (exact bigints).
    """
    from .operators.temporal import asof_join  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_event_id"))
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_event_id"],
        suffix="",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("purchase_us"),
        F.col("click_event_id"),
    )


SQL_EV_ASOF = """
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_us, c.click_event_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  SELECT user_id, ts, MAX(event_id) AS click_event_id
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
) c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_ev_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-band join (operators/temporal.py::band_join): event values
    classified into literal [lo, hi) bands via a broadcast nested-loop
    join — map-only at any fact scale because the band side is tiny.
    """
    from .operators.temporal import band_join  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [(0.0, 10.0, "micro"), (10.0, 50.0, "small"),
         (50.0, 200.0, "mid"), (200.0, 1000.0, "large")],
        "band_lo double, band_hi double, band_label string",
    )
    return (
        band_join(ev, bands, "value")
        .groupBy("band_label")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


SQL_EV_BAND = """
SELECT band_label, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM events
JOIN (VALUES (0.0, 10.0, 'micro'), (10.0, 50.0, 'small'),
             (50.0, 200.0, 'mid'), (200.0, 1000.0, 'large'))
     AS bands(band_lo, band_hi, band_label)
  ON value >= band_lo AND value < band_hi
GROUP BY band_label
"""


def q_ev_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch-checked
    (streaming/events.py::purchase_attribution_join): purchases matched
    to same-user clicks in the preceding 30 minutes. In streaming mode
    the identical transform runs with two watermarks and bounded state;
    the batch plan is one shuffled equi join with a range residual.
    Timestamps surface as unix micros (exact bigints) for the hash.
    """
    from .streaming.events import purchase_attribution_join  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    out = purchase_attribution_join(ev, "30 minutes")
    return out.select(
        "purchase_id",
        "user_id",
        F.unix_micros(F.col("purchase_ts")).alias("purchase_us"),
        "purchase_value",
        "click_id",
        F.unix_micros(F.col("click_ts")).alias("click_us"),
    )


SQL_EV_ATTRIBUTION = """
SELECT p.event_id AS purchase_id, p.user_id,
       epoch_us(p.ts) AS purchase_us, p.value AS purchase_value,
       c.event_id AS click_id, epoch_us(c.ts) AS click_us
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


# --------------------------------------------------------------------------
# deterministic sampling / splitting / quotas (operators/sampling.py)
# — the training-corpus curation surface. Hash arithmetic is portable
# (md5 hex → bigint) so DuckDB verifies the EXACT row assignment, not
# just counts.


def q_doc_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible content-keyed train/val/test split
    (operators/sampling.py::hash_split, 90/5/5 on md5(text)), rolled up
    per (split, lang). Pure map + one agg shuffle; stable under
    repartitioning and task retries, unlike rand()-based splits.
    """
    from .operators.sampling import hash_split  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs, F.col("text"))
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SQL_DOC_HASH_SPLIT = """
WITH b AS (
  SELECT lang, n_chars,
         CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 10000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 9000 THEN 'train'
            WHEN bucket < 9500 THEN 'val'
            ELSE 'test' END AS split,
       lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM b GROUP BY 1, 2
"""


def q_doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% downsample keyed on doc_id
    (operators/sampling.py::stratified_sample) — a pushdown-able FILTER,
    not df.sample(), so the kept set is identical across reruns,
    repartitions, and engines. Summarized per lang.
    """
    from .operators.sampling import stratified_sample  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, F.col("doc_id"), 1000).groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("doc_id").alias("id_checksum"),
    )


SQL_DOC_STRATIFIED_SAMPLE = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 10000 < 1000
GROUP BY 1
"""


def q_doc_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota cap (operators/sampling.py::quota_per_key): keep
    at most 40 docs per source, preferring longest text, doc_id as the
    deterministic tiebreak. One shuffle on source; no global sort.
    """
    from .operators.sampling import quota_per_key  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    kept = quota_per_key(
        docs,
        "source",
        40,
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
        F.sum("doc_id").alias("id_checksum"),
    )


SQL_DOC_DOMAIN_QUOTA = """
WITH ranked AS (
  SELECT source, n_chars, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
)
SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM ranked WHERE rn <= 40 GROUP BY 1
"""


def q_q11_important_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted: no partsupp — "stock value" is lineitem
    revenue per supplier; threshold is 1.05× the MEAN supplier value so
    selectivity is scale-invariant — TPC-H's fraction/SF trick without
    knowing SF): per-key agg filtered against a scalar subquery.

    Plan note: the naive ``per_supp.join(per_supp.agg(...))`` scans the
    FACT TABLE TWICE in the static plan (DataFrame reuse ≠ CTE reuse;
    exchange reuse is only a runtime AQE maybe). Instead the global
    mean rides a partition-less window over the already-aggregated
    per-supplier rows — one fact scan, and the single-partition step
    touches only |suppliers| tiny rows, which stays dim-sized even at
    100 TB of lineitem. ``test_plans.py`` pins the single-scan shape.
    """
    li = _t(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_suppkey").agg(
        money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")),
            alias="value",
        )
    )
    w = Window.partitionBy()
    return (
        per_supp.withColumn(
            "threshold", (F.sum("value").over(w) / F.count("*").over(w)) * 1.05
        )
        .filter(F.col("value") > F.col("threshold"))
        .select("l_suppkey", "value")
    )


SQL_Q11 = """
WITH per_supp AS (
  SELECT l_suppkey,
         SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
           / 100.0 AS value
  FROM lineitem GROUP BY 1
)
SELECT l_suppkey, value FROM per_supp
WHERE value > (SELECT (SUM(value) / COUNT(*)) * 1.05 FROM per_supp)
"""


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (customer nation, order priority) with grouping_id —
    all four grouping-set combinations in one shuffle (Spark expands
    the cube map-side, then one hash agg). Extends the rollup query to
    the full lattice; DuckDB's GROUPING() bit order matches Spark's
    grouping_id() (verified: first column = MSB).
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    enriched = o.join(
        F.broadcast(c.select("c_custkey", "c_nationkey")),
        o.o_custkey == F.col("c_custkey"),
    ).join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    # pre-aggregate to the fine (nation, priority) grid BEFORE the cube
    # (r14, guide §2.3): Spark expands a cube map-side — ×4 copies of
    # EVERY input row through the exchange; over the |nations|×
    # |priorities| base grid the Expand touches ~125 rows instead of
    # every order. Exact: counts and round-micro cents are associative
    # two-level sums, and data NULL keys stay ordinary base-grid keys
    # that grouping_id separates from the cube's own totals rows —
    # identical lattice to the direct cube.
    base = enriched.groupBy(
        F.col("n_name").alias("nation"), "o_orderpriority"
    ).agg(
        F.count("*").alias("_n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "_cents"
        ),
    )
    return (
        base.cube("nation", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.sum("_n").alias("n_orders"),
            (F.sum("_cents") / F.lit(100.0)).alias("revenue"),
        )
    )


SQL_CUBE_REVENUE = """
SELECT n_name AS nation, o_orderpriority,
       GROUPING(n_name, o_orderpriority) AS gid,
       COUNT(*) AS n_orders,
       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE (n_name, o_orderpriority)
"""


def q_doc_cc_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed connected components (operators/graph.py — the
    large-star/small-star clustering stage of near-dup dedup) checked
    against a DECLARATIVE oracle: docs in the same source are linked
    when their 100-char length buckets are equal or adjacent, so
    components are exactly the gaps-and-islands runs of occupied
    buckets. That graph is chain-shaped (transitive closure through
    many hops — cliques can't test that), yet plain SQL computes the
    answer with two window passes; the iterative O(log n)-round
    algorithm must hash-match it. Isolated docs label themselves.
    """
    from .operators.graph import connected_components  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.floor(F.col("n_chars") / F.lit(100)).alias("b")
    )
    # CLIQUE CONTRACTION before CC: every doc in the same (source,
    # bucket) cell is mutually linked, so emitting the cell's clique
    # (Σ c² edges — 318k at sf0.1, quadratic in cell size at 100 TB)
    # is waste; a star to the cell's min-id leader plus one
    # leader→leader edge per adjacent occupied bucket yields the SAME
    # components with Σ c + #cells edges (~5.5k at sf0.1, linear at
    # any scale). The adjacency join is a pure equi-join on
    # (source, b+1) — no inequality scan — and the leader table is
    # cells-sized, hence broadcast.
    leaders = docs.groupBy("source", "b").agg(F.min("doc_id").alias("lead"))
    # CC runs on the LEADER graph only (r14, guide §1.2 — don't compute
    # what you throw away): the member→leader star edges are already
    # stars, so feeding them through the iterative loop only inflated
    # every round's shuffle by |docs| rows while the transitive-closure
    # work — the anchor's whole point — lives entirely in the
    # leader-chain edges (cells-sized). Members inherit their leader's
    # component through the same broadcast cell join the star edges
    # used to be built from; the component label is unchanged (each
    # leader is its cell's min doc_id, so min-leader = min doc_id).
    x, y = leaders.alias("x"), leaders.alias("y")
    adj_edges = x.join(
        F.broadcast(y),
        (F.col("x.source") == F.col("y.source"))
        & (F.col("y.b") == F.col("x.b") + 1),
    ).select(F.col("x.lead").alias("id_a"), F.col("y.lead").alias("id_b"))
    # Driver-side convergence detection (r15, VERDICT r14 #3): the
    # leader graph is CELLS-sized — bounded by the catalog, the same
    # order as the lead_comp broadcast below — so the star rounds are
    # simulated on the collected edge list (k-means-centroid contract)
    # and the distributed loop runs exactly that schedule with ZERO
    # per-round signature actions: the whole O(log n)-round
    # transitive-closure computation — unchanged and still distributed
    # — now executes inside the caller's single action instead of one
    # job per round. The collect is capped (star_schedule); an edge
    # list over the cap gets no schedule and the signature loop.
    from .operators.graph import star_schedule  # noqa: PLC0415

    comp = connected_components(adj_edges, schedule=star_schedule(adj_edges))
    lead_comp = leaders.join(
        comp, leaders.lead == comp.node, "left"
    ).select(
        "source",
        "b",
        F.coalesce("component", F.col("lead")).alias("cluster_id"),
    )
    # left + coalesce: a doc whose (source, b) cell is NULL-keyed never
    # matched the old member-edge equi-join either — it stays its own
    # singleton cluster, exactly as before
    return docs.join(F.broadcast(lead_comp), ["source", "b"], "left").select(
        "doc_id",
        F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
    )


SQL_DOC_CC_ISLANDS = """
WITH b AS (
  SELECT doc_id, source, n_chars // 100 AS bucket
  FROM documents
), marks AS (
  SELECT doc_id, source, bucket,
         CASE WHEN bucket - LAG(bucket) OVER
                (PARTITION BY source ORDER BY bucket, doc_id) <= 1
              THEN 0 ELSE 1 END AS brk
  FROM b
), isl AS (
  SELECT doc_id, source, bucket,
         SUM(brk) OVER (PARTITION BY source ORDER BY bucket, doc_id
                        ROWS UNBOUNDED PRECEDING) AS island
  FROM marks
)
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY source, island) AS cluster_id
FROM isl
"""


def q_doc_islands_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The islands USE CASE routed to its right-default operator
    (VERDICT r7 #4): the same occupied-bucket clustering as
    ``doc_cc_islands``, computed by the declarative
    ``temporal.gaps_and_islands`` window form instead of iterative
    connected components — two window passes over ONE source-keyed
    shuffle (the second window's (source, island) clustering is
    satisfied by the first's hash partitioning, so no second Exchange)
    versus CC's O(log n) rounds (measured at sf0.1: 0.23s vs 2.94s — ~13×).
    ``doc_cc_islands`` deliberately KEEPS the two-star CC formulation:
    it is the transitive-closure verification anchor (chain-shaped
    components against this very SQL) and a member of the recorded r1
    baseline set, which must stay implementation-comparable across
    rounds. Same oracle for both — equal output from two independent
    formulations is the cross-check."""
    from .operators.temporal import gaps_and_islands  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.floor(F.col("n_chars") / F.lit(100)).alias("b")
    )
    isl = gaps_and_islands(
        docs, "source", "b", max_gap=1, order_tiebreak="doc_id"
    )
    w = Window.partitionBy("source", "island")
    return isl.select(
        "doc_id", F.min("doc_id").over(w).alias("cluster_id")
    )


def q_doc_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup pipeline: EXACT-Jaccard pair graph
    (dedup.py::exact_jaccard_pairs, inverted-index join — deterministic,
    so the whole pipeline is oracle-checkable down to the cluster
    membership, via a recursive-CTE connected components in DuckDB) →
    iterative large/small-star connected components → cluster summary
    (size + canonical = min doc_id + member checksum). The
    MinHash-LSH candidate generator remains the sub-quadratic scale
    path (doc_minhash_pairs; recall-tested against this exact graph).
    """
    from .operators.dedup import exact_jaccard_pairs  # noqa: PLC0415
    from .operators.graph import connected_components  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(docs, threshold=0.4)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return comp.groupBy(F.col("component").alias("canonical_doc_id")).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.sum("node").alias("member_checksum"),
    )


SQL_DOC_NEAR_DUP_CLUSTERS = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 1, 2)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS sh
  FROM (
    SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS w
    FROM documents
  )
), ex AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT id_a, id_b FROM pairs
  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.4
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(node, lab) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.node
), comp AS (
  SELECT node, MIN(lab) AS component FROM reach GROUP BY node
)
SELECT component AS canonical_doc_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(SUM(node) AS BIGINT) AS member_checksum
FROM comp GROUP BY 1
"""


def q_doc_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-guarded train/val/test split
    (sampling.py::cluster_aware_split): the exact-Jaccard near-dup
    components choose ONE split per cluster (hash of the canonical
    member's text, hash_split semantics), so paraphrase pairs can
    never straddle train and eval — the guard plain text-hash splits
    don't give. The oracle replays the pair graph, the recursive-CTE
    connected components, the canonical-text hash, and the 90/5/5
    threshold chain."""
    from .operators.dedup import exact_jaccard_pairs  # noqa: PLC0415
    from .operators.graph import connected_components  # noqa: PLC0415
    from .operators.sampling import cluster_aware_split  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(docs, threshold=0.4)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (
        cluster_aware_split(docs, comp)
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    )


SQL_DOC_CLUSTER_SPLIT = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 1, 2)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS sh
  FROM (
    SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS w
    FROM documents
  )
), ex AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT id_a, id_b FROM pairs
  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.4
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(node, lab) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.node
), comp AS (
  SELECT node, MIN(lab) AS component FROM reach GROUP BY node
), m AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
), b AS (
  SELECT m.doc_id, m.cluster_id,
         CAST(('0x' || substring(md5(canon.text), 1, 15)) AS BIGINT) % 10000
           AS bkt
  FROM m JOIN documents canon ON canon.doc_id = m.cluster_id
)
SELECT doc_id, cluster_id,
       CASE WHEN bkt < 9000 THEN 'train'
            WHEN bkt < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM b ORDER BY doc_id
"""


def q_doc_stratified_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path exact stratified holdout
    (sampling.py::exact_stratified_split_scalable): precisely
    ⌊n_s·0.2 + ½⌋ test docs per source, ranked through the
    grouped_exact_rank value histogram instead of a
    one-task-per-stratum window — closing the caveat
    exact_stratified_split documents. The oracle replays the
    hash60 order, the direct per-source row_number, and the integer
    half-up cut."""
    from .operators.sampling import (  # noqa: PLC0415
        exact_stratified_split_scalable,
    )

    docs = _t(spark, sf_dir, "documents")
    return exact_stratified_split_scalable(
        docs, "source", test_bp=2000
    ).orderBy("doc_id")


SQL_DOC_STRATIFIED_SCALABLE = r"""
WITH d AS (
  SELECT doc_id, source,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS score
  FROM documents WHERE doc_id IS NOT NULL AND source IS NOT NULL
), r AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY score, doc_id) AS BIGINT) AS rank,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM d
)
SELECT doc_id, source, rank, n,
       CASE WHEN rank * 10000 <= n * 2000 + 5000
            THEN 'test' ELSE 'train' END AS split
FROM r ORDER BY doc_id
"""


def q_doc_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked survivor selection (dedup.py::survivor_selection):
    the near-dup components from the exact-Jaccard graph choose their
    shipping copy by HIGHEST quality score (ties → lowest id), not
    "min id wins" — the decision step that turns a duplicate-cluster
    report into a curated corpus. Singleton docs self-cluster, so every
    doc is accounted for: Σ n_members = |documents|."""
    from .operators.dedup import exact_jaccard_pairs, survivor_selection  # noqa: PLC0415
    from .operators.graph import connected_components  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    pairs = exact_jaccard_pairs(docs, threshold=0.4)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    members = docs.join(comp, docs.doc_id == comp.node, "left").select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("cluster_id")
    )
    scores = text.with_quality_score(docs).select("doc_id", "quality_score")
    return survivor_selection(members, scores)


SQL_DOC_KEEP_BEST = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 1, 2)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS sh
  FROM (
    SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS w
    FROM documents
  )
), ex AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh
), prs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT id_a, id_b FROM prs
  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.4
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(node, lab) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.node
), comp AS (
  SELECT node, MIN(lab) AS component FROM reach GROUP BY node
), members AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
), qb AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) AS n_upper,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tok,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
              x -> lower(x) IN ('the','and','of','to','is'))) AS DOUBLE) AS stop_hits
  FROM documents
), scores AS (
  SELECT doc_id,
         0.4 * least(n / 500.0, 1.0)
           + 0.3 * (1.0 - CASE WHEN n > 0 THEN n_punct / n ELSE 0.0 END)
           + 0.2 * (1.0 - CASE WHEN n > 0 THEN n_upper / n ELSE 0.0 END)
           + 0.1 * (CASE WHEN n_tok > 0 THEN stop_hits / n_tok ELSE 0.0 END)
           AS quality_score
  FROM qb
), ranked AS (
  SELECT m.cluster_id, m.doc_id, s.quality_score,
         row_number() OVER (PARTITION BY m.cluster_id
                            ORDER BY s.quality_score DESC NULLS LAST,
                                     m.doc_id ASC) AS rn
  FROM members m LEFT JOIN scores s USING (doc_id)
)
SELECT cluster_id,
       MIN(CASE WHEN rn = 1 THEN doc_id END) AS keep_doc_id,
       MIN(CASE WHEN rn = 1 THEN quality_score END) AS keep_score,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST((((SUM(CAST(doc_id AS HUGEINT))
               - MIN(CASE WHEN rn = 1 THEN doc_id END))
              % 4611686018427387904) + 4611686018427387904)
            % 4611686018427387904 AS BIGINT)
         AS dropped_checksum
FROM ranked GROUP BY 1
"""


def q_doc_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k: explode whitespace tokens, count, keep
    the 50 most frequent (count desc, token asc tiebreak). The classic
    corpus-statistics shape: one shuffle for the token counts
    (map-side partial agg absorbs the per-doc duplication), then a
    TakeOrderedAndProject top-k — NO global sort of the vocabulary.
    """
    from .operators.dedup import norm_tokens  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(norm_tokens(F.col("text"))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(50)
    )


SQL_DOC_VOCAB_TOPK = """
SELECT token, COUNT(*) AS n
FROM (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents
)
WHERE token <> ''
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 50
"""


def q_scd2_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 interval build: each customer's order history becomes
    validity intervals — valid_from = order date, valid_to = next
    order's date (null while current). One window shuffle on custkey;
    LEAD is whole-stage-codegen'd, no self-join. Restricted to a
    two-nation customer slice to keep the result compact. Dates surface
    as yyyy-MM-dd strings (o_orderdate is TIMESTAMP_NTZ — no epoch).
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    slice_c = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .filter(F.col("n_name").isin("NATION_3", "NATION_7"))
        .select("c_custkey")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return (
        o.join(slice_c, o.o_custkey == slice_c.c_custkey, "left_semi")
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
            F.date_format(F.lead("o_orderdate").over(w), "yyyy-MM-dd").alias(
                "valid_to"
            ),
            (F.lead("o_orderdate").over(w).isNull()).alias("is_current"),
        )
    )


SQL_SCD2 = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
       strftime(LEAD(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
       (LEAD(o_orderdate) OVER w IS NULL) AS is_current
FROM orders
WHERE o_custkey IN (
  SELECT c_custkey FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_7')
)
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""


def q_emb_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine top-20 (similarity.py::quantized_topk):
    per-vector max-abs scales, exact integer dot products, 4× smaller
    scan bytes once materialized. Fully oracle-checkable: quantization
    is integer-deterministic (HALF_UP = floor(|x|+0.5)·sign on both
    engines) and the cosine is a single division of exact integer
    operands, so DuckDB reproduces every value bit-for-bit. Recall vs
    the exact top-k is separately pinned by tests/test_quantize.py.
    """
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.quantized_topk(emb, qv, k=20)


SQL_EMB_QUANTIZED_TOPK = """
WITH qraw AS (
  SELECT embedding AS qv FROM embeddings
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
), qm AS (
  SELECT qv,
         CASE WHEN list_max(list_transform(qv, x -> abs(x::DOUBLE))) > 0.0
              THEN list_max(list_transform(qv, x -> abs(x::DOUBLE))) / 127.0
              ELSE 1e-30 END AS m
  FROM qraw
), qq AS (
  SELECT list_transform(qv, x ->
           CAST(CASE WHEN x::DOUBLE / m < 0
                     THEN -floor(abs(x::DOUBLE / m) + 0.5)
                     ELSE floor(abs(x::DOUBLE / m) + 0.5) END AS BIGINT)) AS q
  FROM qm
), cs AS (
  SELECT vec_id, embedding,
         greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))) / 127.0,
                  1e-30) AS s
  FROM embeddings
), corpus AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(CASE WHEN x::DOUBLE / s < 0
                     THEN -floor(abs(x::DOUBLE / s) + 0.5)
                     ELSE floor(abs(x::DOUBLE / s) + 0.5) END AS BIGINT)) AS cq
  FROM cs
), scored AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(range(1, len(cq) + 1),
                i -> cq[i] * q[i])) AS DOUBLE)
         / (sqrt(CAST(list_sum(list_transform(range(1, len(cq) + 1),
                  i -> cq[i] * cq[i])) AS DOUBLE))
            * sqrt(CAST(list_sum(list_transform(range(1, len(q) + 1),
                  i -> q[i] * q[i])) AS DOUBLE))) AS cosine_sim
  FROM corpus, qq
)
SELECT vec_id, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id ASC LIMIT 20
"""


def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation suite: count_if / FILTER-clause
    equivalents, null-safe aggregates, any/bool aggregates — all in ONE
    grouped pass over lineitem (no per-condition scans).
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.count_if(F.col("l_quantity") >= 30).alias("n_bulk"),
        F.count("*").alias("n_total"),
        F.max(F.col("l_quantity") >= 49).alias("any_near_max"),
        money_sum(
            F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")).otherwise(
                F.lit(0.0)
            ),
            alias="discounted_revenue",
        ),
    )


SQL_CONDITIONAL_AGG = """
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
       COUNT(*) FILTER (WHERE l_quantity >= 30) AS n_bulk,
       COUNT(*) AS n_total,
       MAX(l_quantity >= 49) AS any_near_max,
       SUM(CAST(round(CASE WHEN l_discount > 0.05 THEN l_extendedprice
                           ELSE 0.0 END * 100) AS BIGINT)) / 100.0
         AS discounted_revenue
FROM lineitem
GROUP BY 1
"""


def q_array_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: per-nation sorted list of its supplier account
    balances plus element-wise array ops (size, first/last via sorted
    order). collect_list is order-nondeterministic under parallelism —
    sort_array pins it, which is the only way an array agg can be
    hash-checked across engines/partitionings at all.
    """
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sort_array(
                F.collect_list(F.round(F.col("s_acctbal") * 100).cast("bigint"))
            ).alias("balances_cents"),
        )
        .select(
            "n_name",
            F.size("balances_cents").alias("n_suppliers"),
            F.element_at("balances_cents", 1).alias("min_cents"),
            F.element_at("balances_cents", -1).alias("max_cents"),
            F.aggregate(
                "balances_cents", F.lit(0).cast("bigint"), lambda a, v: a + v
            ).alias("sum_cents"),
        )
    )


SQL_ARRAY_AGG = """
WITH g AS (
  SELECT n_name,
         list_sort(list(CAST(round(s_acctbal * 100) AS BIGINT))) AS balances_cents
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1
)
SELECT n_name, len(balances_cents) AS n_suppliers,
       balances_cents[1] AS min_cents,
       balances_cents[-1] AS max_cents,
       CAST(list_sum(balances_cents) AS BIGINT) AS sum_cents
FROM g
"""


def q_ev_value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user anomaly detection: events whose value is > 2 population
    standard deviations above that user's mean. Two window passes over
    ONE shuffle on user_id (mean/stddev then filter — no self-join, no
    second scan). The classic monitoring/outlier shape.
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    stats = ev.select(
        "event_id",
        "user_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_pop("value").over(w).alias("sigma"),
    )
    return (
        stats.filter(
            (F.col("sigma") > 0)
            & (F.col("value") > F.col("mu") + 2 * F.col("sigma"))
        )
        .select(
            "event_id",
            "user_id",
            F.round("value", 6).alias("value"),
            F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 6).alias(
                "zscore"
            ),
        )
    )


SQL_EV_ZSCORE = """
WITH stats AS (
  SELECT event_id, user_id, value,
         AVG(value) OVER (PARTITION BY user_id) AS mu,
         STDDEV_POP(value) OVER (PARTITION BY user_id) AS sigma
  FROM events
)
SELECT event_id, user_id, round(value, 6) AS value,
       round((value - mu) / sigma, 6) AS zscore
FROM stats
WHERE sigma > 0 AND value > mu + 2 * sigma
"""


def q_m1_union_ragged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1's ragged-schema INSERT semantics as a standalone query
    (subscription_flow.py:224–225 appends rows carrying a column the
    seed rows lack): two different projections of orders unioned by
    NAME with missing columns null-filled —
    ``unionByName(allowMissingColumns=True)`` vs DuckDB
    ``UNION ALL BY NAME``. Null-fill is the observable: the "seed" side
    has no o_clerk-analog column, the "new" side has no status.
    """
    o = _t(spark, sf_dir, "orders")
    seed = o.filter(F.col("o_orderkey") % 1000 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    new = o.filter(F.col("o_orderkey") % 1000 == 1).select(
        "o_orderkey",
        "o_custkey",
        F.lit("NEW").alias("ingest_tag"),
    )
    return seed.unionByName(new, allowMissingColumns=True).select(
        "o_orderkey",
        "o_custkey",
        F.coalesce("o_orderstatus", F.lit("?")).alias("o_orderstatus"),
        F.coalesce("ingest_tag", F.lit("SEED")).alias("ingest_tag"),
    )


SQL_M1_UNION_RAGGED = """
WITH u AS (
  SELECT o_orderkey, o_custkey, o_orderstatus
  FROM orders WHERE o_orderkey % 1000 = 0
  UNION ALL BY NAME
  SELECT o_orderkey, o_custkey, 'NEW' AS ingest_tag
  FROM orders WHERE o_orderkey % 1000 = 1
)
SELECT o_orderkey, o_custkey,
       COALESCE(o_orderstatus, '?') AS o_orderstatus,
       COALESCE(ingest_tag, 'SEED') AS ingest_tag
FROM u
"""


def q_doc_scrub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus cleaning (operators/text.py::with_scrubbed): redact
    email/URL/phone patterns, surface redaction counts. Map-only
    chained JVM regexp_replace. The synthetic corpus contains few or
    no such patterns — the md5 of the scrubbed text still pins that
    both engines transformed every document identically.
    """
    from .operators.text import with_scrubbed  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return with_scrubbed(docs).select(
        "doc_id",
        F.md5("scrubbed").alias("scrubbed_md5"),
        "n_redactions",
    )


SQL_DOC_SCRUB = """
WITH s0 AS (
  SELECT doc_id, text AS t FROM documents
), s1 AS (
  SELECT doc_id,
         coalesce(len(regexp_extract_all(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')), 0) AS c1,
         regexp_replace(t,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
  FROM s0
), s2 AS (
  SELECT doc_id, c1,
         coalesce(len(regexp_extract_all(t, 'https?://[^\\s]+')), 0) AS c2,
         regexp_replace(t, 'https?://[^\\s]+', '<URL>', 'g') AS t
  FROM s1
), s3 AS (
  SELECT doc_id, c1, c2,
         coalesce(len(regexp_extract_all(t,
           '\\b\\d{3}[-.\\s]\\d{3}[-.\\s]\\d{4}\\b')), 0) AS c3,
         regexp_replace(t,
           '\\b\\d{3}[-.\\s]\\d{3}[-.\\s]\\d{4}\\b', '<PHONE>', 'g') AS t
  FROM s2
)
SELECT doc_id, md5(t) AS scrubbed_md5,
       CAST(c1 + c2 + c3 AS BIGINT) AS n_redactions
FROM s3
"""


def q_doc_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling: keep each doc with probability
    proportional to its length (min(n_chars/2000, 1)) by comparing the
    content-independent hash bucket against a per-row threshold — the
    up-weight-long-documents pass of corpus curation, still a pure
    pushdown-able filter (no rand(), retry/repartition-stable).
    """
    from .operators.sampling import hash_bucket  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    thresh = F.least(F.col("n_chars") * 5, F.lit(10_000))
    return (
        docs.filter(hash_bucket(F.col("doc_id")) < thresh)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


SQL_DOC_WEIGHTED_SAMPLE = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      % 10000 < LEAST(n_chars * 5, 10000)
GROUP BY 1
"""


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize over the media table (multimodal.py::resize_images):
    deterministic fake raster decode → REAL integral-image box-average
    to 16×16 → re-encode. Rows-only (pixel math isn't SQL-expressible);
    the pooling itself is pixel-level unit-tested. Output is the
    payload digest + shape so the check pins determinism end to end.
    """
    from .operators.multimodal import resize_images  # noqa: PLC0415

    resized = resize_images(_media_df(spark, sf_dir), 16, 16)
    return resized.select(
        "media_id",
        F.md5("payload").alias("resized_md5"),
        F.length("payload").cast("bigint").alias("n_bytes"),
        F.col("meta.width").cast("bigint").alias("width"),
        F.col("meta.height").cast("bigint").alias("height"),
    )


_MM_RESIZE_ORACLE_CACHE: dict[str, str | None] = {}


def _sql_mm_resize() -> str | None:
    """Reference oracle for ``mm_resize``: the resize math is
    deterministic but not SQL-expressible, so the oracle is a
    driver-side reference implementation — plain pyarrow + numpy over
    the fixture parquet, NO Spark — whose expected digests are emitted
    as a ``VALUES`` table for DuckDB. What the comparison then pins is
    that the distributed execution path (mapInPandas batching, Arrow
    round-trip of binary payloads and struct meta, partition-parallel
    workers) reproduces the single-threaded reference bytes exactly.

    The fixture scale must match where the gate runs (the driver checks
    at sf0.01); override with ``SPARK_GRAFT_ORACLE_SF_DIR`` for local
    sweeps at other scales. Returns None (rows-only fallback) if the
    fixture is unreadable.
    """
    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    if sf_dir in _MM_RESIZE_ORACLE_CACHE:
        return _MM_RESIZE_ORACLE_CACHE[sf_dir]
    sql: str | None
    try:
        import hashlib  # noqa: PLC0415

        import pyarrow.parquet as pq  # noqa: PLC0415

        from .operators.multimodal import (  # noqa: PLC0415
            _fake_raster_decode,
            _pool_resize,
        )

        t = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text", "n_chars"]
        ).to_pydict()
        rows = []
        for doc_id, text, n_chars in zip(t["doc_id"], t["text"], t["n_chars"]):
            if doc_id % 3 != 0:  # _media_df: doc_id%3==0 → kind 'image'
                continue
            payload = (text or "").encode("utf-8")
            src_w, src_h = n_chars % 640 + 16, n_chars % 480 + 16
            img = _fake_raster_decode(payload, src_w, src_h)
            out = _pool_resize(img, 16, 16)
            md5 = hashlib.md5(out.tobytes()).hexdigest()
            rows.append(f"({int(doc_id)},'{md5}',{out.size},16,16)")
        if not rows:
            sql = None
        else:
            sql = (
                "SELECT CAST(c0 AS BIGINT) AS media_id, c1 AS resized_md5, "
                "CAST(c2 AS BIGINT) AS n_bytes, CAST(c3 AS BIGINT) AS width, "
                "CAST(c4 AS BIGINT) AS height FROM (VALUES "
                + ",".join(rows)
                + ") AS t(c0, c1, c2, c3, c4)"
            )
    except OSError:  # unreadable/missing fixture → rows-only; a
        # programming error in the reference must RAISE (the
        # lsh_ref._cached convention), not silently weaken the oracle
        sql = None
    _MM_RESIZE_ORACLE_CACHE[sf_dir] = sql
    return sql


def q_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit in one pass per table: null-key counts,
    duplicate-PK counts, and referential orphans (lineitem→orders,
    orders→customer) via anti-joins. The dbt-style expectations an ETL
    engine owes its tables, expressed as a single UNION of metrics —
    every check is a scan-light aggregate or anti-join, no collects.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")

    def metric(name: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(name).alias("check"), F.col("n").cast("bigint").alias("n")
        )

    checks = [
        metric("lineitem_null_orderkey",
               li.agg(F.count_if(F.col("l_orderkey").isNull()).alias("n"))),
        metric("orders_null_custkey",
               o.agg(F.count_if(F.col("o_custkey").isNull()).alias("n"))),
        metric("orders_dup_pk",
               o.groupBy("o_orderkey").count().filter(F.col("count") > 1)
               .agg(F.count(F.lit(1)).alias("n"))),
        metric("lineitem_orphans",
               li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
               .agg(F.count(F.lit(1)).alias("n"))),
        metric("orders_orphans",
               o.join(c, o.o_custkey == c.c_custkey, "left_anti")
               .agg(F.count(F.lit(1)).alias("n"))),
    ]
    out = checks[0]
    for m in checks[1:]:
        out = out.unionByName(m)
    return out


SQL_DQ_AUDIT = """
SELECT 'lineitem_null_orderkey' AS check,
       COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS n FROM lineitem
UNION ALL
SELECT 'orders_null_custkey',
       COUNT(*) FILTER (WHERE o_custkey IS NULL) FROM orders
UNION ALL
SELECT 'orders_dup_pk', COUNT(*) FROM (
  SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
UNION ALL
SELECT 'lineitem_orphans', COUNT(*) FROM lineitem
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
UNION ALL
SELECT 'orders_orphans', COUNT(*) FROM orders
WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
"""


def q_doc_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram frequency top-30: adjacent-token pairs built JVM-side by
    zipping the token array against its own tail (no UDF, no
    self-join), then the same partial-agg + TakeOrdered shape as the
    unigram vocabulary query.
    """
    from .operators.dedup import norm_tokens  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    toks = norm_tokens(F.col("text"))
    n = F.size(toks)
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        docs.filter(n >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(30)
    )


SQL_DOC_BIGRAM_TOPK = """
WITH t AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
), b AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bigram
  FROM t WHERE len(toks) >= 2
)
SELECT bigram, COUNT(*) AS n
FROM b GROUP BY 1
ORDER BY n DESC, bigram ASC
LIMIT 30
"""


def q_ev_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel per user: first view → first click
    AFTER that view → first purchase AFTER that click. One shuffle on
    user_id; the three stage timestamps come from conditional min-over-
    window aggregates (no self-joins, no re-scans), then counts roll up
    into a single funnel row. Timestamps compare as unix micros.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("t_view")
    )
    with_click = (
        ev.join(per_user, "user_id")
        .groupBy("user_id", "t_view")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("us") >= F.col("t_view")),
                    F.col("us"),
                )
            ).alias("t_click")
        )
    )
    funnel = (
        ev.join(with_click, "user_id")
        .groupBy("user_id", "t_view", "t_click")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") >= F.col("t_click")),
                    F.col("us"),
                )
            ).alias("t_purchase")
        )
    )
    return funnel.agg(
        F.count("*").alias("n_users"),
        F.count_if(F.col("t_view").isNotNull()).alias("n_viewed"),
        F.count_if(F.col("t_click").isNotNull()).alias("n_clicked_after_view"),
        F.count_if(F.col("t_purchase").isNotNull()).alias("n_purchased_after_click"),
    )


SQL_EV_FUNNEL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), v AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN us END) AS t_view
  FROM ev GROUP BY 1
), c AS (
  SELECT ev.user_id, t_view,
         MIN(CASE WHEN event_type = 'click' AND us >= t_view THEN us END)
           AS t_click
  FROM ev JOIN v ON ev.user_id = v.user_id
  GROUP BY 1, 2
), p AS (
  SELECT ev.user_id, t_view, t_click,
         MIN(CASE WHEN event_type = 'purchase' AND us >= t_click THEN us END)
           AS t_purchase
  FROM ev JOIN c ON ev.user_id = c.user_id
  GROUP BY 1, 2, 3
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS n_viewed,
       COUNT(t_click) AS n_clicked_after_view,
       COUNT(t_purchase) AS n_purchased_after_click
FROM p
"""


def q_ev_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window FRAME suite per user event stream — the three frame kinds
    beyond unbounded-running: bounded ROWS (4-event moving average),
    RANGE over event-time (sum of the trailing 10 minutes, frame keyed
    on unix micros so range arithmetic is exact), and ntile quartiles.
    All three share ONE shuffle on user_id.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("us"), "value"
    )
    wo = Window.partitionBy("user_id").orderBy("us", "event_id")
    rows4 = wo.rowsBetween(-3, 0)
    wr = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-10 * 60 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "us",
        F.round(F.avg("value").over(rows4), 6).alias("moving_avg4"),
        F.round(F.sum("value").over(wr), 6).alias("sum_10min"),
        F.ntile(4).over(wo).alias("quartile"),
    )


SQL_EV_WINDOW_FRAMES = """
WITH ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events
)
SELECT event_id, user_id, us,
       round(AVG(value) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
         AS moving_avg4,
       round(SUM(value) OVER (PARTITION BY user_id ORDER BY us
                              RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW), 6)
         AS sum_10min,
       NTILE(4) OVER (PARTITION BY user_id ORDER BY us, event_id) AS quartile
FROM ev
"""


def q_kmv_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct-count SKETCH MERGE with the portable KMV
    sketch: per-nation k-min-hash arrays built in ONE pass over
    customer, then MERGED (not recomputed) up to region level — the
    re-aggregatable-sketch pattern that makes distinct counts cheap at
    100 TB (raw data touched once; only k·8-byte arrays move between
    levels), made deterministic so the region estimates hash-match a
    DuckDB oracle computing the same k-th-order statistic directly.
    """
    from .operators.sketch import kmv_merge, kmv_sketch  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    # the sketch table is the materialization point of this pattern —
    # at scale it would be written once and re-aggregated many times;
    # cache() stands in for that here since two rollup branches read it
    nat = kmv_sketch(joined, ["n_regionkey", "n_name"], "c_custkey", k=64).cache()
    merged = kmv_merge(nat, ["n_regionkey"], k=64)
    exacts = nat.groupBy("n_regionkey").agg(
        F.sum("n_distinct").alias("exact_region_customers"),
        F.count(F.lit(1)).alias("n_nations"),
    )
    from .cache import pin  # noqa: PLC0415

    return pin(
        merged.join(exacts, "n_regionkey").select(
            F.col("n_regionkey").cast("bigint").alias("regionkey"),
            F.col("kmv_estimate").alias("kmv_region_estimate"),
            "exact_region_customers",
            "n_nations",
        ),
        nat,
    )


SQL_KMV_ROLLUP = """
WITH h AS (
  SELECT DISTINCT n.n_regionkey AS regionkey, n.n_name,
         CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
           AS h
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
), nat AS (
  SELECT regionkey, n_name, COUNT(*) AS nd FROM h GROUP BY 1, 2
), rh AS (
  SELECT DISTINCT regionkey, h FROM h
), r AS (
  SELECT regionkey, h,
         row_number() OVER (PARTITION BY regionkey ORDER BY h) AS rn,
         COUNT(*) OVER (PARTITION BY regionkey) AS rd
  FROM rh
), est AS (
  SELECT regionkey,
         CASE WHEN MAX(rd) < 64 THEN CAST(MAX(rd) AS DOUBLE)
              ELSE 63.0 * 1152921504606846976.0
                   / (MAX(CASE WHEN rn <= 64 THEN h END) + 1)
         END AS kmv_region_estimate
  FROM r GROUP BY 1
), ex AS (
  SELECT regionkey, CAST(SUM(nd) AS BIGINT) AS exact_region_customers,
         CAST(COUNT(*) AS BIGINT) AS n_nations
  FROM nat GROUP BY 1
)
SELECT CAST(est.regionkey AS BIGINT) AS regionkey, est.kmv_region_estimate,
       ex.exact_region_customers, ex.n_nations
FROM est JOIN ex USING (regionkey)
"""


def q_emb_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched KNN join: the 5 lowest-id vectors as a QUERY SET, each
    matched to its 5 nearest corpus neighbors by cosine. Plan: broadcast
    the tiny query side, score in one map pass over the corpus (|Q|·d
    work per row), then ONE window shuffle on query_id for the per-query
    top-k. This is the shape of batch retrieval at scale — queries
    broadcast, corpus never replicated, no |corpus|×|corpus| blow-up.
    """
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    from .operators.similarity import cosine  # noqa: PLC0415

    scored = emb.join(F.broadcast(queries_df)).select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("qv")), 9).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id", "cosine_sim", F.col("rn").cast("int").alias("rank"))
    )


SQL_EMB_KNN_JOIN = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  ORDER BY vec_id LIMIT 5
), scored AS (
  SELECT query_id, e.vec_id,
         round(
           list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> e.embedding[i]::DOUBLE * qv[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
                i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))), 9) AS cosine_sim
  FROM embeddings e, q
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine_sim, rank::INT AS rank
FROM ranked WHERE rank <= 5
"""


def q_mode_median_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode + median per group with PINNED tie semantics: the most
    common order priority per customer nation (ties broken by priority
    string asc via count-window argmax — engine `mode()` builtins have
    engine-specific tie rules, so the deterministic formulation is the
    portable one) alongside interpolated median order value.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    enriched = o.join(
        F.broadcast(c.select("c_custkey", "c_nationkey")),
        o.o_custkey == F.col("c_custkey"),
    ).join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    # ONE scan: per-(nation, priority) counts ride each row as a window,
    # then a single nation-level aggregate computes median, count, and
    # the mode as min(struct(-cnt, priority)) — the branch-and-rejoin
    # form scanned the fact (and re-joined the dims) once per branch
    cnt = F.count(F.lit(1)).over(Window.partitionBy("n_name", "o_orderpriority"))
    annotated = enriched.select(
        "n_name", "o_orderpriority", "o_totalprice", cnt.alias("cnt")
    )
    return (
        annotated.groupBy("n_name")
        .agg(
            F.round(F.median("o_totalprice"), 6).alias("median_order_value"),
            F.count(F.lit(1)).alias("n_orders"),
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("nc"),
                    F.col("o_orderpriority").alias("p"),
                )
            ).alias("_m"),
        )
        .select(
            "n_name",
            "median_order_value",
            "n_orders",
            F.col("_m.p").alias("mode_priority"),
        )
    )


SQL_MODE_MEDIAN = """
WITH enriched AS (
  SELECT n_name, o_orderpriority, o_totalprice
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
), counts AS (
  SELECT n_name, o_orderpriority, COUNT(*) AS cnt
  FROM enriched GROUP BY 1, 2
), mode AS (
  SELECT n_name, o_orderpriority AS mode_priority
  FROM (SELECT *, row_number() OVER (PARTITION BY n_name
            ORDER BY cnt DESC, o_orderpriority ASC) AS rn FROM counts)
  WHERE rn = 1
)
SELECT m.n_name, round(median(o_totalprice), 6) AS median_order_value,
       COUNT(*) AS n_orders, ANY_VALUE(mode_priority) AS mode_priority
FROM enriched e JOIN mode m ON e.n_name = m.n_name
GROUP BY 1
"""


def q_unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT: wide per-nation metrics (customer count, supplier
    count, total balance) melted to long (nation, metric, value) —
    Spark's ``unpivot``/``melt`` vs DuckDB ``UNPIVOT``. Map-only after
    the aggregates; the melt itself never shuffles.
    """
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cm = c.groupBy("c_nationkey").agg(
        F.count("*").cast("double").alias("n_customers"),
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")) / 100.0
        ).alias("customer_balance"),
    )
    sm = s.groupBy("s_nationkey").agg(
        F.count("*").cast("double").alias("n_suppliers")
    )
    wide = (
        n.join(cm, n.n_nationkey == cm.c_nationkey, "left")
        .join(sm, n.n_nationkey == sm.s_nationkey, "left")
        # coalesce to 0: a nation with no suppliers has ZERO of them,
        # and (engine parity) DuckDB's UNPIVOT silently DROPS null
        # cells while Spark's keeps them — nulls here would diverge
        # exactly when some nation is missing a side (small SFs)
        .select(
            "n_name",
            F.coalesce("n_customers", F.lit(0.0)).alias("n_customers"),
            F.coalesce("customer_balance", F.lit(0.0)).alias("customer_balance"),
            F.coalesce("n_suppliers", F.lit(0.0)).alias("n_suppliers"),
        )
    )
    return wide.unpivot(
        "n_name",
        ["n_customers", "customer_balance", "n_suppliers"],
        "metric",
        "value",
    )


SQL_UNPIVOT = """
WITH cm AS (
  SELECT c_nationkey, COUNT(*)::DOUBLE AS n_customers,
         SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS customer_balance
  FROM customer GROUP BY 1
), sm AS (
  SELECT s_nationkey, COUNT(*)::DOUBLE AS n_suppliers
  FROM supplier GROUP BY 1
), wide AS (
  SELECT n_name,
         COALESCE(n_customers, 0.0) AS n_customers,
         COALESCE(customer_balance, 0.0) AS customer_balance,
         COALESCE(n_suppliers, 0.0) AS n_suppliers
  FROM nation
  LEFT JOIN cm ON n_nationkey = c_nationkey
  LEFT JOIN sm ON n_nationkey = s_nationkey
)
SELECT n_name, metric, value
FROM (UNPIVOT wide ON n_customers, customer_balance, n_suppliers
      INTO NAME metric VALUE value)
"""


def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval scalar suite over a compact order slice: extract
    year/quarter/month, ISO day-of-week (pinned to Monday=1 in BOTH
    engines — Spark's ``dayofweek`` is Sunday=1 and DuckDB's ``dow`` is
    Sunday=0, so the portable form is ``isodow``/``weekday``+1), month
    arithmetic, end-of-month, and day diffs against a fixed epoch.
    """
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 500 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("bigint").alias("y"),
        F.quarter(d).cast("bigint").alias("q"),
        F.month(d).cast("bigint").alias("m"),
        F.weekday(d).cast("bigint").alias("isodow0"),  # Monday=0
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus_3mo"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("days_since_epoch"),
    )


SQL_DATE_FUNCTIONS = """
SELECT o_orderkey,
       EXTRACT(year FROM o_orderdate) AS y,
       EXTRACT(quarter FROM o_orderdate) AS q,
       EXTRACT(month FROM o_orderdate) AS m,
       EXTRACT(isodow FROM o_orderdate) - 1 AS isodow0,
       strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
       strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3mo,
       date_diff('day', DATE '1995-01-01', o_orderdate::DATE) AS days_since_epoch
FROM orders WHERE o_orderkey % 500 = 0
"""


# --------------------------------------------------------------------------
# registry


def q_doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (text.py::repetition_signals):
    type–token ratio, top-word mass, duplicate-bigram fraction, longest
    same-word run, mean word length — the threshold inputs of standard
    pre-training corpus filtering."""
    from .operators.text import repetition_signals  # noqa: PLC0415

    return repetition_signals(_t(spark, sf_dir, "documents"))


SQL_DOC_REPETITION = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, i AS pos, w[i] AS word
  FROM t, unnest(range(1, len(w) + 1)) AS u(i)
), wc AS (
  SELECT doc_id, word, COUNT(*) AS c FROM tok GROUP BY 1, 2
), tops AS (
  SELECT doc_id, word AS top_word, c AS top_word_count
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY c DESC, word ASC) AS rn
        FROM wc)
  WHERE rn = 1
), per_doc AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         COUNT(*) AS n_distinct_words
  FROM wc GROUP BY 1
), runs AS (
  SELECT doc_id, CAST(MAX(run) AS BIGINT) AS max_word_run FROM (
    SELECT doc_id, word, grp, COUNT(*) AS run FROM (
      SELECT doc_id, word,
             pos - row_number() OVER (PARTITION BY doc_id, word
                                      ORDER BY pos) AS grp
      FROM tok) GROUP BY 1, 2, 3) GROUP BY 1
), bgf AS (
  SELECT doc_id, bg FROM (
    SELECT doc_id, word || ' ' || lead(word) OVER (PARTITION BY doc_id
                                                   ORDER BY pos) AS bg
    FROM tok) WHERE bg IS NOT NULL
), bg_stats AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         COUNT(DISTINCT bg) AS n_distinct_bigrams
  FROM bgf GROUP BY 1
), lens AS (
  SELECT doc_id, CAST(SUM(len(word)) AS BIGINT) AS sum_word_len
  FROM tok GROUP BY 1
)
SELECT p.doc_id, p.n_words,
       CAST(p.n_distinct_words AS DOUBLE) / CAST(p.n_words AS DOUBLE)
         AS type_token_ratio,
       tp.top_word,
       CAST(tp.top_word_count AS DOUBLE) / CAST(p.n_words AS DOUBLE)
         AS top_word_frac,
       1.0 - CAST(b.n_distinct_bigrams AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE)
         AS dup_bigram_frac,
       r.max_word_run,
       CAST(l.sum_word_len AS DOUBLE) / CAST(p.n_words AS DOUBLE)
         AS mean_word_len
FROM per_doc p
JOIN tops tp USING (doc_id)
JOIN runs r USING (doc_id)
JOIN bg_stats b USING (doc_id)
JOIN lens l USING (doc_id)
"""


def q_doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 8-word-span dedup stats (dedup.py::span_dedup — the
    Lee et al. exact-substring dedup signal at chunk granularity)."""
    from .operators.dedup import span_dedup  # noqa: PLC0415

    return span_dedup(_t(spark, sf_dir, "documents"), span=8)


SQL_DOC_SPAN_DEDUP = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents
), ch AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' '))
           AS chunk_md5
  FROM t, unnest(range(0, (len(w) + 7) // 8)) AS u(i)
), g AS (
  SELECT chunk_md5, COUNT(*) AS n_occ FROM ch GROUP BY 1
)
SELECT ch.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN g.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_chunks,
       CAST(SUM(CASE WHEN g.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
         / CAST(COUNT(*) AS BIGINT)::DOUBLE AS dup_chunk_frac
FROM ch JOIN g USING (chunk_md5)
GROUP BY 1
"""


def q_doc_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact span dedup as a REWRITE (dedup.py::span_dedup_rewrite):
    the Lee et al. dedup action at 4-word-chunk granularity — the
    globally-first occurrence of every chunk survives, repeats are
    deleted, chunks spanning ≥3 distinct docs are dropped everywhere
    as boilerplate (the C4 move), and each document's cleaned text is
    reassembled in order. The oracle replays keeper selection
    (row_number over (doc, pos) per digest), the exact distinct-doc
    window count, and the ordered string_agg reassembly — every
    byte of every cleaned document is pinned."""
    from .operators.dedup import span_dedup_rewrite  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return span_dedup_rewrite(docs, span=4, boilerplate_df=3).orderBy(
        "doc_id"
    )


SQL_DOC_SPAN_REWRITE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
), ch AS (
  SELECT doc_id, i AS pos,
         array_to_string(list_slice(w, i * 4 + 1, i * 4 + 4), ' ') AS chunk
  FROM t, unnest(range(0, (len(w) + 3) // 4)) AS u(i)
), flagged AS (
  SELECT doc_id, pos, chunk,
         row_number() OVER (PARTITION BY md5(chunk)
                            ORDER BY doc_id, pos) AS rn,
         COUNT(DISTINCT doc_id) OVER (PARTITION BY md5(chunk)) AS n_docs
  FROM ch
), marked AS (
  SELECT doc_id, pos, chunk,
         (n_docs >= 3) AS boiler,
         (n_docs < 3 AND rn > 1) AS dup,
         (n_docs < 3 AND rn = 1) AS keep
  FROM flagged
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN keep THEN chunk END, ' '
                           ORDER BY pos), '') AS text_clean,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_dropped,
       CAST(SUM(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler_dropped
FROM marked
GROUP BY doc_id
ORDER BY doc_id
"""


def q_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix
    (dedup.py::cross_source_duplication): for every ordered source
    pair, the distinct 4-word chunks they share plus exact
    integer-micro containment fractions — the which-crawl-duplicates-
    which accounting run before mixing overlapping sources. The oracle
    replays the distinct (chunk, source) set and the pair counts with
    a digest self-join — same matrix from an independent formulation
    (the engine explodes catalog-bounded per-digest source sets
    map-side instead of self-joining)."""
    from .operators.dedup import cross_source_duplication  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return cross_source_duplication(docs, span=4).orderBy(
        "source_a", "source_b"
    )


SQL_SOURCE_DUP_MATRIX = r"""
WITH t AS (
  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents WHERE source IS NOT NULL AND text IS NOT NULL
), ds AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_slice(w, i * 4 + 1, i * 4 + 4), ' '))
           AS digest
  FROM t, unnest(range(0, (len(w) + 3) // 4)) AS u(i)
), tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks FROM ds GROUP BY 1
), agg AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS shared_chunks
  FROM ds a JOIN ds b ON a.digest = b.digest AND a.source < b.source
  GROUP BY 1, 2
)
SELECT g.source_a, g.source_b, g.shared_chunks,
       ta.n_chunks AS n_chunks_a, tb.n_chunks AS n_chunks_b,
       CAST((g.shared_chunks * 1000000) // ta.n_chunks AS BIGINT)
         AS containment_a_micro,
       CAST((g.shared_chunks * 1000000) // tb.n_chunks AS BIGINT)
         AS containment_b_micro
FROM agg g
JOIN tot ta ON g.source_a = ta.source
JOIN tot tb ON g.source_b = tb.source
ORDER BY g.source_a, g.source_b
"""


def q_doc_span_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-epoch face of the streaming span dedup
    (streaming/span_stream.py::process_span_batch): the whole corpus
    delivered as epoch 0 against an empty catalog must produce
    EXACTLY the batch operator's output — registered against the SAME
    oracle as ``doc_span_rewrite`` (the ``bpe_merges_local`` /
    ``emb_rp_indexed`` identical-output precedent), so the streaming
    code path itself — state discovery through fsio, the history join,
    the epoch-idempotent cleaned/state writes — is driver-checked, not
    just pytest-pinned.

    Side effect: (re)writes ``span_stream_<sf-tag>/`` under the
    session warehouse each call (cleared up front so a prior run's
    catalog can't leak into this epoch's decisions — the
    doc_minhash_indexed saved-artifact pattern). Two concurrent runs
    against the SAME sf_dir would race — run same-sf sweeps
    sequentially."""
    from .streaming import fsio  # noqa: PLC0415
    from .streaming.span_stream import process_span_batch  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    root = os.path.join(re.sub(r"^file:/*", "/", wh), f"span_stream_{tag}")
    fsio.delete(spark, root)
    process_span_batch(docs, 0, root, span=4, boilerplate_df=3)
    return spark.read.parquet(f"{root}/cleaned/batch=0").orderBy("doc_id")


def q_source_dup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-epoch face of the streaming cross-source duplication
    matrix (streaming/source_matrix_stream.py::
    process_source_matrix_batch): the whole corpus delivered as epoch 0
    against empty state must produce EXACTLY the batch operator's
    matrix — registered against the SAME oracle as
    ``source_dup_matrix`` (the ``doc_span_stream`` precedent), so the
    streaming code path itself — bucketed (digest, source) catalog
    discovery, the set-based pair-increment algebra, the
    epoch-idempotent pairs/totals/matrix writes — is driver-checked,
    not just pytest-pinned.

    Side effect: (re)writes ``source_matrix_<sf-tag>/`` under the
    session warehouse each call (cleared up front — the
    doc_span_stream saved-artifact pattern). Two concurrent runs
    against the SAME sf_dir would race — run same-sf sweeps
    sequentially."""
    from .streaming import fsio  # noqa: PLC0415
    from .streaming.source_matrix_stream import (  # noqa: PLC0415
        process_source_matrix_batch,
    )

    docs = _t(spark, sf_dir, "documents")
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    root = os.path.join(re.sub(r"^file:/*", "/", wh), f"source_matrix_{tag}")
    fsio.delete(spark, root)
    process_source_matrix_batch(docs, 0, root, span=4)
    return spark.read.parquet(f"{root}/matrix/batch=0").orderBy(
        "source_a", "source_b"
    )


def q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen (dedup.py::contamination_check):
    docs with doc_id % 97 == 0 stand in for the eval set; every other
    doc reports its shingle-overlap fraction against that set."""
    from .operators.dedup import contamination_check  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_check(corpus, bench)


SQL_DOC_CONTAMINATION = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 1, 2)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS sh
  FROM (
    SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS w
    FROM documents
  )
), bench AS (
  SELECT DISTINCT s FROM (
    SELECT unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0)
), docsh AS (
  SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % 97 <> 0
), totals AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM docsh GROUP BY 1
), ov AS (
  SELECT d.doc_id, COUNT(*) AS n_overlap
  FROM docsh d JOIN bench b ON d.s = b.s GROUP BY 1
)
SELECT t.doc_id, t.n_shingles,
       coalesce(ov.n_overlap, 0) AS n_overlap,
       CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
         AS contam_frac,
       CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE)
         >= 0.2 AS contaminated
FROM totals t LEFT JOIN ov USING (doc_id)
"""


def q_doc_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained bigram-LM mean log-likelihood per doc (text.py::
    bigram_lm_scores) — the perplexity-filter signal, with log-probs
    quantized to integer micros so the sum is engine/partitioning-
    deterministic."""
    from .operators.text import bigram_lm_scores  # noqa: PLC0415

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


SQL_DOC_BIGRAM_LM = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
), tok AS (
  SELECT doc_id, i AS pos, w[i] AS w1
  FROM t, unnest(range(1, len(w) + 1)) AS u(i)
), bgf AS (
  SELECT doc_id, w1, w2 FROM (
    SELECT doc_id, w1, lead(w1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
    FROM tok) WHERE w2 IS NOT NULL
), c2 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bgf GROUP BY 1, 2
), c1 AS (
  SELECT w1, COUNT(*) AS c1 FROM tok GROUP BY 1
), model AS (
  SELECT c2.w1, c2.w2,
         CAST(round(ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) * 1000000.0)
              AS BIGINT) AS logp_micro
  FROM c2 JOIN c1 USING (w1)
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(m.logp_micro) AS BIGINT) AS logp_micro_sum,
       CAST(SUM(m.logp_micro) AS BIGINT)::DOUBLE
         / (CAST(COUNT(*) AS BIGINT)::DOUBLE * 1000000.0) AS avg_logprob
FROM bgf b JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2
GROUP BY 1
"""


def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (text.py::bm25_topk): top-25 docs for a
    3-term keyword query, idf and per-term contributions micro-quantized
    for engine-exact scores."""
    from .operators.text import bm25_topk  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "window", "customer"], k=25)


#: Shared BM25 CTE chain (tokenize → tf/df → micro-quantized per-term
#: contributions) — consumed by BOTH the plain top-k oracle and the
#: RRF fusion oracle so the scoring SQL cannot silently diverge (the
#: parameterized-builder precedent of _ann_oracle_sql / kcore/lpa).
_BM25_CTES = r"""WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
), doclen AS (
  SELECT doc_id, len(w) AS dl FROM t
), stats AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM doclen
), tok AS (
  SELECT doc_id, unnest(w) AS word FROM t
), tf AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM tok
  WHERE word IN ('spark', 'window', 'customer') GROUP BY 1, 2
), dfreq AS (
  SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
), contrib AS (
  SELECT tf.doc_id,
         CAST(round(
           (CAST(round(ln((n_docs - df + 0.5) / (df + 0.5)) * 1000000.0)
                 AS BIGINT) / 1000000.0)
           * (tf::DOUBLE * (1.2 + 1.0)
              / (tf::DOUBLE
                 + 1.2 * ((1.0 - 0.75)
                          + 0.75 * dl::DOUBLE
                            / (sum_dl::DOUBLE / n_docs::DOUBLE))))
           * 1000000.0) AS BIGINT) AS score_micro
  FROM tf
  JOIN dfreq USING (word)
  CROSS JOIN stats
  JOIN doclen USING (doc_id)
)"""

SQL_DOC_BM25 = _BM25_CTES + r"""
SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS score_micro,
       CAST(SUM(score_micro) AS BIGINT)::DOUBLE / 1000000.0 AS bm25_score
FROM contrib GROUP BY 1
ORDER BY score_micro DESC, doc_id ASC LIMIT 25
"""



def q_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means, k=8, 3 assignment rounds (operators/
    clustering.py) — iterative Lloyd's with micro-quantized integer
    accumulators, so even this loop hash-matches a DuckDB oracle (the
    oracle unrolls the iterations as CTEs; see kmeans_oracle_sql).

    kmeans_fit_predict runs the Arrow/numpy assignment kernel
    (bit-identical to the HOF reference on all inputs; ~3× faster at
    sf0.1), fused with the partial sums in each Lloyd update. A
    reference fit over the interpreted-HOF kernel ``assign_clusters``
    is pinned to it by the parity tests in tests/test_clustering.py.
    The ``emb_kmeans_pandas`` registry name runs this same function."""
    from .operators.clustering import (  # noqa: PLC0415
        kmeans_cluster_summary,
        kmeans_fit_predict,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_cluster_summary(kmeans_fit_predict(emb, k=8, iters=3))


def _kmeans_unrolled_ctes(k: int = 8, iters: int = 3) -> str:
    """The WITH-chain of the unrolled-iteration DuckDB k-means replay,
    ending in CTE ``afin(vec_id, cid, dist_micro)`` — the final-round
    assignment. Shared by the k-means summary oracle and the
    semantic-dedup oracle.

    Mirrors clustering.py exactly: micro-quantized init from the k
    lowest vec_ids, per-iteration argmin assignment on integer-micro
    distances (ties → lowest cid), integer-sum centroid updates with
    COALESCE fallback for empty clusters.
    """
    parts = [
        f"""WITH ex AS (
  SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS x
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
), init AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS cid, vec_id
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
), c0 AS (
  SELECT init.cid, ex.dim, floor(ex.x * 1000000 + 0.5) / 1000000.0 AS val
  FROM init JOIN ex USING (vec_id)
)"""
    ]
    for i in range(1, iters):
        prev = f"c{i - 1}"
        parts.append(
            f""", d{i} AS (
  SELECT e.vec_id, c.cid,
         CAST(SUM(CAST(round((e.x - c.val) * (e.x - c.val) * 1000000.0)
                       AS BIGINT)) AS BIGINT) AS dist_micro
  FROM ex e JOIN {prev} c USING (dim) GROUP BY 1, 2
), a{i} AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist_micro ASC, cid ASC) AS rn
    FROM d{i}) WHERE rn = 1
), s{i} AS (
  SELECT a.cid, e.dim,
         CAST(SUM(CAST(floor(e.x * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s,
         COUNT(*) AS n
  FROM a{i} a JOIN ex e USING (vec_id) GROUP BY 1, 2
), c{i} AS (
  SELECT c.cid, c.dim,
         COALESCE(s.s::DOUBLE / (s.n::DOUBLE * 1000000.0), c.val) AS val
  FROM {prev} c LEFT JOIN s{i} s ON s.cid = c.cid AND s.dim = c.dim
)"""
        )
    last = f"c{iters - 1}"
    parts.append(
        f""", dfin AS (
  SELECT e.vec_id, c.cid,
         CAST(SUM(CAST(round((e.x - c.val) * (e.x - c.val) * 1000000.0)
                       AS BIGINT)) AS BIGINT) AS dist_micro
  FROM ex e JOIN {last} c USING (dim) GROUP BY 1, 2
), afin AS (
  SELECT vec_id, cid, dist_micro FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dist_micro ASC, cid ASC) AS rn
    FROM dfin) WHERE rn = 1
)"""
    )
    return "".join(parts)


def kmeans_oracle_sql(k: int = 8, iters: int = 3) -> str:
    """Unrolled DuckDB oracle for q_emb_kmeans: final-assignment
    per-cluster summary."""
    return (
        _kmeans_unrolled_ctes(k, iters)
        + """
SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(vec_id) AS BIGINT) AS member_checksum,
       CAST(SUM(dist_micro) AS BIGINT) AS sum_dist_micro
FROM afin GROUP BY 1"""
    )


SQL_EMB_KMEANS = kmeans_oracle_sql(k=8, iters=3)


def q_emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (clustering.py::semantic_dedup):
    2-round k-means partition, within-cluster quantized-cosine pairs at
    ≥ 0.9, drop the higher id of each pair; summarized per cluster.
    The whole pipeline — clustering, pair generation, keep/drop — is
    engine-exact, so the oracle unrolls it in SQL."""
    from .operators.clustering import semantic_dedup  # noqa: PLC0415

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, k=8, iters=2, threshold=0.45)
    return out.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum(F.col("is_dropped").cast("bigint")).alias("n_dropped"),
        F.sum(F.when(~F.col("is_dropped"), F.col("vec_id"))).alias("kept_checksum"),
    )


SQL_EMB_SEMANTIC_DEDUP = (
    _kmeans_unrolled_ctes(k=8, iters=2)
    + """, q AS (
  SELECT vec_id, i - 1 AS dim,
         CAST(floor(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT) AS qx
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
), n2 AS (
  SELECT vec_id, CAST(SUM(qx * qx) AS BIGINT) AS nn FROM q GROUP BY 1
), pr AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(SUM(qa.qx * qb.qx) AS BIGINT) AS dot
  FROM afin a
  JOIN afin b ON a.cid = b.cid AND a.vec_id < b.vec_id
  JOIN q qa ON qa.vec_id = a.vec_id
  JOIN q qb ON qb.vec_id = b.vec_id AND qb.dim = qa.dim
  GROUP BY 1, 2
), dropped AS (
  SELECT DISTINCT p.id_b
  FROM pr p JOIN n2 na ON na.vec_id = p.id_a JOIN n2 nb ON nb.vec_id = p.id_b
  WHERE p.dot::DOUBLE / (sqrt(na.nn::DOUBLE) * sqrt(nb.nn::DOUBLE)) >= 0.45
)
SELECT a.cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(SUM(CASE WHEN d.id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(SUM(CASE WHEN d.id_b IS NULL THEN a.vec_id END) AS BIGINT)
         AS kept_checksum
FROM afin a LEFT JOIN dropped d ON d.id_b = a.vec_id
GROUP BY 1"""
)


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 iterations, over the customer→supplier purchase
    graph (operators/graph.py::pagerank — integer-micro ranks, so the
    iterative run hash-matches the unrolled DuckDB oracle). Suppliers
    offset by 1e6 to keep the node spaces disjoint. Top-20 by rank."""
    from .operators.graph import pagerank  # noqa: PLC0415

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + F.lit(1_000_000)).alias("dst"),
        )
        .distinct()
    )
    return (
        pagerank(edges, iters=3)
        .orderBy(F.col("rank_micro").desc(), F.col("node").asc())
        .limit(20)
    )


def pagerank_oracle_sql(iters: int = 3) -> str:
    """Unrolled-iteration DuckDB oracle for q_graph_pagerank, mirroring
    graph.py::pagerank exactly (micro-rounded per-edge contributions,
    teleport term computed as the same float expression)."""
    parts = [
        """WITH e AS (
  SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), outdeg AS (
  SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1
), r0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes
)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""", c{i} AS (
  SELECT e.dst AS node,
         CAST(SUM(CAST(round(r.rank_micro::DOUBLE / o.outdeg::DOUBLE)
                       AS BIGINT)) AS BIGINT) AS inflow
  FROM e JOIN r{i - 1} r ON e.src = r.node JOIN outdeg o ON e.src = o.src
  GROUP BY 1
), r{i} AS (
  SELECT n.node,
         CAST(round((1.0 - 0.85) * 1000000.0
                    + 0.85 * COALESCE(c.inflow, 0)::DOUBLE) AS BIGINT)
           AS rank_micro
  FROM nodes n LEFT JOIN c{i} c USING (node)
)"""
        )
    parts.append(
        f"""
SELECT node, rank_micro, rank_micro::DOUBLE / 1000000.0 AS rank
FROM r{iters} ORDER BY rank_micro DESC, node ASC LIMIT 20"""
    )
    return "".join(parts)


SQL_GRAPH_PAGERANK = pagerank_oracle_sql(3)


def q_ev_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series RESAMPLE with gap fill: per user, an hourly grid from
    first to last event hour; empty hours get 0 counts and the last
    observed value forward-filled. Grid via sequence+explode (no
    driver-side range), money sums as cents-bigints, last-in-hour value
    by (ts, event_id) tiebreak — all engine-deterministic.

    Plan: one (user, hour) agg over the events scan, a bounds agg, the
    exploded grid left-joined back (user-keyed — co-partitioned with
    the forward-fill window's requirement), one window pass.
    """
    ev = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    w_last = Window.partitionBy("user_id", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    per_hour = (
        ev.select("user_id", hour.alias("hour"), "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w_last))
        .groupBy("user_id", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("last_value"),
        )
    )
    bounds = per_hour.groupBy("user_id").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour"),
    )
    wff = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(per_hour, ["user_id", "hour"], "left")
        .withColumn("ffill_value", F.last("last_value", ignorenulls=True).over(wff))
        .select(
            "user_id",
            F.date_format("hour", "yyyy-MM-dd HH:00").alias("hour"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.coalesce("value_cents", F.lit(0)).alias("value_cents"),
            "ffill_value",
        )
    )


SQL_EV_RESAMPLE = """
WITH ph AS (
  SELECT user_id, date_trunc('hour', ts) AS hour,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
         MAX(CASE WHEN rn = 1 THEN value END) AS last_value
  FROM (
    SELECT user_id, ts, event_id, value,
           row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events)
  GROUP BY 1, 2
), bounds AS (
  SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM ph GROUP BY 1
), grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
  FROM bounds
)
SELECT g.user_id,
       strftime(g.hour, '%Y-%m-%d %H:00') AS hour,
       COALESCE(ph.n_events, 0) AS n_events,
       COALESCE(ph.value_cents, 0) AS value_cents,
       last_value(ph.last_value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_value
FROM grid g LEFT JOIN ph ON ph.user_id = g.user_id AND ph.hour = g.hour
"""


def q_ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen week, counted
    per week-offset of later activity — the standard cohort-retention
    analytics shape. First-seen via window min (one scan, no self-join).
    """
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    e2 = ev.select("user_id", "ts", F.min("ts").over(w).alias("first_ts"))
    return (
        e2.select(
            F.date_format(F.date_trunc("week", "first_ts"), "yyyy-MM-dd").alias(
                "cohort_week"
            ),
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.col("first_ts").cast("date"))
                / 7
            )
            .cast("bigint")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


SQL_EV_RETENTION = """
WITH f AS (
  SELECT user_id, ts, MIN(ts) OVER (PARTITION BY user_id) AS first_ts
  FROM events
)
SELECT strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort_week,
       CAST((CAST(ts AS DATE) - CAST(first_ts AS DATE)) // 7 AS BIGINT)
         AS week_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM f GROUP BY 1, 2
"""


def q_doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation FUNNEL — the composition a real
    pre-training pipeline runs, as one query: quality filter → exact
    dedup → near-dup collapse (exact-Jaccard graph + connected
    components), reporting survivors and bytes per stage. Every stage
    reuses an already-oracled operator, so the whole funnel is
    hash-checked end to end (DuckDB mirrors the quality expression, the
    md5 dedup, and the cluster collapse via recursive CTE).

    Stages branch from shared frames — a production run would persist
    each survivor set (they are the pipeline's outputs); the funnel
    report itself is catalog-sized.
    """
    from .operators.dedup import exact_dedup, exact_jaccard_pairs  # noqa: PLC0415
    from .operators.graph import canonical_docs  # noqa: PLC0415
    from .operators.text import with_quality_score  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    quality = with_quality_score(docs).select("doc_id", "quality_score")
    s1 = docs.join(
        quality.filter(F.col("quality_score") >= 0.5).select("doc_id"), "doc_id"
    ).cache()  # each survivor set feeds both its stage row and the next stage
    s2 = exact_dedup(s1).cache()
    s3 = canonical_docs(s2, exact_jaccard_pairs(s2, threshold=0.4))

    def stage(ordinal: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        ).select(
            F.lit(ordinal).alias("stage"),
            F.lit(name).alias("stage_name"),
            "n_docs",
            "total_chars",
        )

    from .cache import pin  # noqa: PLC0415

    return pin(
        stage(0, "raw", docs)
        .unionByName(stage(1, "quality", s1))
        .unionByName(stage(2, "exact_dedup", s2))
        .unionByName(stage(3, "near_dup_collapse", s3)),
        s1,
        s2,
    )


SQL_DOC_CURATION = r"""
WITH RECURSIVE q AS (
  SELECT doc_id,
         0.4 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
         + 0.3 * (1.0 - CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE) ELSE 0.0 END)
         + 0.2 * (1.0 - CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE) ELSE 0.0 END)
         + 0.1 * (CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) > 0
             THEN CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                  x -> lower(x) IN ('the','and','of','to','is'))) AS DOUBLE)
                  / CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE)
             ELSE 0.0 END) AS quality_score
  FROM documents
), s1 AS (
  SELECT d.* FROM documents d
  JOIN q ON d.doc_id = q.doc_id AND q.quality_score >= 0.5
), keep AS (
  SELECT MIN(doc_id) AS doc_id FROM s1 GROUP BY md5(text)
), s2 AS (
  SELECT s1.* FROM s1 JOIN keep USING (doc_id)
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 1, 2)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS sh
  FROM (
    SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS w
    FROM s2
  )
), exsh AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
  FROM exsh a JOIN exsh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT id_a, id_b FROM pairs
  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.4
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(node, lab) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.node
), comp AS (
  SELECT node, MIN(lab) AS component FROM reach GROUP BY node
), losers AS (
  SELECT node AS doc_id FROM comp WHERE node <> component
), s3 AS (
  SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM losers)
)
SELECT 0 AS stage, 'raw' AS stage_name, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents
UNION ALL
SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) FROM s1
UNION ALL
SELECT 2, 'exact_dedup', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) FROM s2
UNION ALL
SELECT 3, 'near_dup_collapse', CAST(COUNT(*) AS BIGINT), CAST(SUM(n_chars) AS BIGINT) FROM s3
"""


def q_quantile_sketch_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory quantile sketch (sketch.py::sampled_quantile_
    sketch): per order priority, quartiles of order value from a 256-row
    k-min-hash uniform sample — the mergeable O(k)-state alternative to
    an exact full-sort percentile, engine-exact by construction."""
    from .operators.sketch import sampled_quantile_sketch  # noqa: PLC0415

    o = _t(spark, sf_dir, "orders")
    return sampled_quantile_sketch(
        o, ["o_orderpriority"], "o_orderkey", "o_totalprice", k=256
    )


SQL_QUANTILE_SKETCH = """
WITH h AS (
  SELECT o_orderpriority, o_totalprice AS v,
         CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
           AS h
  FROM orders
), s AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderpriority ORDER BY h) AS rn
    FROM h) WHERE rn <= 256
), g AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_sampled,
         list_sort(list(v)) AS vs
  FROM s GROUP BY 1
)
SELECT o_orderpriority, n_sampled,
       vs[CAST(floor(0.25 * (n_sampled - 1)) AS INT) + 1] AS q25,
       vs[CAST(floor(0.5 * (n_sampled - 1)) AS INT) + 1] AS q50,
       vs[CAST(floor(0.75 * (n_sampled - 1)) AS INT) + 1] AS q75
FROM g
"""


def q_sql_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL FRONT-END exercised end to end: temp views + a multi-CTE
    ``spark.sql`` query (join, money-exact agg, two window shapes) —
    proving the engine's Spark-SQL dialect surface, not just the
    DataFrame API, against the same DuckDB oracle."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    return spark.sql(
        """
        WITH rev AS (
          SELECT c.c_mktsegment AS segment,
                 SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS rev_cents
          FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_mktsegment
        )
        SELECT segment,
               rev_cents,
               CAST(rev_cents AS DOUBLE) / CAST(100.0 AS DOUBLE) AS revenue,
               CAST(rev_cents AS DOUBLE) / CAST(SUM(rev_cents) OVER () AS DOUBLE)
                 AS revenue_share,
               CAST(RANK() OVER (ORDER BY rev_cents DESC, segment ASC) AS BIGINT)
                 AS rev_rank
        FROM rev
        """
    )


SQL_SQL_SEGMENT_REVENUE = """
WITH rev AS (
  SELECT c.c_mktsegment AS segment,
         CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment
)
SELECT segment,
       rev_cents,
       CAST(rev_cents AS DOUBLE) / CAST(100.0 AS DOUBLE) AS revenue,
       CAST(rev_cents AS DOUBLE)
         / CAST(CAST(SUM(rev_cents) OVER () AS BIGINT) AS DOUBLE)
         AS revenue_share,
       CAST(RANK() OVER (ORDER BY rev_cents DESC, segment ASC) AS BIGINT)
         AS rev_rank
FROM rev
"""


def q_ev_interval_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big interval join via bin expansion (temporal.py::
    binned_interval_join): click↔purchase pairs of the same user within
    ±10 minutes, as a shuffled equi-join on (user, time-bin) — the
    scale path when NEITHER side broadcasts (band_join's nested-loop
    needs a tiny side). Per-user pair counts."""
    from .operators.temporal import binned_interval_join  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    pairs = binned_interval_join(purchases, clicks, "user_id", "p_ts", "c_ts", 600)
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


SQL_EV_INTERVAL_BINNED = """
SELECT p.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM (SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase') p
JOIN (SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 600 SECOND
 AND c.c_ts <= p.p_ts + INTERVAL 600 SECOND
GROUP BY 1
"""


def q_neg_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling (sampling.py::negative_samples):
    2 hash-drawn negative parts per (customer, part) purchase pair from
    lineitem/orders, summarized per customer (pair/negative/collision
    counts + negative-id checksum)."""
    from .operators.sampling import negative_samples  # noqa: PLC0415

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n_parts = _t(spark, sf_dir, "part").count()
    positives = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item_id"))
        .distinct()
    )
    neg = negative_samples(positives, n_items=n_parts, k=2)
    return neg.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_negatives"),
        F.sum("neg_item_id").alias("neg_checksum"),
        F.sum(F.col("collides_positive").cast("long")).alias("n_collisions"),
    )


SQL_NEG_SAMPLING = """
WITH pos AS (
  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), np AS (
  SELECT COUNT(*) AS n_parts FROM part
), neg AS (
  SELECT user_id, item_id, i AS draw_idx,
         CAST(('0x' || substring(md5(
             CAST(user_id AS VARCHAR) || '#' || CAST(item_id AS VARCHAR)
             || '#' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
           % n_parts + 1 AS neg_item_id
  FROM pos, np, unnest(range(0, 2)) AS u(i)
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_negatives,
       CAST(SUM(neg_item_id) AS BIGINT) AS neg_checksum,
       CAST(SUM(CASE WHEN neg_item_id = item_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_collisions
FROM neg GROUP BY 1
"""


def q_doc_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-hash MinHash LSH (dedup.py::portable_minhash_pairs):
    the full banded-LSH pipeline — shingle, one md5 per shingle, 16
    affine permutations mod 2^31−1, 4-band bucket join,
    signature-estimated Jaccard — on a hash family DuckDB replays
    exactly, so the ALGORITHM gets a pure-SQL value-hash oracle (the
    xxhash64 `doc_minhash_pairs` is oracled too since r5, via the
    driver-side XXH64 reference)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.portable_minhash_pairs(docs, threshold=0.5)


#: (seed, a, b) VALUES rows — the same literals
#: dedup.portable_hash_params(16) feeds the Spark side.
_PORTABLE_MH_PARAMS = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(dedup.portable_hash_params(16))
)

#: position-weighted polynomial over the k=3 token hashes — the same
#: literals dedup.portable_shingle_coeffs(3) feeds the Spark side.
#: DuckDB lists are 1-based and out-of-range indexing yields NULL,
#: which COALESCE(…, 0) maps to the same 0 the Spark side uses.
_PORTABLE_SH_EXPR = " + ".join(
    f"(COALESCE(h[i + {j + 1}], 0) * {c}) % 2147483647"
    for j, c in enumerate(dedup.portable_shingle_coeffs(3))
)

SQL_DOC_MINHASH_PORTABLE = rf"""
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
), th AS (
  SELECT doc_id,
         list_transform(t, s ->
             CAST(('0x' || substring(md5(s), 1, 15)) AS BIGINT) % 2147483648) AS h,
         len(t) AS n
  FROM tok
), hx AS (
  SELECT doc_id, ({_PORTABLE_SH_EXPR}) % 2147483647 AS x
  FROM th, LATERAL (SELECT unnest(generate_series(0, greatest(n - 3, 0))) AS i) g
), par AS (
  SELECT * FROM (VALUES {_PORTABLE_MH_PARAMS}) AS p(seed, a, b)
), sig AS (
  SELECT doc_id, seed, MIN((a * x + b) % 2147483647) AS mh
  FROM hx, par
  GROUP BY doc_id, seed
), bands AS (
  SELECT doc_id, seed // 4 AS band,
         CAST(('0x' || substring(md5(
             string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)), 1, 15)) AS BIGINT)
           AS bucket
  FROM sig GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), est AS (
  SELECT c.id_a, c.id_b,
         SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b AND sb.seed = sa.seed
  GROUP BY 1, 2
)
SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
"""


def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned selective join (scale.py::bloom_semi_prune):
    lineitem rows are pre-filtered by a bloom bitmap of the qualifying
    suppliers' keys before the join shuffle — the explicit runtime-
    filter pattern. Bloom false positives are re-checked by the real
    join, so the result is bit-identical to the plain join the DuckDB
    oracle runs."""
    from .operators.scale import bloom_semi_prune  # noqa: PLC0415

    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 8000.0)
    pruned = bloom_semi_prune(li, s, "l_suppkey", small_key="s_suppkey")
    j = pruned.join(s, pruned["l_suppkey"] == s["s_suppkey"])
    return j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
        ).alias("revenue_cents"),
    )


SQL_BLOOM_PRUNED_JOIN = """
SELECT s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE s_acctbal > 8000.0
GROUP BY 1
"""


def q_incremental_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (scale.py::agg_state/
    merge_agg_state): aggregate orders before 1997 as the "running"
    state, the rest as the arriving "batch", and fold the batch's
    partial state into the running state — the materialized-view merge
    that avoids re-scanning history. The oracle aggregates the FULL
    table from scratch; hash-matching it proves merge == direct."""
    from .operators.scale import agg_state, merge_agg_state  # noqa: PLC0415

    o = _t(spark, sf_dir, "orders").withColumn(
        "price_cents", F.round(F.col("o_totalprice") * 100).cast("bigint")
    )
    keys = ["o_orderpriority"]
    measures = [
        ("price_cents", "count"),
        ("price_cents", "sum"),
        ("o_orderdate", "min"),
        ("o_orderdate", "max"),
    ]
    cutoff = F.lit("1997-01-01").cast("timestamp")
    hist = agg_state(o.filter(F.col("o_orderdate") < cutoff), keys, measures)
    batch = agg_state(o.filter(F.col("o_orderdate") >= cutoff), keys, measures)
    merged = merge_agg_state(hist, batch, keys, measures)
    return merged.select(
        "o_orderpriority",
        F.col("count_price_cents").alias("n_orders"),
        (F.col("sum_price_cents") / 100.0).alias("total_price"),
        F.col("min_o_orderdate").alias("first_order"),
        F.col("max_o_orderdate").alias("last_order"),
    )


SQL_INCREMENTAL_ORDER_STATS = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_price,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders
GROUP BY 1
"""


def q_doc_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimates (sketch.py::cms_sketch/
    cms_estimate): sketch every document token into a 4×512 counter
    matrix (portable affine hashes), then point-query the exact top-20
    tokens — output (token, true_count, cms_count) with cms_count ≥
    true_count by construction. The whole sketch-build + estimate
    pipeline hash-matches the DuckDB replay."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(dedup.norm_tokens(F.col("text"))).alias("token"))
    # tokenize + count ONCE (r14, guide §2.3): both the sketch and the
    # exact top-20 derive from the same token histogram — the sketch
    # via sum-of-counts (counter-identical to sketching the raw
    # stream; see cms_sketch count_col), the top via TakeOrdered. One
    # corpus tokenize pass and one token-keyed exchange (shared via
    # reuse) instead of two of each, and the 4-address explode runs
    # per DISTINCT token, not per occurrence.
    tc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_count"))
    sk = sketch.cms_sketch(
        tc, [], "token", depth=4, width=512, count_col="true_count"
    )
    top = tc.orderBy(F.col("true_count").desc(), F.col("token")).limit(20)
    est = sketch.cms_estimate(sk, top.select("token"), "token", depth=4, width=512)
    return top.join(est, "token").select("token", "true_count", "cms_count")


#: (seed, a, b) rows for the CMS depth-4 affine family — same literals
#: sketch.portable_hash_params(4) feeds the Spark side.
_CMS_PARAMS = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(sketch.portable_hash_params(4))
)

SQL_DOC_CMS = rf"""
WITH tok AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
), x AS (
  SELECT token,
         CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) % 2147483648 AS x
  FROM tok
), par AS (
  SELECT * FROM (VALUES {_CMS_PARAMS}) AS p(r, a, b)
), sk AS (
  SELECT r, (a * x + b) % 2147483647 % 512 AS c, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM x, par
  GROUP BY 1, 2
), top AS (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count,
         CAST(('0x' || substring(md5(token), 1, 15)) AS BIGINT) % 2147483648 AS x
  FROM tok
  GROUP BY 1
  ORDER BY 2 DESC, 1
  LIMIT 20
), addr AS (
  SELECT t.token, t.true_count, p.r, (p.a * t.x + p.b) % 2147483647 % 512 AS c
  FROM top t, par p
)
SELECT a.token, a.true_count,
       CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS cms_count
FROM addr a LEFT JOIN sk s ON a.r = s.r AND a.c = s.c
GROUP BY 1, 2
"""


def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing (packing.py::pack_sequences):
    every doc placed at (seq_id, seq_offset) under a 256-token budget,
    packed independently within 8 content-hashed shards — the
    training-batch assembly op, deterministic across engines."""
    from .operators.packing import pack_sequences  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=256, n_shards=8)


SQL_DOC_PACK = r"""
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8
           AS shard
  FROM documents
), c AS (
  SELECT doc_id, n_tokens, shard,
         CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_excl
  FROM t
)
SELECT doc_id, n_tokens, shard,
       CAST(shard * 1000000 + cum_excl // 256 AS BIGINT) AS seq_id,
       CAST(cum_excl % 256 AS BIGINT) AS seq_offset
FROM c
"""


def q_doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (packing.py::chunk_documents):
    32-token windows at stride 24, per-chunk md5 + actual token count —
    map-only explode, no shuffle."""
    from .operators.packing import chunk_documents  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    ch = chunk_documents(docs, chunk_size=32, stride=24)
    return ch.select(
        "doc_id",
        "chunk_idx",
        F.md5("chunk_text").alias("chunk_md5"),
        "chunk_tokens",
    )


SQL_DOC_CHUNKS = r"""
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS tok
  FROM documents
), s AS (
  SELECT doc_id, tok, len(tok) AS n FROM d
)
SELECT doc_id, i AS chunk_idx,
       md5(array_to_string(tok[(i*24+1):(i*24+32)], ' ')) AS chunk_md5,
       least(32, n - i*24) AS chunk_tokens
FROM s, LATERAL (
  SELECT unnest(generate_series(0, (greatest(n-32, 0)+23)//24)) AS i
) g
"""


def q_doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword token counting (text.py::with_bpe_token_stats):
    GPT-2-style pre-token classes via one JVM regexp_extract_all, with
    whitespace word count and tokens-per-word fertility alongside —
    the corpus-budgeting stat of the brief's 'token counting' item."""
    from .operators.text import with_bpe_token_stats  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return with_bpe_token_stats(docs)


SQL_DOC_BPE_TOKENS = r"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+'))
           AS n_bpe_tokens,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_words
  FROM documents
)
SELECT doc_id, n_bpe_tokens, n_words,
       CAST(n_bpe_tokens AS DOUBLE) / n_words AS fertility
FROM t
"""


def q_mm_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio analysis-window sampling (multimodal.py::
    sample_audio_windows): overlapping 500ms/250ms-hop window positions
    and payload sample indices from typed metadata — JVM sequence
    explode, map-only."""
    from .operators.multimodal import sample_audio_windows  # noqa: PLC0415

    win = sample_audio_windows(_media_df(spark, sf_dir), window_ms=500, hop_ms=250)
    return win.select(
        "media_id",
        F.col("win_start_ms").cast("bigint").alias("win_start_ms"),
        F.col("win_end_ms").cast("bigint").alias("win_end_ms"),
        "start_sample",
        "end_sample",
    )


SQL_MM_AUDIO_WINDOWS = """
WITH w AS (
  SELECT doc_id AS media_id,
         unnest(range(0, greatest(n_chars * 10 - 500, 0) + 1, 250))::BIGINT
           AS win_start_ms
  FROM documents WHERE doc_id % 3 = 1
)
SELECT media_id, win_start_ms, win_start_ms + 500 AS win_end_ms,
       CAST(win_start_ms * 16 AS BIGINT) AS start_sample,
       CAST((win_start_ms + 500) * 16 AS BIGINT) AS end_sample
FROM w
"""


def q_salted_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (scale.py::salted_distribution_agg):
    hot grouping keys split over 16 salt reducers, then combined. The
    result is salt-invariant, so the oracle is the plain GROUP BY —
    checking that the skew armor changes the PLAN, never the answer.
    l_quantity is integral, so the two-phase double sum is exact."""
    from .operators.scale import salted_distribution_agg  # noqa: PLC0415

    li = _t(spark, sf_dir, "lineitem")
    agg = salted_distribution_agg(li, "l_suppkey", "l_quantity", salt=16)
    return agg.select(
        "l_suppkey",
        "n_rows",
        F.col("sum_l_quantity").cast("bigint").alias("total_qty"),
    )


SQL_SALTED_SUPPLIER_VOLUME = """
SELECT l_suppkey, COUNT(*) AS n_rows,
       CAST(SUM(l_quantity) AS BIGINT) AS total_qty
FROM lineitem GROUP BY 1
"""


def q_salted_join_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salt-scattered skew join (scale.py::salted_join): the big side
    keeps one salt per row, the small side replicates ×16, and the
    joined output is provably the plain join (oracle = unsalted SQL).
    Orders⋈customer rolled up to market segment."""
    from .operators.scale import salted_join  # noqa: PLC0415

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(o, c, "c_custkey", salt=16)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(F.col("o_totalprice"), alias="total_price"),
    )


SQL_SALTED_JOIN_SEGMENTS = """
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Round-3 wave: attribution weights, CDC diff, graph shape, entropy,
# robust outliers, distributed Pareto, histogram


def q_ev_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution (temporal.py::multi_touch_weights over
    streaming/events.py::purchase_attribution_join run batch-mode):
    each purchase's credit split across its preceding 30-minute clicks,
    linear and exponential-time-decay. Decay terms are quantized to
    integer micros before the per-purchase window sum, so the weights
    are bit-stable in any engine / partitioning (bigram_lm trick)."""
    from .operators.temporal import multi_touch_weights  # noqa: PLC0415
    from .streaming.events import purchase_attribution_join  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    pairs = purchase_attribution_join(ev, "30 minutes")
    return multi_touch_weights(pairs).select(
        "purchase_id",
        "click_id",
        "n_touches",
        "age_us",
        "decay_micro",
        "w_linear",
        "w_decay",
    )


SQL_EV_MULTI_TOUCH = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), pairs AS (
  SELECT p.purchase_id, c.click_id,
         epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS age_us
  FROM p JOIN c ON p.user_id = c.user_id
   AND c.click_ts <= p.purchase_ts
   AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE
), t AS (
  SELECT purchase_id, click_id, age_us,
         CAST(round(pow(0.5, age_us / 600000000.0) * 1000000.0) AS BIGINT)
           AS decay_micro
  FROM pairs
)
SELECT purchase_id, click_id,
       COUNT(*) OVER w AS n_touches,
       age_us, decay_micro,
       1.0 / COUNT(*) OVER w AS w_linear,
       CAST(decay_micro AS DOUBLE) / CAST(SUM(decay_micro) OVER w AS DOUBLE)
         AS w_decay
FROM t
WINDOW w AS (PARTITION BY purchase_id)
"""


def q_cdc_orders_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (temporal.py::snapshot_diff): classify each
    order key added/removed/changed/unchanged between two simulated
    snapshots of the orders table (old = pre-1998 orders; new = 1996+
    orders with urgent orders repriced +10% — so all four classes
    appear: pre-1996 removed, 1998+ added, overlap changed/unchanged).
    One full-outer sort-merge join on the key; change test is
    column-wise null-safe equality — no row-hash, so no
    engine-formatting dependence."""
    from .operators.temporal import snapshot_diff  # noqa: PLC0415

    orders = _t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    new = (
        orders.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderpriority") == "1-URGENT",
                F.round(F.col("o_totalprice") * 1.1, 2),
            ).otherwise(F.col("o_totalprice")),
        )
    )
    d = snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    return d.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys")
    )


SQL_CDC_ORDERS_DIFF = """
WITH old AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
), new AS (
  SELECT o_orderkey, o_orderstatus,
         CASE WHEN o_orderpriority = '1-URGENT'
              THEN round(o_totalprice * 1.1, 2) ELSE o_totalprice END
           AS o_totalprice
  FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01'
), j AS (
  SELECT old.o_orderkey AS ko, new.o_orderkey AS kn,
         old.o_orderstatus AS so, new.o_orderstatus AS sn,
         old.o_totalprice AS po, new.o_totalprice AS pn
  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
)
SELECT CASE WHEN kn IS NULL THEN 'removed'
            WHEN ko IS NULL THEN 'added'
            WHEN so IS NOT DISTINCT FROM sn
             AND po IS NOT DISTINCT FROM pn THEN 'unchanged'
            ELSE 'changed' END AS change_type,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM j GROUP BY 1
"""


def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count (graph.py::triangle_count) over the
    supplier co-occurrence graph: an edge joins two suppliers that ship
    lines of the same order. Degree-oriented wedge join — per-node
    out-degree bounded O(sqrt|E|), candidates O(|E|^1.5) — vs the
    oracle's naive a<b<c 3-way self-join (fine at oracle SF, dead at
    100 TB; the asymmetry is the point)."""
    from .operators.graph import triangle_count  # noqa: PLC0415

    los = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = los.select("o", F.col("s").alias("src"))
    b = los.select("o", F.col("s").alias("dst"))
    edges = (
        a.join(b, "o")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return triangle_count(edges)


SQL_GRAPH_TRIANGLES = """
WITH los AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
), e AS (
  SELECT DISTINCT a.s AS a, b.s AS b
  FROM los a JOIN los b ON a.o = b.o AND a.s < b.s
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM e e1
JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
"""


def q_doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per doc (text.py::char_entropy) — the
    gibberish/binary-spill quality screen. Shuffle keyed (doc, char):
    rows bounded by alphabet size per doc, not text length; entropy
    terms micro-quantized pre-sum for engine-stable results."""
    from .operators.text import char_entropy  # noqa: PLC0415

    return char_entropy(_t(spark, sf_dir, "documents"))


SQL_DOC_CHAR_ENTROPY = """
WITH pos AS (
  SELECT doc_id, len(text) AS n_chars, substr(text, CAST(i AS INT), 1) AS ch
  FROM documents, unnest(range(1, len(text) + 1)) AS u(i)
), freq AS (
  SELECT doc_id, n_chars, ch, COUNT(*) AS c FROM pos GROUP BY 1, 2, 3
), terms AS (
  SELECT doc_id, n_chars,
         CAST(round(-(CAST(c AS DOUBLE) / n_chars)
                    * log2(CAST(c AS DOUBLE) / n_chars) * 1000000.0)
              AS BIGINT) AS tm
  FROM freq
)
SELECT doc_id, CAST(n_chars AS INT) AS n_chars,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
       CAST(SUM(tm) AS BIGINT) AS entropy_micro,
       CAST(SUM(tm) AS BIGINT) / 1000000.0 AS entropy_bits
FROM terms GROUP BY 1, 2
"""


def q_ev_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers via median absolute deviation per event type —
    the heavy-tail-safe alternative to the z-score filter
    (ev_value_zscore_outliers). Two grouped EXACT medians (both engines
    interpolate even-count medians identically) + one broadcast join
    back; modified z = 0.6745·(v−med)/MAD, |z| > 3.5."""
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    z = (
        F.lit(0.6745)
        * (F.col("value") - F.col("med"))
        / F.col("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("mad") > 0)
        .withColumn("robust_z", F.round(z, 6))
        .filter(F.abs(F.col("robust_z")) > 3.5)
        .select("event_id", "event_type", "value", "robust_z")
    )


SQL_EV_MAD_OUTLIERS = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY 1
), dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
)
SELECT d.event_id, d.event_type, d.value,
       round(0.6745 * (d.value - d.med) / m.mad, 6) AS robust_z
FROM dev d JOIN mad m USING (event_type)
WHERE m.mad > 0
  AND abs(round(0.6745 * (d.value - d.med) / m.mad, 6)) > 3.5
"""


def q_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / cumulative-share analysis: customers ranked by revenue
    with running share of total — WITHOUT the single-partition global
    window (scale.py::distributed_prefix_sum: range repartition +
    per-partition window + per-partition offsets; driver data is one
    row per partition). Revenue in exact bigint cents so every sum is
    order-independent integer arithmetic."""
    from .operators.scale import distributed_prefix_sum  # noqa: PLC0415

    rev = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "revenue_cents"
            )
        )
    )
    # grand total as a broadcast scalar INSIDE the one plan (r14: the
    # old separate .collect() re-ran the orders scan + agg as its own
    # job just to inline a literal; the rev aggregate subtree is now
    # shared via exchange reuse — rev's columns are exactly the prefix
    # sum's order ∪ value, so the r15 hybrid keeps the reuse-based
    # single-plan form for this query). cast("double") = the old
    # float(total) conversion of the exact bigint sum.
    total_df = rev.agg(F.sum("revenue_cents").cast("double").alias("_total"))
    cum = distributed_prefix_sum(
        rev,
        [F.col("revenue_cents").desc(), F.col("o_custkey").asc()],
        "revenue_cents",
        out_col="cum_cents",
    )
    return cum.crossJoin(F.broadcast(total_df)).select(
        "o_custkey",
        (F.col("revenue_cents") / 100.0).alias("revenue"),
        F.col("cum_cents").cast("bigint").alias("cum_cents"),
        F.round(F.col("cum_cents") / F.col("_total"), 6).alias("cum_share"),
        (F.col("cum_cents") / F.col("_total") <= 0.8).alias("is_top80"),
    )


SQL_PARETO_CUSTOMERS = """
WITH rev AS (
  SELECT o_custkey,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS revenue_cents
  FROM orders GROUP BY 1
), c AS (
  SELECT o_custkey, revenue_cents,
         SUM(revenue_cents) OVER (
           ORDER BY revenue_cents DESC, o_custkey ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents,
         SUM(revenue_cents) OVER () AS total_cents
  FROM rev
)
SELECT o_custkey,
       revenue_cents / 100.0 AS revenue,
       CAST(cum_cents AS BIGINT) AS cum_cents,
       round(CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE), 6)
         AS cum_share,
       CAST(cum_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) <= 0.8
         AS is_top80
FROM c
"""


def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals — equi-width binning as a
    pure map-side expression + one small groupBy (the profiling
    primitive behind range-partition planning and DQ dashboards).
    Bucket arithmetic on exact cents; out-of-range clamps to edge
    buckets."""
    lo_c, hi_c, nb = 0, 600_000_00, 24  # cents: $0 .. $600k, $25k buckets
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    width = (hi_c - lo_c) // nb
    raw = F.floor((cents - F.lit(lo_c)) / F.lit(width))
    bucket = F.least(F.lit(nb - 1), F.greatest(F.lit(0), raw)).cast("int")
    return (
        _t(spark, sf_dir, "orders")
        .select(bucket.alias("bucket"), cents.alias("cents"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (F.sum("cents") / 100.0).alias("total_price"),
            (F.min("cents") / 100.0).alias("min_price"),
            (F.max("cents") / 100.0).alias("max_price"),
        )
        .withColumn("bucket_lo", (F.col("bucket") * width / 100.0))
        .withColumn("bucket_hi", ((F.col("bucket") + 1) * width / 100.0))
    )


SQL_PRICE_HISTOGRAM = """
WITH b AS (
  SELECT CAST(least(23, greatest(0,
           CAST(floor(CAST(round(o_totalprice * 100) AS BIGINT) / 2500000)
                AS BIGINT))) AS INT) AS bucket,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       SUM(cents) / 100.0 AS total_price,
       MIN(cents) / 100.0 AS min_price,
       MAX(cents) / 100.0 AS max_price,
       bucket * 2500000 / 100.0 AS bucket_lo,
       (bucket + 1) * 2500000 / 100.0 AS bucket_hi
FROM b GROUP BY 1
"""


def q_ev_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4's VARIANT type: ``parse_json``
    once into the binary-encoded variant, then typed ``variant_get``
    field reads — the scale story vs per-access string re-parsing
    (get_json_object re-tokenizes the JSON text on every call; variant
    decodes once into a columnar-friendly binary). Per-user rollup of
    the extracted metric."""
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select("user_id", k.alias("k"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("k").cast("bigint")).alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_EV_VARIANT_PROPS = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
FROM events GROUP BY 1
"""


def q_doc_term_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term vectors through a Python UDTF + SQL LATERAL
    (text.py::term_vector_udtf) — the Spark 4 set-returning-function
    API surface. Deliberately capped to doc_id < 50: a Python UDTF is
    the slow path (row-at-a-time Python hop); the hot-path equivalent
    is explode(split())→groupBy (doc_vocab_topk). Oracle-checked so
    the UDTF semantics, not just its signature, are pinned."""
    from .operators.text import term_vector_udtf  # noqa: PLC0415

    spark.udtf.register("term_vector", term_vector_udtf())
    _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).createOrReplaceTempView(
        "_docs_tv"
    )
    return spark.sql(
        """
        SELECT t.doc_id, t.word, t.cnt
        FROM _docs_tv d, LATERAL term_vector(d.doc_id, d.text) t
        """
    )


SQL_DOC_TERM_VECTORS = r"""
SELECT doc_id, w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents WHERE doc_id < 50
)
GROUP BY 1, 2
"""


def _zorder_oracle_sql(bits: int = 16) -> str:
    """Generate the DuckDB Morton-interleave expression matching
    scale.py::zorder_value bit-for-bit (non-overlapping bits → sum)."""
    mask = (1 << bits) - 1
    terms = []
    for d, c in enumerate(["l_orderkey", "l_partkey"]):
        for b in range(bits):
            terms.append(f"((({c} & {mask}) >> {b}) & 1) * {1 << (b * 2 + d)}")
    expr = " + ".join(terms)
    return f"""
SELECT l_orderkey, l_partkey, CAST({expr} AS BIGINT) AS z
FROM lineitem WHERE l_orderkey < 1000
"""


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering key (scale.py::zorder_value): pure JVM
    bit interleaving of two join/filter dimensions into one sortable
    bigint — sort by it and per-file min/max stats prune on EITHER
    dimension. The layout rewrite itself is zorder_repartition;
    this query pins the key computation against an unrolled-bit-ops
    DuckDB oracle."""
    from .operators.scale import zorder_value  # noqa: PLC0415

    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 1000)
        .select(
            "l_orderkey",
            "l_partkey",
            zorder_value(["l_orderkey", "l_partkey"]).alias("z"),
        )
    )


SQL_ZORDER_KEY = _zorder_oracle_sql()


def q_sql_recursive_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.1 ``WITH RECURSIVE``) date spine:
    generate every month in the data's range, left-join monthly
    revenue so ZERO-order months still appear — the gap-filling shape
    reporting needs and a plain GROUP BY cannot produce. Bounds are
    static literals (the recursion's fixpoint must not depend on a
    scan). Revenue in exact cents."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_orders_rc")
    return spark.sql(
        """
        WITH RECURSIVE months(m) AS (
          SELECT DATE '1995-01-01'
          UNION ALL
          SELECT m + INTERVAL '1' MONTH FROM months
          WHERE m < DATE '2001-08-01'
        ),
        rev AS (
          SELECT date_format(o_orderdate, 'yyyy-MM') AS ym,
                 COUNT(*) AS n_orders,
                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS cents
          FROM _orders_rc GROUP BY 1
        )
        SELECT date_format(m, 'yyyy-MM') AS ym,
               CAST(coalesce(rev.n_orders, 0) AS BIGINT) AS n_orders,
               coalesce(rev.cents, 0) / CAST(100 AS DOUBLE) AS revenue
        FROM months LEFT JOIN rev ON date_format(m, 'yyyy-MM') = rev.ym
        """
    )


SQL_RECURSIVE_MONTHS = """
WITH RECURSIVE months(m) AS (
  SELECT DATE '1995-01-01'
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
  WHERE m < DATE '2001-08-01'
),
rev AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS ym,
         COUNT(*) AS n_orders,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1
)
SELECT strftime(m, '%Y-%m') AS ym,
       CAST(coalesce(rev.n_orders, 0) AS BIGINT) AS n_orders,
       coalesce(rev.cents, 0) / 100.0 AS revenue
FROM months LEFT JOIN rev ON strftime(m, '%Y-%m') = rev.ym
"""


def q_sql_pipe_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4 ``|>`` operators) — the linear
    FROM→WHERE→AGGREGATE form of a returned-lines rollup. Same logical
    plan as the nested-SELECT equivalent (the oracle): pipe syntax is
    parse-level sugar, so this pins that the surface exists AND that it
    optimizes identically."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_lineitem_pipe")
    return spark.sql(
        """
        FROM _lineitem_pipe
        |> WHERE l_returnflag = 'R'
        |> AGGREGATE
             COUNT(*) AS n_lines,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) / CAST(100 AS DOUBLE) AS returned_value
           GROUP BY l_linestatus
        |> SELECT l_linestatus, n_lines, returned_value
        """
    )


SQL_PIPE_RETURNS = """
SELECT l_linestatus, COUNT(*) AS n_lines,
       SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
         AS returned_value
FROM lineitem WHERE l_returnflag = 'R'
GROUP BY 1
"""


def q_collated_distinct_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collated strings (Spark 4 ``collate``): case-insensitive
    DISTINCT via the UTF8_LCASE collation instead of lower() rewrites —
    collation-aware comparison happens inside the hash aggregate, so
    Catalyst keeps pushdown/codegen (and at scale avoids materializing
    a second lowered column). Doubled-case words (name + UPPER(name))
    make the collated count provably half the binary count."""
    p = _t(spark, sf_dir, "part")
    words = p.select(
        "p_brand",
        F.explode(
            F.split(F.concat_ws(" ", "p_name", F.upper("p_name")), " ")
        ).alias("w"),
    )
    return words.groupBy("p_brand").agg(
        F.count_distinct(F.col("w")).alias("n_binary_distinct"),
        F.count_distinct(F.collate(F.col("w"), "UTF8_LCASE")).alias(
            "n_ci_distinct"
        ),
    )


SQL_COLLATED_WORDS = r"""
SELECT p_brand,
       CAST(COUNT(DISTINCT w) AS BIGINT) AS n_binary_distinct,
       CAST(COUNT(DISTINCT lower(w)) AS BIGINT) AS n_ci_distinct
FROM (
  SELECT p_brand,
         unnest(string_split(p_name || ' ' || upper(p_name), ' ')) AS w
  FROM part
)
GROUP BY 1
"""


def q_doc_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (text.py::feature_hashing): fixed
    256-dim sparse count vectors per doc via the portable md5 hash —
    no vocabulary to build/broadcast; bucketing reproducible in any
    engine. Capped to doc_id < 100 for the check."""
    from .operators.text import feature_hashing  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return feature_hashing(docs)


SQL_DOC_FEATURE_HASHING = r"""
SELECT doc_id,
       CAST(CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % 256 AS INT)
         AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents WHERE doc_id < 100
)
GROUP BY 1, 2
"""


def q_doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document (text.py::tfidf_topk) — keyword
    extraction with smoothed idf; scores micro-quantized, ties by
    term, corpus size N broadcast as a 1-row frame."""
    from .operators.text import tfidf_topk  # noqa: PLC0415

    return tfidf_topk(_t(spark, sf_dir, "documents"))


SQL_DOC_TFIDF_TOPK = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents
), tf AS (
  SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dfreq AS (
  SELECT w, COUNT(*) AS df FROM tf GROUP BY 1
), n AS (
  SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.w, tf.tf, dfreq.df,
         CAST(round(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0)
                    * 1000000.0) AS BIGINT) AS tfidf_micro
  FROM tf JOIN dfreq USING (w) CROSS JOIN n
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf_micro DESC, w ASC) AS rank
  FROM scored
)
SELECT doc_id, w AS term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       tfidf_micro, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


def q_part_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string-similarity join: part-name pairs within Levenshtein
    distance 8, BLOCKED on (first token, name length ÷ 4) so candidate
    generation is an equi-join per block instead of the all-pairs
    cross product — the edit-distance analogue of LSH banding (same
    recall tradeoff: cross-block matches are deliberately out of
    scope; at 100 TB add more blocking keys or q-gram prefixes, never
    widen to n²). Distance itself is the JVM levenshtein built-in.
    Capped to p_partkey ≤ 500 to keep the per-round check's output
    proportionate (the plan shape is cap-independent)."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 500)
        .select("p_partkey", "p_name")
    )
    blocked = p.select(
        "p_partkey",
        "p_name",
        F.split(F.col("p_name"), " ").getItem(0).alias("b1"),
        F.floor(F.length("p_name") / 4).alias("b2"),
    )
    a = blocked.select(
        F.col("p_partkey").alias("k1"),
        F.col("p_name").alias("n1"),
        "b1",
        "b2",
    )
    b = blocked.select(
        F.col("p_partkey").alias("k2"),
        F.col("p_name").alias("n2"),
        "b1",
        "b2",
    )
    return (
        a.join(b, ["b1", "b2"])
        .filter(F.col("k1") < F.col("k2"))
        .withColumn("dist", F.levenshtein("n1", "n2"))
        .filter(F.col("dist") <= 8)
        .select("k1", "k2", "n1", "n2", F.col("dist").cast("int").alias("dist"))
    )


SQL_PART_FUZZY_PAIRS = r"""
WITH blocked AS (
  SELECT p_partkey, p_name,
         string_split(p_name, ' ')[1] AS b1,
         CAST(floor(len(p_name) / 4.0) AS BIGINT) AS b2
  FROM part WHERE p_partkey <= 500
)
SELECT a.p_partkey AS k1, b.p_partkey AS k2,
       a.p_name AS n1, b.p_name AS n2,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM blocked a JOIN blocked b
  ON a.b1 = b.b1 AND a.b2 = b.b2 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 8
"""


def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window function suite over each customer's order
    history: lag/lead, rank vs dense_rank, percent_rank, cume_dist,
    ntile(4), and first/last value with explicit frames — the §2.8
    window family in one per-key (never global) window. Percent
    metrics are exact rationals of bigints (deterministic doubles);
    money in exact cents. Capped to o_custkey < 100."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            cents.alias("cents"),
            F.lag(cents).over(w).alias("prev_cents"),
            F.lead(cents).over(w).alias("next_cents"),
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
            F.ntile(4).over(w).cast("int").alias("quartile"),
            F.first("o_orderkey").over(wf).alias("first_order"),
            F.last("o_orderkey").over(wf).alias("last_order"),
        )
    )


SQL_WINDOW_SUITE = """
SELECT o_custkey, o_orderkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
       lag(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS prev_cents,
       lead(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS next_cents,
       CAST(rank() OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS drnk,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       first_value(o_orderkey) OVER wf AS first_order,
       last_value(o_orderkey) OVER wf AS last_order
FROM orders WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_emb_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRL two-stage retrieval (similarity.py::matryoshka_topk):
    16-dim-prefix cosine shortlist (4× scan/FLOP cut) → full-64-dim
    rerank of 50 candidates → top-10. Exact arithmetic both stages, so
    fully oracle-checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.matryoshka_topk(
        emb, qv, prefix_dims=16, shortlist=50, k=10
    )


SQL_EMB_MATRYOSHKA = """
WITH q AS (
  SELECT embedding AS qv FROM embeddings
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
),
pre AS (
  SELECT vec_id,
         list_sum(list_transform(range(1, 17),
            i -> embedding[i]::DOUBLE * qv[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, 17),
              i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, 17),
              i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))) AS pre_sim
  FROM embeddings, q
),
shortlist AS (
  SELECT vec_id, pre_sim FROM pre
  ORDER BY pre_sim DESC, vec_id ASC LIMIT 50
),
rerank AS (
  SELECT e.vec_id, s.pre_sim,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> e.embedding[i]::DOUBLE * qv[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
              i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))) AS cosine_sim
  FROM embeddings e JOIN shortlist s USING (vec_id) CROSS JOIN q
)
SELECT vec_id, pre_sim, cosine_sim FROM rerank
ORDER BY cosine_sim DESC, vec_id ASC LIMIT 10
"""


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-10 (similarity.py::pq_topk):
    4 subspaces × 16 sampled codewords, integer-micro asymmetric
    distances. One map-only pass (broadcast codebook; encode + lut
    fused) + TakeOrdered(10) — the memory-bounded ANN tier below IVF.
    Deterministic md5-sampled codebook → fully oracle-checkable."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.pq_topk(emb, qv, k=10, m=4, n_codes=16)


SQL_EMB_PQ_TOPK = """
WITH ord AS (
  SELECT vec_id, embedding,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS code_id
  FROM embeddings
), sample AS (
  SELECT * FROM ord WHERE code_id < 16
), cw AS (
  SELECT code_id, CAST(j AS INT) AS sub_id,
         list_transform(list_slice(embedding, j*16 + 1, j*16 + 16),
                        x -> CAST(x AS DOUBLE)) AS codeword
  FROM sample, unnest(range(0, 4)) AS t(j)
), q AS (
  SELECT embedding AS qv FROM embeddings
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
), vsub AS (
  SELECT vec_id, CAST(j AS INT) AS sub_id,
         list_transform(list_slice(embedding, j*16 + 1, j*16 + 16),
                        x -> CAST(x AS DOUBLE)) AS vs
  FROM embeddings, unnest(range(0, 4)) AS t(j)
), dist AS (
  SELECT v.vec_id, v.sub_id, c.code_id,
         CAST(list_sum(list_transform(range(1, 17),
           i -> CAST(round((v.vs[i] - c.codeword[i])
                         * (v.vs[i] - c.codeword[i]) * 1000000) AS BIGINT)))
           AS BIGINT) AS d2
  FROM vsub v JOIN cw c USING (sub_id)
), enc AS (
  SELECT vec_id, sub_id, code_id FROM (
    SELECT vec_id, sub_id, code_id,
           row_number() OVER (PARTITION BY vec_id, sub_id
                              ORDER BY d2, code_id) AS rn
    FROM dist) WHERE rn = 1
), lut AS (
  SELECT c.sub_id, c.code_id,
         CAST(list_sum(list_transform(range(1, 17),
           i -> CAST(round((CAST(q.qv[c.sub_id*16 + i] AS DOUBLE) - c.codeword[i])
                         * (CAST(q.qv[c.sub_id*16 + i] AS DOUBLE) - c.codeword[i])
                         * 1000000) AS BIGINT))) AS BIGINT) AS qd
  FROM cw c, q
), scored AS (
  SELECT e.vec_id,
         string_agg(CAST(e.code_id AS VARCHAR), ',' ORDER BY e.sub_id)
           AS pq_codes,
         CAST(SUM(l.qd) AS BIGINT) AS approx_d2_micro
  FROM enc e JOIN lut l USING (sub_id, code_id)
  GROUP BY e.vec_id
)
SELECT vec_id, pq_codes, approx_d2_micro
FROM scored ORDER BY approx_d2_micro, vec_id LIMIT 10
"""


def q_emb_pq_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy twin of emb_pq_topk (similarity.py::pq_topk_pandas):
    identical codebook + integer-micro ADC arithmetic, scored as numpy
    batch reductions — the bulk-encode throughput path. Checked against
    the SAME oracle as the HOF form."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.pq_topk_pandas(emb, qv, k=10, m=4, n_codes=16)


def q_doc_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batch assembly (packing.py::length_bucketed_batches,
    batch_size=8): pow2 token-length buckets × content-hash shards,
    batches filled longest-first, per-batch padding-waste stats. The
    dynamic-batching prep step that keeps training tensors dense."""
    from .operators.packing import length_bucketed_batches  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return length_bucketed_batches(docs, batch_size=8, n_shards=8)


SQL_DOC_LENGTH_BATCHES = r"""
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           % 8 AS shard
  FROM documents
), b AS (
  SELECT doc_id, n_tokens, shard,
         CAST(CASE WHEN n_tokens <= 1 THEN 0
                   ELSE length(bin(n_tokens - 1)) END AS INT) AS bucket
  FROM t
), r AS (
  SELECT bucket, shard, n_tokens,
         (row_number() OVER (PARTITION BY bucket, shard
                             ORDER BY n_tokens DESC, doc_id ASC) - 1) // 8
           AS batch_id
  FROM b
)
SELECT bucket, shard, batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MAX(n_tokens) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       1.0 - CAST(SUM(n_tokens) AS DOUBLE)
           / CAST(MAX(n_tokens) * COUNT(*) AS DOUBLE) AS pad_frac
FROM r GROUP BY 1, 2, 3
"""


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-planning skew diagnostic (scale.py::key_skew_report) on
    the events join key ``user_id``: top-5 heaviest keys, their corpus
    share, the max/mean skew factor and the derived salt fan-out that
    salted_join would take. The pre-flight audit for any 100 TB
    shuffle."""
    from .operators.scale import key_skew_report  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    return key_skew_report(ev, "user_id", top_n=5)


SQL_KEY_SKEW_REPORT = """
WITH c AS (
  SELECT user_id, COUNT(*) AS cnt
  FROM events GROUP BY 1
), g AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM c
)
SELECT CAST(c.user_id AS VARCHAR) AS key, CAST(c.cnt AS BIGINT) AS cnt,
       CAST(c.cnt AS DOUBLE) / g.total AS share,
       g.n_keys,
       CAST(g.max_cnt AS DOUBLE) * g.n_keys / g.total AS skew_factor,
       CAST(ceil(CAST(g.max_cnt AS DOUBLE) * g.n_keys / g.total) AS BIGINT)
         AS rec_salt
FROM c, g ORDER BY cnt DESC, c.user_id ASC LIMIT 5
"""


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planning (scale.py::compaction_plan):
    per-source byte stats (the file-listing stand-in) bin-packed into
    ~20 KB output files in key order — locality-preserving OPTIMIZE.
    The prefix sum under it is the distributed formulation (no
    single-partition window even on metadata)."""
    from .operators.scale import compaction_plan  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(F.sum("n_chars").alias("bytes"))
    return compaction_plan(stats, target_bytes=20_000, key_col="source")


SQL_COMPACTION_PLAN = """
WITH s AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS bytes
  FROM documents GROUP BY 1
), c AS (
  SELECT source, bytes,
         SUM(bytes) OVER (ORDER BY source, bytes ROWS UNBOUNDED PRECEDING)
           AS cum
  FROM s
)
SELECT source, bytes,
       CAST((cum - bytes) // 20000 AS BIGINT) AS out_file,
       CAST((cum - bytes) % 20000 AS BIGINT) AS out_offset
FROM c
"""


def q_doc_collapse_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition repair (text.py::collapse_token_runs):
    consecutive-duplicate token runs collapse to one occurrence —
    cleanup, not rejection, for stutter artifacts. Map-only HOFs."""
    from .operators.text import collapse_token_runs  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return collapse_token_runs(docs)


SQL_DOC_COLLAPSE_RUNS = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents
), k AS (
  SELECT doc_id, w,
         list_filter(w, (x, i) -> i = 1 OR x <> w[i-1]) AS kept
  FROM t
)
SELECT doc_id,
       array_to_string(kept, ' ') AS clean_text,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(w) - len(kept) AS BIGINT) AS n_removed
FROM k
"""


def q_orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (mutations.py::merge_upsert) applied to a
    deterministic CDC batch against orders: keys ≡0 (mod 17) update
    price/status, ≡0 (mod 31) delete, ≡0 (mod 23) arrive as shifted
    inserts. One outer join + one anti join — unmatched rows pass
    through, never rewritten."""
    from .operators.mutations import merge_upsert  # noqa: PLC0415

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    k = F.col("o_orderkey")
    upd = orders.filter((k % 17 == 0) | (k % 31 == 0)).select(
        k.alias("o_orderkey"),
        F.col("o_custkey"),
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
        (k % 31 == 0).alias("_del"),
    )
    ins = orders.filter(k % 23 == 0).select(
        (k + F.lit(100_000_000)).alias("o_orderkey"),
        F.col("o_custkey"),
        F.lit(1.0).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(False).alias("_del"),
    )
    source = upd.unionByName(ins)
    return merge_upsert(orders, source, ["o_orderkey"], delete_col="_del")


SQL_ORDERS_MERGE_UPSERT = """
WITH t AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders
), src AS (
  SELECT o_orderkey, o_custkey,
         o_totalprice + 1000.0 AS o_totalprice,
         'U' AS o_orderstatus,
         (o_orderkey % 31 = 0) AS del
  FROM t WHERE o_orderkey % 17 = 0 OR o_orderkey % 31 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, 1.0, 'N', FALSE
  FROM t WHERE o_orderkey % 23 = 0
), upd AS (
  SELECT t.o_orderkey,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey
              ELSE t.o_custkey END AS o_custkey,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
              ELSE t.o_totalprice END AS o_totalprice,
         CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
              ELSE t.o_orderstatus END AS o_orderstatus
  FROM t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
  WHERE NOT coalesce(s.del, FALSE)
), ins AS (
  SELECT s.o_orderkey, s.o_custkey, s.o_totalprice, s.o_orderstatus
  FROM src s LEFT JOIN t ON t.o_orderkey = s.o_orderkey
  WHERE t.o_orderkey IS NULL AND NOT s.del
)
SELECT * FROM upd UNION ALL SELECT * FROM ins
"""


def q_doc_exact_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-stratum holdout (sampling.py::exact_stratified_split):
    precisely ⌊n_s·0.1 + 0.5⌋ test docs per source, md5-rank selection
    — the guarantee probabilistic hash_split can't make for small
    strata."""
    from .operators.sampling import exact_stratified_split  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return exact_stratified_split(docs, "source", test_frac=0.1).select(
        "doc_id", "source", "split"
    )


SQL_DOC_EXACT_SPLIT = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source,
       CASE WHEN rn <= floor(n * 0.1 + 0.5) THEN 'test' ELSE 'train' END
         AS split
FROM r
"""


def q_ev_rollup_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-rollup pyramid: daily stats DERIVED from the hourly
    rollup, never rescanning the base table — the time-hierarchy form
    of mergeable aggregation states (count/sum/min/max re-aggregate;
    avg recomputes from sum/count at read). At 100 TB the hourly tier
    is ~10⁴× smaller than events, so each coarser tier costs ~nothing;
    the oracle computes daily straight from base, proving the pyramid
    is lossless."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("event_type"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour")).alias("day"), F.col("event_type")
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("cents").alias("value_cents"),
            F.min("vmin").alias("value_min"),
            F.max("vmax").alias("value_max"),
            F.count(F.lit(1)).alias("n_hours"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            "value_cents",
            "value_min",
            "value_max",
            F.col("n_hours").cast("bigint").alias("n_hours"),
        )
    )


SQL_EV_ROLLUP_PYRAMID = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
         MIN(value) AS vmin, MAX(value) AS vmax
  FROM events GROUP BY 1, 2
)
SELECT strftime(date_trunc('day', hour), '%Y-%m-%d') AS day,
       event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS value_cents,
       MIN(vmin) AS value_min,
       MAX(vmax) AS value_max,
       CAST(COUNT(*) AS BIGINT) AS n_hours
FROM h GROUP BY 1, 2
"""


def q_ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN view maintenance (scale.py::
    incremental_join_delta): orders⋈lineitem each split into history
    and delta batches by predicates INDEPENDENT of the join key
    (orders by key hash, lineitem by line number), so all three delta
    joins carry rows — a same-key split would leave the two cross
    terms provably empty and the end-to-end check vacuous for 2/3 of
    the algebra. The maintained view = old⋈old ∪ the three delta
    joins; its aggregate must equal the from-scratch join, which is
    exactly what the oracle computes. History×history is joined ONCE;
    each batch costs delta-sided joins only."""
    from .operators.scale import incremental_join_delta  # noqa: PLC0415

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    lines = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_extendedprice"
    )
    a_old = orders.filter(F.col("o_orderkey") % 10 < 8)
    a_delta = orders.filter(F.col("o_orderkey") % 10 >= 8)
    b_old = lines.filter(F.col("l_linenumber") % 3 > 0).drop("l_linenumber")
    b_delta = lines.filter(F.col("l_linenumber") % 3 == 0).drop("l_linenumber")
    view = a_old.join(b_old, ["o_orderkey"]).unionByName(
        incremental_join_delta(a_old, a_delta, b_old, b_delta, ["o_orderkey"])
    )
    return view.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "revenue_cents"
        ),
    )


SQL_IVM_JOIN_DELTA = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY 1
"""


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (graph.py::kcore_peel, k=3, 6 fixed peel
    rounds) of the supplier co-occurrence graph — the dense-subgraph
    extraction of community mining. The oracle unrolls the peel rounds
    as CTEs (the k-means unrolled-iteration trade), so the iterative
    algorithm is fully hash-checked, not rows-only."""
    from .operators.graph import kcore_peel  # noqa: PLC0415

    los = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = los.select("o", F.col("s").alias("src"))
    b = los.select("o", F.col("s").alias("dst"))
    edges = (
        a.join(b, "o")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return kcore_peel(edges, k=3, rounds=6)


def kcore_oracle_sql(k: int = 3, rounds: int = 6) -> str:
    sql = """
WITH los AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
), und AS (
  SELECT DISTINCT a.s AS src, b.s AS dst
  FROM los a JOIN los b ON a.o = b.o AND a.s < b.s
), e0 AS MATERIALIZED (
  SELECT src, dst FROM und UNION SELECT dst, src FROM und
)"""
    # AS MATERIALIZED: each round references the previous one three
    # times (directly + twice through k{r}); inlined CTEs would
    # re-evaluate e0's dense co-occurrence join 3^rounds times
    # (measured: 90s -> ~2s at sf0.01)
    for r in range(rounds):
        sql += f""",
k{r} AS MATERIALIZED (
  SELECT src FROM e{r} GROUP BY src HAVING COUNT(*) >= {k}
), e{r + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{r} e
  JOIN k{r} a ON e.src = a.src
  JOIN k{r} b ON e.dst = b.src
)"""
    sql += (
        f"\nSELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree"
        f"\nFROM e{rounds} GROUP BY 1 HAVING COUNT(*) >= {k}"
    )
    return sql


SQL_GRAPH_KCORE = kcore_oracle_sql(k=3, rounds=6)


def q_vocab_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: least-squares
    slope/intercept of ln(count) vs ln(rank) — the corpus-health
    diagnostic (natural text ≈ −1; synthetic/templated text flattens).
    Ranks come from distributed_prefix_sum over (count desc, token) —
    no single-partition window even though vocabulary ≪ corpus — and
    every log is micro-quantized BEFORE summation, so the regression
    sums are exact integers (decimal(38) cross-products: micro²·|V|
    overflows bigint at web-scale vocabularies) and both engines
    derive bit-identical slopes."""
    from .operators.dedup import norm_tokens  # noqa: PLC0415
    from .operators.scale import distributed_prefix_sum  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(norm_tokens(F.col("text"))).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("_one", F.lit(1).cast("bigint"))
    )
    ranked = distributed_prefix_sum(
        counts,
        [F.col("cnt").desc(), F.col("t").asc()],
        "_one",
        out_col="rank",
    )
    m = ranked.select(
        F.round(F.log(F.col("rank").cast("double")) * 1_000_000.0)
        .cast("bigint")
        .alias("xm"),
        F.round(F.log(F.col("cnt").cast("double")) * 1_000_000.0)
        .cast("bigint")
        .alias("ym"),
    )
    d38 = "decimal(38,0)"
    sums = m.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xm").cast(d38).alias("sx"),
        F.sum("ym").cast(d38).alias("sy"),
        F.sum(F.col("xm").cast(d38) * F.col("ym")).cast(d38).alias("sxy"),
        F.sum(F.col("xm").cast(d38) * F.col("xm")).cast(d38).alias("sxx"),
    )
    slope = (
        (F.col("n").cast(d38) * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        / (F.col("n").cast(d38) * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
    )
    return sums.select(
        F.col("n").cast("bigint").alias("n_vocab"),
        F.round(slope * 1_000_000.0).cast("bigint").alias("zipf_slope_micro"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        )
        .cast("bigint")
        .alias("intercept_micro"),
    )


SQL_VOCAB_ZIPF_FIT = r"""
WITH c AS (
  SELECT t, COUNT(*) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
    FROM documents
  ) WHERE t <> '' GROUP BY 1
), r AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, t ASC) AS rank FROM c
), m AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS xm,
         CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS ym
  FROM r
), sums AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(xm) AS HUGEINT) AS sx,
         CAST(SUM(ym) AS HUGEINT) AS sy,
         SUM(CAST(xm AS HUGEINT) * ym) AS sxy,
         SUM(CAST(xm AS HUGEINT) * xm) AS sxx
  FROM m
)
SELECT CAST(n AS BIGINT) AS n_vocab,
       CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000) AS BIGINT)
         AS zipf_slope_micro,
       CAST(round((CAST(sy AS DOUBLE)
                   - CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(sx AS DOUBLE))
                  / CAST(n AS DOUBLE)) AS BIGINT) AS intercept_micro
FROM sums
"""


def q_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiling (relational.py::table_profile):
    nulls, exact NDV, min/max, mean length per column in ONE
    aggregation pass — the catalog/optimizer statistics collection
    every engine ships."""
    from .operators.relational import table_profile  # noqa: PLC0415

    orders = _t(spark, sf_dir, "orders")
    return table_profile(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )


def _profile_col_sql(c: str) -> str:
    return f"""
  SELECT '{c}' AS column,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
         CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
           / COUNT(*) AS null_frac,
         CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
         CAST(MIN({c}) AS VARCHAR) AS min_str,
         CAST(MAX({c}) AS VARCHAR) AS max_str,
         round(AVG(length(CAST({c} AS VARCHAR))), 6) AS avg_len
  FROM orders"""


SQL_ORDERS_PROFILE = (
    _profile_col_sql("o_orderkey")
    + "\nUNION ALL\n"
    + _profile_col_sql("o_custkey")
    + "\nUNION ALL\n"
    + _profile_col_sql("o_orderstatus")
    + "\nUNION ALL\n"
    + _profile_col_sql("o_orderpriority")
)


def q_ev_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization summary (scale.py::winsorize_summary,
    p05/p95): exact interpolated percentile bounds broadcast back for
    a map-only clip — heavy-tail repair before value aggregation."""
    from .operators.scale import winsorize_summary  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    return winsorize_summary(ev, "value", "event_type", 0.05, 0.95)


SQL_EV_WINSORIZED = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM events GROUP BY 1
)
SELECT e.event_type,
       CAST(round(MIN(b.lo) * 1000000) AS BIGINT) AS lo_micro,
       CAST(round(MIN(b.hi) * 1000000) AS BIGINT) AS hi_micro,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_low,
       CAST(SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clipped_high,
       CAST(SUM(CAST(round(least(greatest(e.value, b.lo), b.hi) * 1000000)
                     AS BIGINT)) AS BIGINT) AS sum_clipped_micro
FROM events e JOIN b USING (event_type)
GROUP BY 1
"""


def q_doc_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing (sampling.py::mixture_sample,
    α=0.5, target = half the corpus): per-source keep-rates ∝ √count —
    up-weights small sources, down-weights the dominant crawl — applied
    as the deterministic hash-threshold filter. Threshold math is exact
    integer arithmetic end to end, replayed by the oracle in HUGEINT.
    Returns per-source kept/input counts."""
    from .operators.sampling import mixture_sample  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    target = docs.count() // 2
    kept = mixture_sample(docs, alpha=0.5, target_rows=target)
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept"))
        .orderBy("source")
    )


SQL_DOC_MIXTURE_SAMPLE = """
WITH n AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(n) // 2 AS HUGEINT) AS target FROM n
), w AS (
  SELECT source, n,
         CAST(round(pow(n, 0.5) * 1000000) AS HUGEINT) AS w_micro
  FROM n
), ws AS (
  SELECT CAST(SUM(w_micro) AS HUGEINT) AS wsum_micro FROM w
), thr AS (
  SELECT w.source,
         least(CAST(10000 AS HUGEINT),
               (CAST(10000 AS HUGEINT) * tot.target * w.w_micro)
                 // (ws.wsum_micro * w.n)) AS _thr
  FROM w, tot, ws
)
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept
FROM documents d JOIN thr ON d.source = thr.source
WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        % 10000 < thr._thr
GROUP BY 1 ORDER BY 1
"""


def q_doc_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent token pairs — the
    collocation/phrase detector of corpus analysis (word2vec-era phrase
    mining). PMI = ln(p(a,b) / (p(a)p(b))), micro-quantized; pairs from
    the bigram zip (no self-join); unigram/bigram totals ride through
    broadcast 1-row frames. Top-30 by (pmi desc, pair) among pairs seen
    ≥ 5 times."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"),
        F.split(F.trim(F.col("text")), r"\s+").alias("ws"),
    )
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice(F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    unis = toks.select(F.explode("ws").alias("w"))
    uni = unis.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cab"))
    n_uni = unis.agg(F.count(F.lit(1)).alias("nu"))
    n_big = pairs.agg(F.count(F.lit(1)).alias("nb"))
    scored = (
        big.filter(F.col("cab") >= 5)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("cw", "c1"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("cw", "c2"), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .withColumn(
            "pmi_micro",
            F.round(
                F.log(
                    (F.col("cab") / F.col("nb"))
                    / ((F.col("c1") / F.col("nu")) * (F.col("c2") / F.col("nu")))
                )
                * F.lit(1_000_000.0)
            ).cast("bigint"),
        )
    )
    return (
        scored.select(
            "w1", "w2",
            F.col("cab").cast("bigint").alias("pair_count"),
            "pmi_micro",
        )
        .orderBy(F.col("pmi_micro").desc(), "w1", "w2")
        .limit(30)
    )


SQL_DOC_PMI = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
), uni AS (
  SELECT unnest(ws) AS w FROM t
), pairs AS (
  SELECT ws[i] AS w1, ws[i+1] AS w2
  FROM t, unnest(range(1, len(ws))) AS u(i)
), cu AS (
  SELECT w, COUNT(*) AS cw FROM uni GROUP BY 1
), cb AS (
  SELECT w1, w2, COUNT(*) AS cab FROM pairs GROUP BY 1, 2
), nu AS (SELECT COUNT(*) AS nu FROM uni),
   nb AS (SELECT COUNT(*) AS nb FROM pairs)
SELECT w1, w2, CAST(cab AS BIGINT) AS pair_count,
       CAST(round(ln((CAST(cab AS DOUBLE) / nb.nb)
                 / ((CAST(c1.cw AS DOUBLE) / nu.nu)
                    * (CAST(c2.cw AS DOUBLE) / nu.nu))) * 1000000.0)
            AS BIGINT) AS pmi_micro
FROM cb
JOIN cu c1 ON cb.w1 = c1.w
JOIN cu c2 ON cb.w2 = c2.w
CROSS JOIN nu CROSS JOIN nb
WHERE cab >= 5
ORDER BY pmi_micro DESC, w1, w2 LIMIT 30
"""


def q_vocab_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge induction (text.py::bpe_merges) — learn
    the first 4 merge rules of a subword tokenizer from the corpus's
    top-200 word-frequency dict. One corpus-scale shuffle (the word
    count), then vocab-sized merge rounds with a 1-row broadcast
    argmax each — zero driver collects, zero Python. The oracle
    replays all 4 rounds as unrolled CTEs (the k-means unrolled-CTE
    strategy) with the same doubled-space greedy-merge string algebra,
    so the merge TABLE — rule order, symbols, weighted pair counts —
    must match bit-for-bit."""
    from .cache import adopt  # noqa: PLC0415
    from .operators.text import bpe_merges  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    mtable = bpe_merges(docs, top_words=200, n_merges=4)
    # the orderBy is a NEW frame: adopt the learner's pins onto it or
    # a caller's release() through the returned handle frees nothing
    # (the r6-verdict-#7 bug class cache.adopt exists to close)
    return adopt(mtable.orderBy("merge_rank"), mtable)


def _build_bpe_oracle_sql(top_words: int, n_merges: int) -> str:
    """Unrolled-CTE oracle for :func:`q_vocab_bpe_merges`: dict0 spells
    the top words as spaced characters; each round k counts adjacent
    pairs (lateral unnest over index range — both occurrences in
    ``a a a`` count), picks argmax (count desc, pair asc), and rewrites
    via the doubled-space replace — the exact string algebra of the
    Spark operator."""
    parts = [
        f"""
WITH words AS (
  SELECT w AS word, COUNT(*) AS cnt
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents) u
  GROUP BY 1
), dict0 AS (
  SELECT array_to_string(list_transform(range(1, len(word) + 1),
                                        i -> word[i]), ' ') AS syms, cnt
  FROM words ORDER BY cnt DESC, word LIMIT {top_words}
)"""
    ]
    for k in range(n_merges):
        parts.append(f"""
, pairs{k} AS (
  SELECT arr[i] AS l, arr[i + 1] AS r, SUM(cnt) AS c
  FROM (SELECT string_split(syms, ' ') AS arr, cnt FROM dict{k}) t,
       UNNEST(range(1, greatest(len(arr), 1))) AS u(i)
  GROUP BY 1, 2
), best{k} AS (
  SELECT l, r, c FROM pairs{k} ORDER BY c DESC, l, r LIMIT 1
), dict{k + 1} AS (
  SELECT array_to_string(
           list_filter(string_split(
             replace(' ' || replace(d.syms, ' ', '  ') || ' ',
                     ' ' || b.l || '  ' || b.r || ' ',
                     ' ' || b.l || b.r || ' '), ' '), x -> x <> ''),
           ' ') AS syms, d.cnt
  FROM dict{k} d, best{k} b
)""")
    sel = "\nUNION ALL\n".join(
        f"SELECT {k + 1} AS merge_rank, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM best{k}"
        for k in range(n_merges)
    )
    parts.append(f"\nSELECT * FROM (\n{sel}\n) ORDER BY merge_rank")
    return "".join(parts)


SQL_VOCAB_BPE_MERGES = _build_bpe_oracle_sql(top_words=200, n_merges=4)


def q_bpe_merges_local(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-side BPE induction twin (text.py::bpe_merges_local) —
    the 30k–100k-merge production path: the corpus pays the IDENTICAL
    single word-count shuffle as ``vocab_bpe_merges``, but the merge
    loop runs over the collected top-200 dict in driver memory (the
    dict is ``top_words`` rows by construction — trivially
    driver-sized at any corpus scale). Registered against the SAME
    unrolled-CTE oracle as the distributed form (the
    ``emb_rp_indexed`` identical-output precedent — VERDICT r9 #4):
    bit-equality of the merge table between the two code paths IS the
    claim under driver test, not just a pytest assertion."""
    from .operators.text import bpe_merges_local  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return bpe_merges_local(docs, top_words=200, n_merges=4).orderBy(
        "merge_rank"
    )


def q_doc_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the LEARNED BPE tokenizer
    (text.py::bpe_encode): train 4 merges on the top-200 frequency
    dict, replay them in rank order over every distinct corpus word
    (including OOV words outside the dict), and report per-document
    token counts and integer-micro fertility. The oracle re-learns the
    same merges via the unrolled CTEs of ``vocab_bpe_merges`` and then
    applies them with the identical doubled-space string algebra, so
    EVERY document's exact token count is pinned."""
    from .operators.text import bpe_encode  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return bpe_encode(docs, top_words=200, n_merges=4).orderBy("doc_id")


def q_doc_bpe_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed twin of ``doc_bpe_encode`` (text.py::write_bpe_vocab /
    bpe_encode_indexed): the SAME per-document token counts, but the
    merges are trained ONCE and persisted, then applied from the saved
    n_merges-row rule table — the train-once/apply-many tokenizer
    deployment (the write_rp_index shape). The oracle is the one-shot
    variant's SQL: identical output from the saved-vocab path is
    exactly the claim under test.

    Side effect: (re)writes ``bpe_vocab_<sf-tag>/`` under the session
    warehouse each call (the lazy result reads it, so it cannot be
    dropped here — the doc_minhash_indexed pattern). Two concurrent
    runs against the SAME sf_dir would race the overwrite — run
    same-sf sweeps sequentially."""
    from .operators.text import bpe_encode_indexed, write_bpe_vocab  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    path = os.path.join(re.sub(r"^file:/*", "/", wh), f"bpe_vocab_{tag}")
    write_bpe_vocab(docs, path, top_words=200, n_merges=4)
    return bpe_encode_indexed(spark, path, docs).orderBy("doc_id")


def _build_bpe_encode_oracle_sql(top_words: int, n_merges: int) -> str:
    """Oracle for :func:`q_doc_bpe_encode`: the learning CTEs of
    :func:`_build_bpe_oracle_sql` (shared text, same best{k} rules)
    plus encode CTEs — every distinct corpus word spelled as spaced
    characters and rewritten once per learned rule, then joined back to
    the per-doc word counts."""
    learn = _build_bpe_oracle_sql(top_words, n_merges)
    ctes = learn[: learn.rindex("\nSELECT * FROM (")]
    parts = [ctes]
    parts.append("""
, dwords AS (
  SELECT doc_id, w AS word, COUNT(*) AS c
  FROM (SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents) u
  GROUP BY 1, 2
), e0 AS (
  SELECT word, array_to_string(list_transform(range(1, len(word) + 1),
                                              i -> word[i]), ' ') AS syms
  FROM (SELECT DISTINCT word FROM dwords) v
)""")
    for k in range(n_merges):
        parts.append(f"""
, e{k + 1} AS (
  SELECT word, array_to_string(
           list_filter(string_split(
             replace(' ' || replace(e.syms, ' ', '  ') || ' ',
                     ' ' || b.l || '  ' || b.r || ' ',
                     ' ' || b.l || b.r || ' '), ' '), x -> x <> ''),
           ' ') AS syms
  FROM e{k} e, best{k} b
)""")
    parts.append(f"""
, enc AS (
  SELECT word, len(string_split(syms, ' ')) AS n_tok FROM e{n_merges}
), perdoc AS (
  SELECT d.doc_id, SUM(d.c) AS w, SUM(d.c * e.n_tok) AS t
  FROM dwords d JOIN enc e USING (word) GROUP BY 1
)
SELECT doc.doc_id,
       CAST(COALESCE(p.w, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(p.t, 0) AS BIGINT) AS n_tokens,
       CAST((p.t * 1000000) // p.w AS BIGINT) AS fertility_micro
FROM documents doc LEFT JOIN perdoc p USING (doc_id)
ORDER BY doc.doc_id
""")
    return "".join(parts)


SQL_DOC_BPE_ENCODE = _build_bpe_encode_oracle_sql(top_words=200, n_merges=4)


def q_doc_shard_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stride-interleaved training order
    (sampling.py::stride_schedule, α=0.5, 8 shards): sources
    interleave ∝ √count, global position via distributed_prefix_sum
    (no single-partition window), shard = (pos-1) % 8. Verified
    corpus-WIDE, not just on a prefix: the per-(shard, source) count
    pins the interleave proportions and shard balance, and
    pos_checksum = Σ (global_pos mod 100003)·(doc_id mod 997) pins
    EVERY row's exact global position — any transposition of two
    docs' positions breaks it. The oracle replays the schedule with
    plain windows (fine at oracle scale) and HUGEINT stride math."""
    from .operators.sampling import stride_schedule  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    sched = stride_schedule(docs, alpha=0.5, n_shards=8)
    return (
        sched.groupBy("shard", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum((F.col("global_pos") % 100003) * (F.col("doc_id") % 997))
            .cast("bigint")
            .alias("pos_checksum"),
            F.min("global_pos").cast("bigint").alias("first_pos"),
        )
        .orderBy("shard", "source")
    )


SQL_DOC_SHARD_SCHEDULE = """
WITH n AS (
  SELECT source, COUNT(*) AS n FROM documents GROUP BY 1
), w AS (
  SELECT source, CAST(round(pow(n, 0.5) * 1000000) AS HUGEINT) AS w_micro
  FROM n
), idx AS (
  SELECT d.doc_id, d.source,
         ROW_NUMBER() OVER (PARTITION BY d.source
                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)),
                                     d.doc_id) AS i,
         w.w_micro
  FROM documents d JOIN w ON d.source = w.source
), vt AS (
  SELECT doc_id, source,
         CAST((CAST(i AS HUGEINT) * 1000000000000) // w_micro AS BIGINT) AS v
  FROM idx
), pos AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (ORDER BY v, source, doc_id) AS global_pos
  FROM vt
)
SELECT CAST((global_pos - 1) % 8 AS INTEGER) AS shard, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM((global_pos % 100003) * (doc_id % 997)) AS BIGINT)
         AS pos_checksum,
       CAST(MIN(global_pos) AS BIGINT) AS first_pos
FROM pos GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_ev_session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between event types WITHIN
    a user session (30-min gap sessionization feeds a lead() over the
    session window) — the path-analysis primitive behind funnel mining.
    The per-event session label (gaps-and-islands, same definition as
    streaming/events.py::sessionize_batch) and the transition lead()
    share ONE user-keyed shuffle; probabilities are exact count
    ratios."""
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_us = 30 * 60 * 1_000_000
    sess = ev.withColumn(
        "is_break",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu) > gap_us, 1
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("is_break").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    trans = (
        sess.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") / F.sum("n").over(wt), 6).alias("p"),
    )


SQL_EV_SESSION_TRANSITIONS = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
              THEN 1 ELSE 0 END AS is_break
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
), trans AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS to_type
  FROM sess
), counts AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM trans WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6) AS p
FROM counts
"""


def q_emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance of the embedding corpus
    (similarity.py::embedding_dim_stats) — the feature-scaling /
    dead-dimension statistics pass. Exact-integer Σx and Σx² with one
    final double evaluation, replayed verbatim by the oracle."""
    from .operators.similarity import embedding_dim_stats  # noqa: PLC0415

    return embedding_dim_stats(_t(spark, sf_dir, "embeddings"))


SQL_EMB_DIM_STATS = """
WITH x AS (
  SELECT i - 1 AS dim,
         CAST(floor(embedding[i]::DOUBLE * 1000000.0 + 0.5) AS BIGINT) AS xm
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
), agg AS (
  SELECT dim, COUNT(*) AS n, SUM(xm) AS s, SUM(xm * xm) AS ss FROM x GROUP BY 1
)
SELECT CAST(dim AS INT) AS dim, CAST(n AS BIGINT) AS n,
       CAST(s AS BIGINT) / CAST(n AS BIGINT) / 1000000.0 AS mean,
       (CAST(ss AS DOUBLE)
        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
       / CAST(n AS DOUBLE) / 1000000000000.0 AS variance
FROM agg
"""


def q_doc_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-hash SimHash near-dup pairs (dedup.py::
    portable_simhash_pairs): the full vote → signature → 16-bit-band →
    Hamming-verify pipeline on md5-based token hashes, value-hash
    oracle-checked end to end in pure SQL (the xxhash64 variant
    doc_simhash_pairs is oracled too since r5, via the driver-side
    XXH64 reference — this twin remains the any-engine-replayable
    formulation)."""
    from .operators.dedup import portable_simhash_pairs  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return portable_simhash_pairs(docs, max_hamming=8)


def _simhash_oracle_sql(bits: int = 60, max_hamming: int = 8) -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(bits)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return rf"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
  FROM documents
), h AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h
  FROM toks
), votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY 1
), sig AS (
  SELECT doc_id, CAST({sig_terms} AS BIGINT) AS sh FROM votes
), chunks AS (
  SELECT doc_id, sh, c, (sh >> (c * 16)) & 65535 AS prefix
  FROM sig, unnest([0, 1, 2, 3]) AS u(c)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM chunks a JOIN chunks b
  ON a.c = b.c AND a.prefix = b.prefix AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


SQL_DOC_SIMHASH_PORTABLE = _simhash_oracle_sql()


def q_emb_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE IVF top-k: coarse lists from the engine-exact k-means
    (clustering.kmeans_fit — micro-quantized, deterministic init),
    driver-side probe of the 4 nearest lists with the same integer-
    micro distance arithmetic, exact cosine top-20 over probed lists
    only. Every stage replays in DuckDB (unrolled k-means CTEs +
    probe + rerank) — the fully-oracled sibling of emb_ivf_topk
    (whose xxhash64 seeding keeps it rows-only)."""
    import math  # noqa: PLC0415

    from .operators.clustering import kmeans_fit  # noqa: PLC0415

    emb = _t(spark, sf_dir, "embeddings")
    assigned, cents = kmeans_fit(
        emb.select("vec_id", "embedding"), k=8, iters=2, keep_vec=True
    )
    qv = _query_vector(spark, sf_dir)

    def dist_micro(c: list[float]) -> int:
        # same HALF_UP micro arithmetic as clustering._dist_micro
        return sum(
            int(math.floor((x - v) * (x - v) * 1_000_000.0 + 0.5))
            for x, v in zip(qv, c)
        )

    ranked = sorted(
        (dist_micro(c), cid + 1) for cid, c in enumerate(cents)
    )
    probe = [cid for _, cid in ranked[:4]]
    candidates = assigned.filter(F.col("cluster_id").isin(probe)).select(
        "vec_id", "embedding"
    )
    from .cache import adopt  # noqa: PLC0415

    # carry kmeans_fit's Lloyd-input cache pin onto the frame the
    # caller holds, so cache.released() frees it (shared-fate with
    # `assigned` — releasing here drops its cache too; see cache.adopt)
    return adopt(similarity.brute_force_topk(candidates, qv, k=20), assigned)


def _ivf_portable_oracle_sql(
    k_lists: int = 8, iters: int = 2, nprobe: int = 4, k: int = 20
) -> str:
    last = f"c{iters - 1}"
    return (
        _kmeans_unrolled_ctes(k_lists, iters)
        + f""", qvv AS (
  SELECT embedding AS qv FROM embeddings
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
), qd AS (
  SELECT c.cid,
         CAST(SUM(CAST(floor((qv[c.dim + 1]::DOUBLE - c.val)
                             * (qv[c.dim + 1]::DOUBLE - c.val)
                             * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS d
  FROM {last} c, qvv GROUP BY 1
), probe AS (
  SELECT cid FROM qd ORDER BY d ASC, cid ASC LIMIT {nprobe}
), cand AS (
  SELECT e.vec_id, e.embedding
  FROM embeddings e
  JOIN afin a ON a.vec_id = e.vec_id
  JOIN probe p ON a.cid = p.cid
), scored AS (
  SELECT c.vec_id,
         list_sum(list_transform(range(1, len(c.embedding) + 1),
            i -> c.embedding[i]::DOUBLE * qv[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, len(c.embedding) + 1),
              i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
              i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))) AS cosine_sim
  FROM cand c, qvv
)
SELECT vec_id, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id ASC LIMIT {k}
"""
    )


SQL_EMB_IVF_PORTABLE = _ivf_portable_oracle_sql()


def q_ev_attribution_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the LEFT OUTER stream-stream interval join
    (streaming/events.py::purchase_attribution_left): organic
    purchases (no preceding click in 30 min) surface with null click
    columns. Timestamps as unix micros for the hash."""
    from .streaming.events import purchase_attribution_left  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    out = purchase_attribution_left(ev, "30 minutes")
    return out.select(
        "purchase_id",
        "user_id",
        F.unix_micros(F.col("purchase_ts")).alias("purchase_us"),
        "purchase_value",
        "click_id",
        F.unix_micros(F.col("click_ts")).alias("click_us"),
    )


SQL_EV_ATTRIBUTION_LEFT = """
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
         value AS purchase_value
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS click_id, user_id AS click_user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id, p.user_id,
       epoch_us(p.purchase_ts) AS purchase_us, p.purchase_value,
       c.click_id, epoch_us(c.click_ts) AS click_us
FROM p LEFT OUTER JOIN c
  ON p.user_id = c.click_user_id
 AND c.click_ts <= p.purchase_ts
 AND c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE
"""


def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations over orders (relational.py::
    enforce_expectations): four named rules evaluated in one pass,
    exact per-rule violation counts (plus the clean/violations split
    exercised by the consistency columns). The price_under_200k rule
    fails on real rows so the quarantine path is non-trivial."""
    from .operators.relational import enforce_expectations  # noqa: PLC0415

    orders = _t(spark, sf_dir, "orders")
    rules = {
        "positive_price": F.col("o_totalprice") > 0,
        "price_under_200k": F.col("o_totalprice") < 200_000,
        "known_status": F.col("o_orderstatus").isin("O", "F", "P"),
        "priority_format": F.col("o_orderpriority").rlike("^[1-5]-"),
    }
    clean, violations, metrics = enforce_expectations(orders, rules)
    return (
        metrics.withColumn(
            "violation_rate_micro",
            F.floor(
                F.col("n_violations") * 1_000_000 / F.col("n_rows")
            ).cast("bigint"),
        )
        .orderBy("rule")
    )


SQL_DQ_EXPECTATIONS = """
WITH f AS (
  SELECT
    CASE WHEN coalesce(o_totalprice > 0, FALSE) THEN 0 ELSE 1 END AS v1,
    CASE WHEN coalesce(o_totalprice < 200000, FALSE) THEN 0 ELSE 1 END AS v2,
    CASE WHEN coalesce(o_orderstatus IN ('O','F','P'), FALSE) THEN 0 ELSE 1
      END AS v3,
    CASE WHEN coalesce(regexp_matches(o_orderpriority, '^[1-5]-'), FALSE)
      THEN 0 ELSE 1 END AS v4
  FROM orders
), a AS (
  SELECT COUNT(*) AS n, SUM(v1) AS s1, SUM(v2) AS s2, SUM(v3) AS s3,
         SUM(v4) AS s4
  FROM f
)
SELECT rule, CAST(n_violations AS BIGINT) AS n_violations,
       CAST(n AS BIGINT) AS n_rows,
       CAST(floor(n_violations * 1000000 / n) AS BIGINT)
         AS violation_rate_micro
FROM a, (VALUES ('positive_price', 1), ('price_under_200k', 2),
                ('known_status', 3), ('priority_format', 4)) r(rule, i),
LATERAL (SELECT CASE r.i WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
                         ELSE s4 END AS n_violations) v
ORDER BY rule
"""


def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between document sources via KMV
    sketches (sketch.py::kmv_overlap_estimate, k=128): the cross-source
    contamination screen without joining raw token sets — pair cost is
    |sources|²·k, data cost one sketch pass. md5 hashing ⇒ fully
    oracle-checked (sketches, union-top-k, Jaccard micros)."""
    from .operators.sketch import kmv_overlap_estimate  # noqa: PLC0415
    from .operators.text import tokens  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens(F.col("text"))).alias("w"))
    return kmv_overlap_estimate(toks, "source", "w", k=128)


SQL_SOURCE_VOCAB_OVERLAP = r"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents
), h AS (
  SELECT DISTINCT source,
         CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) AS h
  FROM toks
), sk AS (
  SELECT source, COUNT(*) AS nd, list_sort(list(h))[1:128] AS sk
  FROM h GROUP BY source
), p AS (
  SELECT a.source AS g_a, b.source AS g_b,
         a.nd AS nd_a, b.nd AS nd_b,
         list_sort(list_distinct(list_concat(a.sk, b.sk)))[1:128] AS uk,
         list_intersect(a.sk, b.sk) AS inter
  FROM sk a JOIN sk b ON a.source < b.source
)
SELECT g_a, g_b,
       CAST(nd_a AS BIGINT) AS nd_a, CAST(nd_b AS BIGINT) AS nd_b,
       CAST(len(list_intersect(uk, inter)) AS BIGINT) AS shared_in_topk,
       CAST(floor(len(list_intersect(uk, inter)) * 1000000
                  / least(len(uk), 128)) AS BIGINT) AS jaccard_micro
FROM p
"""


def q_source_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary via Dunning log-likelihood G²
    (text.py::keyness_topk): the domain-drift / source-fingerprint
    diagnostic — top-5 over-used terms per source, integer-exact cell
    arithmetic (decimal38 products → correctly-rounded double ratios →
    micro-quantized lns)."""
    from .operators.text import keyness_topk  # noqa: PLC0415

    return keyness_topk(_t(spark, sf_dir, "documents"), k=5)


SQL_SOURCE_KEYNESS = r"""
WITH toks AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents
), t AS (SELECT * FROM toks WHERE w <> ''),
gt AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS a FROM t GROUP BY 1, 2),
ctot AS (SELECT w, CAST(SUM(a) AS BIGINT) AS ct FROM gt GROUP BY 1),
rtot AS (SELECT source, CAST(SUM(a) AS BIGINT) AS rt FROM gt GROUP BY 1),
ntot AS (SELECT CAST(SUM(a) AS BIGINT) AS n FROM gt),
sc AS (
  SELECT g.source, g.w, g.a,
    CAST(2 AS HUGEINT) * (
      CASE WHEN g.a > 0 THEN CAST(g.a AS HUGEINT) * CAST(round(ln(
        (CAST(g.a AS HUGEINT) * n.n)::DOUBLE
        / (CAST(r.rt AS HUGEINT) * c.ct)::DOUBLE) * 1000000) AS BIGINT)
      ELSE 0 END
    + CASE WHEN c.ct - g.a > 0 THEN CAST(c.ct - g.a AS HUGEINT) * CAST(round(ln(
        (CAST(c.ct - g.a AS HUGEINT) * n.n)::DOUBLE
        / (CAST(n.n - r.rt AS HUGEINT) * c.ct)::DOUBLE) * 1000000) AS BIGINT)
      ELSE 0 END
    + CASE WHEN r.rt - g.a > 0 THEN CAST(r.rt - g.a AS HUGEINT) * CAST(round(ln(
        (CAST(r.rt - g.a AS HUGEINT) * n.n)::DOUBLE
        / (CAST(r.rt AS HUGEINT) * (n.n - c.ct))::DOUBLE) * 1000000) AS BIGINT)
      ELSE 0 END
    + CASE WHEN (n.n - r.rt) - (c.ct - g.a) > 0
      THEN CAST((n.n - r.rt) - (c.ct - g.a) AS HUGEINT) * CAST(round(ln(
        (CAST((n.n - r.rt) - (c.ct - g.a) AS HUGEINT) * n.n)::DOUBLE
        / (CAST(n.n - r.rt AS HUGEINT) * (n.n - c.ct))::DOUBLE) * 1000000)
        AS BIGINT)
      ELSE 0 END
    ) AS g2_micro
  FROM gt g JOIN ctot c USING (w) JOIN rtot r USING (source) CROSS JOIN ntot n
  WHERE CAST(g.a AS HUGEINT) * n.n > CAST(r.rt AS HUGEINT) * c.ct
)
SELECT source, w AS term, a AS freq_in_group,
       CAST(g2_micro AS BIGINT) AS g2_micro,
       CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY g2_micro DESC, w ASC) AS rank FROM sc)
WHERE rank <= 5
"""


def q_doc_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-20 weighted sample of documents ∝ length via A-ES
    (sampling.py::weighted_reservoir): joint without-replacement
    semantics per-row thresholding can't give; deterministic
    content-hash uniforms, nano-quantized ln(u)/w scores."""
    from .operators.sampling import weighted_reservoir  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_reservoir(docs, "doc_id", "n_chars", k=20)


SQL_DOC_WEIGHTED_RESERVOIR = """
WITH s AS (
  SELECT doc_id, source, n_chars,
         CAST(floor(
           ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT)::DOUBLE + 1.0) / 1152921504606846976.0)
           / n_chars::DOUBLE * 1000000000.0) AS BIGINT) AS score_nano
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, source, n_chars, score_nano
FROM s ORDER BY score_nano DESC, doc_id ASC LIMIT 20
"""


def q_doc_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (sampling.py::dsir_sample): pick 60
    docs distributed like the English slice of the corpus, via hashed
    unigram importance weights (target/raw multinomial log-ratio,
    add-1 smoothed, every ln micro-quantized) and content-keyed Gumbel
    top-k — the Xie et al. 2023 data-selection recipe in two streaming
    corpus passes + a broadcast λ table + TakeOrdered."""
    from .operators.sampling import dsir_sample  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return dsir_sample(docs, F.col("lang") == "en", k=60)


SQL_DOC_DSIR_SAMPLE = r"""
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents
), feats AS (
  SELECT doc_id, is_t,
         CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % 256 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM toks GROUP BY 1, 2, 3
), b AS (
  SELECT bucket,
         SUM(CASE WHEN is_t THEN cnt ELSE 0 END) AS ct,
         SUM(cnt) AS cr
  FROM feats GROUP BY 1
), tot AS (SELECT SUM(ct) AS t_tot, SUM(cr) AS r_tot FROM b),
lam AS (
  SELECT bucket,
         CAST(round(ln(ct + 1.0) * 1000000) AS BIGINT)
       - CAST(round(ln(t_tot + 256.0) * 1000000) AS BIGINT)
       - CAST(round(ln(cr + 1.0) * 1000000) AS BIGINT)
       + CAST(round(ln(r_tot + 256.0) * 1000000) AS BIGINT) AS lam_micro
  FROM b CROSS JOIN tot
), w AS (
  SELECT doc_id, CAST(SUM(cnt * lam_micro) AS BIGINT) AS logw_micro
  FROM feats JOIN lam USING (bucket) GROUP BY 1
)
SELECT doc_id, logw_micro,
       logw_micro + CAST(round(-ln(-ln(
         (CAST(('0x' || substring(md5('dsir|' || CAST(doc_id AS VARCHAR)), 1, 15))
               AS BIGINT) + 0.5) / 1152921504606846976.0))
         * 1000000) AS BIGINT) AS key_micro
FROM w
ORDER BY key_micro DESC, doc_id ASC LIMIT 60
"""


def q_doc_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine model training + eval (text.py::nb_classifier_eval):
    multinomial Naive Bayes over hashed unigrams predicting ``lang``,
    trained on the content-keyed 80% split and evaluated on the rest —
    output is the confusion matrix. Train, score, argmax, and evaluate
    are all one declarative plan (broadcast dense model, integer-exact
    micro-log scores, min-struct argmax tiebreak)."""
    from .operators.text import nb_classifier_eval  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return nb_classifier_eval(docs, label_col="lang")


SQL_DOC_NB_CONFUSION = r"""
WITH d AS (
  SELECT doc_id, lang, text,
         (CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 10000) < 8000
           AS is_train
  FROM documents
), feats AS (
  SELECT doc_id, lang, is_train,
         CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % 256 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, lang, is_train,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM d)
  GROUP BY 1, 2, 3, 4
), cb AS (
  SELECT lang AS cand, bucket, SUM(cnt) AS cnt_cb
  FROM feats WHERE is_train GROUP BY 1, 2
), ctot AS (SELECT cand, SUM(cnt_cb) AS tok_c FROM cb GROUP BY 1),
prior AS (
  SELECT lang AS cand, COUNT(*) AS docs_c FROM d WHERE is_train GROUP BY 1
), nrow AS (SELECT SUM(docs_c) AS n_docs, COUNT(*) AS n_classes FROM prior),
dense AS (
  SELECT p.cand, r.range AS bucket FROM prior p CROSS JOIN range(0, 256) r
), model AS (
  SELECT dn.cand, dn.bucket,
         CAST(round(ln(COALESCE(cb.cnt_cb, 0) + 1.0) * 1000000) AS BIGINT)
       - CAST(round(ln(ct.tok_c + 256.0) * 1000000) AS BIGINT) AS lp_micro
  FROM dense dn
  LEFT JOIN cb ON cb.cand = dn.cand AND cb.bucket = dn.bucket
  JOIN ctot ct ON ct.cand = dn.cand
), prior_lp AS (
  SELECT p.cand,
         CAST(round(ln(p.docs_c + 1.0) * 1000000) AS BIGINT)
       - CAST(round(ln(n.n_docs + n.n_classes + 0.0) * 1000000) AS BIGINT)
           AS prior_micro
  FROM prior p CROSS JOIN nrow n
), ll AS (
  SELECT f.doc_id, f.lang AS true_label, m.cand,
         CAST(SUM(f.cnt * m.lp_micro) AS BIGINT) AS ll
  FROM feats f JOIN model m USING (bucket)
  WHERE NOT f.is_train GROUP BY 1, 2, 3
), scored AS (
  SELECT ll.doc_id, ll.true_label, ll.cand, ll.ll + pl.prior_micro AS score
  FROM ll JOIN prior_lp pl USING (cand)
), pred AS (
  SELECT doc_id, true_label, cand AS pred_label,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cand ASC) AS rk
  FROM scored
)
SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rk = 1 GROUP BY 1, 2
"""


def q_doc_nb_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Saved-model twin of ``doc_nb_confusion`` (text.py::write_nb_model
    / nb_score_indexed): the model is fit ONCE on the content-keyed 80%
    split and persisted, then the held-out 20% is scored from the saved
    broadcast-sized model — the train-once/score-many deployment shape
    (write_bpe_vocab, write_rp_index). Output is per-document
    (doc_id, pred_label, score_micro); the oracle replays the identical
    split/model/prior/score math and takes the same (score desc, class
    asc) argmax per doc.

    Side effect: (re)writes ``nb_model_<sf-tag>/`` under the session
    warehouse each call (the lazy result reads it — the
    doc_minhash_indexed pattern). Two concurrent runs against the SAME
    sf_dir would race the overwrite — run same-sf sweeps sequentially."""
    from .operators.sampling import hash_bucket  # noqa: PLC0415
    from .operators.text import nb_score_indexed, write_nb_model  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    is_train = hash_bucket(F.col("text")) < 8000
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    path = os.path.join(re.sub(r"^file:/*", "/", wh), f"nb_model_{tag}")
    write_nb_model(docs.filter(is_train), path, label_col="lang")
    return nb_score_indexed(spark, path, docs.filter(~is_train)).orderBy(
        "doc_id"
    )


SQL_DOC_NB_INDEXED = r"""
WITH d AS (
  SELECT doc_id, lang, text,
         (CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 10000) < 8000
           AS is_train
  FROM documents
), feats AS (
  SELECT doc_id, lang, is_train,
         CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % 256 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, lang, is_train,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM d)
  GROUP BY 1, 2, 3, 4
), cb AS (
  SELECT lang AS cand, bucket, SUM(cnt) AS cnt_cb
  FROM feats WHERE is_train GROUP BY 1, 2
), ctot AS (SELECT cand, SUM(cnt_cb) AS tok_c FROM cb GROUP BY 1),
prior AS (
  SELECT lang AS cand, COUNT(*) AS docs_c FROM d WHERE is_train GROUP BY 1
), nrow AS (SELECT SUM(docs_c) AS n_docs, COUNT(*) AS n_classes FROM prior),
dense AS (
  SELECT p.cand, r.range AS bucket FROM prior p CROSS JOIN range(0, 256) r
), model AS (
  SELECT dn.cand, dn.bucket,
         CAST(round(ln(COALESCE(cb.cnt_cb, 0) + 1.0) * 1000000) AS BIGINT)
       - CAST(round(ln(ct.tok_c + 256.0) * 1000000) AS BIGINT) AS lp_micro
  FROM dense dn
  LEFT JOIN cb ON cb.cand = dn.cand AND cb.bucket = dn.bucket
  JOIN ctot ct ON ct.cand = dn.cand
), prior_lp AS (
  SELECT p.cand,
         CAST(round(ln(p.docs_c + 1.0) * 1000000) AS BIGINT)
       - CAST(round(ln(n.n_docs + n.n_classes + 0.0) * 1000000) AS BIGINT)
           AS prior_micro
  FROM prior p CROSS JOIN nrow n
), ll AS (
  SELECT f.doc_id, m.cand,
         CAST(SUM(f.cnt * m.lp_micro) AS BIGINT) AS ll
  FROM feats f JOIN model m USING (bucket)
  WHERE NOT f.is_train GROUP BY 1, 2
), scored AS (
  SELECT ll.doc_id, ll.cand, ll.ll + pl.prior_micro AS score
  FROM ll JOIN prior_lp pl USING (cand)
)
SELECT doc_id, cand AS pred_label, CAST(score AS BIGINT) AS score_micro
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, cand ASC) AS rk
      FROM scored)
WHERE rk = 1
"""


def q_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped COGROUP (Spark's pandas cogroup → applyInPandas): orders
    and lineitem co-partitioned per customer, reconciled in one
    Arrow-batched function — the two-sided grouped-map API the plain
    grouped map can't express (both sides of a key in one call).
    Per-key output: order count, line count, exact cents totals, and
    an orphan flag (lines whose order key is missing on the orders
    side). Python is justified here as API-surface parity; the oracle
    is the plain two-aggregate join."""
    import pandas as pd  # noqa: PLC0415

    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("ocents"),
        )
    )
    li = _t(spark, sf_dir, "lineitem")
    omap = orders.select(
        F.col("o_orderkey").alias("_ok"), F.col("o_custkey").alias("_ck")
    )
    lines = (
        li.join(omap, li["l_orderkey"] == F.col("_ok"))
        .select(
            F.col("_ck").alias("o_custkey"),
            F.col("l_orderkey").alias("o_orderkey"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .alias("lcents"),
        )
    )

    # cogrouped applyInPandas performs no type-hint inference (the
    # warning-prone path is grouped-map only — see `stats` below); the
    # key hint here is for consistency with that sibling, nothing more
    def reconcile(key: tuple, o: pd.DataFrame, l: pd.DataFrame) -> pd.DataFrame:  # noqa: E741
        order_keys = set(o["o_orderkey"]) if len(o) else set()
        line_keys = set(l["o_orderkey"]) if len(l) else set()
        return pd.DataFrame(
            [
                {
                    "o_custkey": key[0],
                    "n_orders": len(o),
                    "n_lines": len(l),
                    "order_cents": int(o["ocents"].sum()) if len(o) else 0,
                    "line_cents": int(l["lcents"].sum()) if len(l) else 0,
                    "n_orphan_lines": int(
                        sum(k not in order_keys for k in line_keys)
                    ),
                }
            ]
        )

    return (
        orders.groupBy("o_custkey")
        .cogroup(lines.groupBy("o_custkey"))
        .applyInPandas(
            reconcile,
            "o_custkey bigint, n_orders bigint, n_lines bigint, "
            "order_cents bigint, line_cents bigint, n_orphan_lines bigint",
        )
    )


SQL_COGROUP_RECONCILE = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS ocents
  FROM orders WHERE o_custkey < 200
), l AS (
  SELECT o.o_custkey, li.l_orderkey,
         CAST(round(li.l_extendedprice * 100) AS BIGINT) AS lcents
  FROM lineitem li JOIN o ON li.l_orderkey = o.o_orderkey
), oa AS (
  SELECT o_custkey, COUNT(*) AS n_orders, SUM(ocents) AS order_cents
  FROM o GROUP BY 1
), la AS (
  SELECT o_custkey, COUNT(*) AS n_lines, SUM(lcents) AS line_cents
  FROM l GROUP BY 1
)
SELECT oa.o_custkey,
       CAST(oa.n_orders AS BIGINT) AS n_orders,
       CAST(coalesce(la.n_lines, 0) AS BIGINT) AS n_lines,
       CAST(oa.order_cents AS BIGINT) AS order_cents,
       CAST(coalesce(la.line_cents, 0) AS BIGINT) AS line_cents,
       CAST(0 AS BIGINT) AS n_orphan_lines
FROM oa LEFT JOIN la USING (o_custkey)
"""


def q_mm_arrow_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` byte accounting over binary payloads: the
    zero-copy Arrow-native map (one step below mapInPandas — no pandas
    conversion at all; pyarrow compute kernels on the RecordBatch).
    Payload byte lengths come from ``pc.binary_length`` without the
    bytes ever materializing as Python objects."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    media = _media_df(spark, sf_dir).select("media_id", "payload")

    def batch_stats(batches):
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pc.cast(
                        pc.binary_length(batch.column(1)), pa.int64()
                    ),
                ],
                names=["media_id", "n_bytes"],
            )

    return media.mapInArrow(batch_stats, "media_id bigint, n_bytes bigint")


SQL_MM_ARROW_BYTES = """
SELECT doc_id AS media_id, octet_length(encode(text))::BIGINT AS n_bytes
FROM documents
"""


def q_source_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-frame grouped map (``groupBy().applyInPandas``): per-source
    robust length statistics via numpy (median/quartiles, linear
    interpolation — matching DuckDB's median/quantile_cont). Completes
    the pandas-API family next to mapInPandas, cogroup, and
    applyInPandasWithState; numpy is justified as API parity — the
    oracle is plain SQL aggregation."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")

    # key needs a hint too: with a PARTIAL hint set pyspark's eval-type
    # inference warns (UserWarning per call site) and falls back to
    # argument counting — fully hinted, it resolves silently
    def stats(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["n_chars"].to_numpy(dtype="float64")
        return pd.DataFrame(
            [
                {
                    "source": key[0],
                    "n_docs": len(v),
                    "median_chars": float(np.percentile(v, 50)),
                    "q1_chars": float(np.percentile(v, 25)),
                    "q3_chars": float(np.percentile(v, 75)),
                }
            ]
        )

    return docs.groupBy("source").applyInPandas(
        stats,
        "source string, n_docs bigint, median_chars double, "
        "q1_chars double, q3_chars double",
    )


SQL_SOURCE_LENGTH_STATS = """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       median(n_chars::DOUBLE) AS median_chars,
       quantile_cont(n_chars::DOUBLE, 0.25) AS q1_chars,
       quantile_cont(n_chars::DOUBLE, 0.75) AS q3_chars
FROM documents GROUP BY 1
"""


def q_price_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram of order totals: bucket edges at exact
    deciles (percentile_cont), so every bucket holds ~10% of rows —
    the complement of the fixed-width q_price_histogram and the basis
    of range-partition boundary planning. Exact interpolated
    percentiles on cents; per-bucket counts/extrema exact."""
    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    o = orders.select(cents.alias("cents"))
    edges_row = o.agg(
        F.expr(
            "percentile(cents, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))"
        ).alias("e")
    ).collect()[0]["e"]
    edges = [float(x) for x in edges_row]
    bucket = F.lit(0)
    for e in edges:
        bucket = bucket + F.when(F.col("cents") > F.lit(e), 1).otherwise(0)
    return (
        o.select(bucket.cast("int").alias("bucket"), "cents")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (F.min("cents") / 100.0).alias("min_price"),
            (F.max("cents") / 100.0).alias("max_price"),
        )
    )


SQL_PRICE_HISTOGRAM_EQUIDEPTH = """
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
), e AS (
  SELECT quantile_cont(cents::DOUBLE,
           [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS ed
  FROM c
), b AS (
  SELECT cents,
         CAST((CASE WHEN cents > ed[1] THEN 1 ELSE 0 END)
            + (CASE WHEN cents > ed[2] THEN 1 ELSE 0 END)
            + (CASE WHEN cents > ed[3] THEN 1 ELSE 0 END)
            + (CASE WHEN cents > ed[4] THEN 1 ELSE 0 END)
            + (CASE WHEN cents > ed[5] THEN 1 ELSE 0 END)
            + (CASE WHEN cents > ed[6] THEN 1 ELSE 0 END)
            + (CASE WHEN cents > ed[7] THEN 1 ELSE 0 END)
            + (CASE WHEN cents > ed[8] THEN 1 ELSE 0 END)
            + (CASE WHEN cents > ed[9] THEN 1 ELSE 0 END) AS INT) AS bucket
  FROM c, e
)
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
       MIN(cents) / 100.0 AS min_price,
       MAX(cents) / 100.0 AS max_price
FROM b GROUP BY 1
"""


def q_basket_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association over part TYPES co-occurring in an
    order (support / lift): the classic affinity analysis, kept
    scale-sane by aggregating to the bounded type vocabulary BEFORE
    pairing — per-order pair expansion is C(distinct types in order, 2),
    never line² — and lift from exact counts. Top-20 pairs by
    (pair_count desc, type names); lift micro-quantized."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    ot = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .select(F.col("l_orderkey").alias("ok"), "p_type")
        .distinct()
    )
    n_orders = ot.select("ok").distinct().count()
    type_counts = ot.groupBy("p_type").agg(F.count(F.lit(1)).alias("ct"))
    a = ot.select("ok", F.col("p_type").alias("t1"))
    b = ot.select("ok", F.col("p_type").alias("t2"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    ca = type_counts.select(F.col("p_type").alias("t1"), F.col("ct").alias("c1"))
    cb = type_counts.select(F.col("p_type").alias("t2"), F.col("ct").alias("c2"))
    lift_micro = F.floor(
        F.col("pair_count")
        * F.lit(n_orders)
        * F.lit(1_000_000)
        / (F.col("c1") * F.col("c2"))
    ).cast("bigint")
    return (
        pairs.join(F.broadcast(ca), "t1")
        .join(F.broadcast(cb), "t2")
        .select(
            "t1",
            "t2",
            F.col("pair_count").cast("bigint").alias("pair_count"),
            F.col("c1").cast("bigint").alias("c1"),
            F.col("c2").cast("bigint").alias("c2"),
            lift_micro.alias("lift_micro"),
        )
        .orderBy(F.col("pair_count").desc(), "t1", "t2")
        .limit(20)
    )


SQL_BASKET_TYPE_LIFT = """
WITH ot AS (
  SELECT DISTINCT li.l_orderkey AS ok, p.p_type
  FROM lineitem li JOIN part p ON li.l_partkey = p.p_partkey
), n AS (
  SELECT COUNT(DISTINCT ok) AS n_orders FROM ot
), tc AS (
  SELECT p_type, COUNT(*) AS ct FROM ot GROUP BY 1
), pairs AS (
  SELECT a.p_type AS t1, b.p_type AS t2, COUNT(*) AS pair_count
  FROM ot a JOIN ot b ON a.ok = b.ok AND a.p_type < b.p_type
  GROUP BY 1, 2
)
SELECT t1, t2, CAST(pair_count AS BIGINT) AS pair_count,
       CAST(c1.ct AS BIGINT) AS c1, CAST(c2.ct AS BIGINT) AS c2,
       CAST(floor(pair_count * n.n_orders * 1000000.0
                  / (c1.ct * c2.ct)) AS BIGINT) AS lift_micro
FROM pairs
JOIN tc c1 ON pairs.t1 = c1.p_type
JOIN tc c2 ON pairs.t2 = c2.p_type
CROSS JOIN n
ORDER BY pair_count DESC, t1, t2 LIMIT 20
"""


def q_supplier_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each supplier's share of its NATION's total
    line revenue — the two-level aggregate + partitioned window shape
    (no global window, no second scan: the nation total is a window
    sum over the supplier-level aggregate). Exact cents; share
    micro-quantized."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    per_supp = (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .groupBy("s_nationkey", "s_suppkey")
        .agg(F.sum("cents").alias("supp_cents"))
    )
    w = Window.partitionBy("s_nationkey")
    return per_supp.select(
        "s_nationkey",
        "s_suppkey",
        (F.col("supp_cents") / 100.0).alias("supp_revenue"),
        F.floor(
            F.col("supp_cents") * 1_000_000 / F.sum("supp_cents").over(w)
        )
        .cast("bigint")
        .alias("share_micro"),
    )


SQL_SUPPLIER_NATION_SHARE = """
WITH per_supp AS (
  SELECT s.s_nationkey, s.s_suppkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS supp_cents
  FROM lineitem li JOIN supplier s ON li.l_suppkey = s.s_suppkey
  GROUP BY 1, 2
)
SELECT s_nationkey, s_suppkey,
       supp_cents / 100.0 AS supp_revenue,
       CAST(floor(supp_cents * 1000000.0
                  / SUM(supp_cents) OVER (PARTITION BY s_nationkey))
            AS BIGINT) AS share_micro
FROM per_supp
"""


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube are sugar
    for): exactly three aggregation levels — (region, nation), (region),
    grand total — with grouping_id disambiguating null-as-missing from
    null-as-subtotal. Completes the grouping-analytics family next to
    rollup_revenue and cube_revenue."""
    _t(spark, sf_dir, "region").createOrReplaceTempView("_gs_region")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("_gs_nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_gs_customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT r_name, n_name,
               CAST(grouping_id(r_name, n_name) AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 / CAST(100 AS DOUBLE) AS revenue
        FROM _gs_orders o
        JOIN _gs_customer c ON o.o_custkey = c.c_custkey
        JOIN _gs_nation n ON c.c_nationkey = n.n_nationkey
        JOIN _gs_region r ON n.n_regionkey = r.r_regionkey
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
        """
    )


SQL_GROUPING_SETS_REVENUE = """
SELECT r_name, n_name,
       CAST(CASE WHEN GROUPING(r_name) = 1 AND GROUPING(n_name) = 1 THEN 3
                 WHEN GROUPING(n_name) = 1 THEN 1 ELSE 0 END AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
"""


def q_ansi_try_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode-safe arithmetic (Spark 4 defaults to ANSI, where
    division by zero / bad casts RAISE): the ``try_*`` family returns
    NULL instead, the right semantics for dirty-data pipelines. Rows
    engineered so every function exercises both its null and value
    paths; DuckDB oracle mirrors try_* with guards."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 400)
    zero_or_key = F.when(
        F.col("o_orderkey") % 3 == 0, F.lit(0)
    ).otherwise(F.col("o_orderkey") % 7)
    return o.select(
        "o_orderkey",
        F.try_divide(
            F.round(F.col("o_totalprice") * 100).cast("bigint"), zero_or_key
        ).alias("cents_per_bucket"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("not-a-number"))
        .otherwise(F.col("o_orderkey").cast("string"))
        .try_cast("int")
        .alias("maybe_int"),
        F.try_add(
            F.lit(9_223_372_036_854_775_807).cast("bigint"),
            F.when(F.col("o_orderkey") % 2 == 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint"),
        ).alias("maybe_overflow"),
    )


SQL_ANSI_TRY_MATH = """
SELECT o_orderkey,
       CASE WHEN (CASE WHEN o_orderkey % 3 = 0 THEN 0
                       ELSE o_orderkey % 7 END) = 0 THEN NULL
            ELSE CAST(round(o_totalprice * 100) AS BIGINT)
                 / CAST((CASE WHEN o_orderkey % 3 = 0 THEN 0
                              ELSE o_orderkey % 7 END) AS DOUBLE)
       END AS cents_per_bucket,
       TRY_CAST(CASE WHEN o_orderkey % 5 = 0 THEN 'not-a-number'
                     ELSE CAST(o_orderkey AS VARCHAR) END AS INTEGER)
         AS maybe_int,
       CASE WHEN o_orderkey % 2 = 0 THEN NULL
            ELSE CAST(9223372036854775807 AS BIGINT) END AS maybe_overflow
FROM orders WHERE o_orderkey <= 400
"""


QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (spark_fn, oracle_sql | None)
# Registry order matters: the correctness driver checks the FIRST ~50
# entries per round. Entries are therefore ordered by verification
# priority — (1) queries fixed this round that need a fresh green row,
# (2) queries with no CORRECTNESS row from any prior round, (3) queries
# already green in round 1. Re-tier each round so every query gets a
# driver row as early as possible.

# --------------------------------------------------------------------------
# round 5: contrastive mining, containment dedup, leakage-guarded splits


def q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining (similarity.py::hard_negative_mining):
    per anchor, the hardest positive (most-similar same-label) and
    hardest negative (most-similar different-label) among its
    banded-LSH bucket candidates, with the training-priority margin.
    The hyperplanes are seeded plan constants, so the whole pipeline —
    signatures, banding, per-anchor argmax windows — replays in DuckDB
    (generated SQL): full value-hash oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.hard_negative_mining(emb, n_planes=24, bands=3).orderBy(
        "anchor_id"
    )


def _hard_negatives_oracle_sql(
    n_planes: int = 24, bands: int = 3, dims: int = 64
) -> str:
    from .operators.similarity import _planes  # noqa: PLC0415

    planes = _planes(n_planes, dims)
    plane_lit = (
        "["
        + ", ".join("[" + ", ".join(repr(v) for v in p) + "]" for p in planes)
        + "]"
    )
    bits = n_planes // bands
    mask = (1 << bits) - 1
    bands_lit = "[" + ", ".join(str(b) for b in range(bands)) + "]"
    sig_expr = (
        f"CAST(list_sum(list_transform(range(1, {n_planes + 1}), p -> "
        f"CASE WHEN list_sum(list_transform(range(1, {dims + 1}), "
        f"i -> e.embedding[i]::DOUBLE * planes[p][i])) >= 0 "
        f"THEN (CAST(1 AS BIGINT) << ({n_planes} - p)) ELSE 0 END)) AS BIGINT)"
    )
    return f"""
WITH pl AS (SELECT {plane_lit} AS planes),
sigs AS (
  SELECT e.vec_id, e.embedding, e.label,
         sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) AS nrm,
         {sig_expr} AS sig
  FROM embeddings e, pl
),
bb AS (
  SELECT vec_id, embedding, label, nrm, band,
         (sig >> (band * {bits})) & {mask} AS bucket
  FROM sigs, unnest({bands_lit}) AS u(band)
),
cand AS (
  SELECT DISTINCT a.vec_id AS anchor_id, c.vec_id AS cand_id,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
            i -> a.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))
           / (a.nrm * c.nrm) AS sim,
         a.label = c.label AS same
  FROM bb a JOIN bb c ON a.band = c.band AND a.bucket = c.bucket
         AND a.vec_id <> c.vec_id
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id, same
                                 ORDER BY sim DESC, cand_id ASC) AS rn
    FROM cand
  ) WHERE rn = 1
),
trip AS (
  SELECT anchor_id,
         MIN(CASE WHEN same THEN cand_id END) AS pos_id,
         MIN(CASE WHEN same THEN sim END) AS pos_sim,
         MIN(CASE WHEN NOT same THEN cand_id END) AS neg_id,
         MIN(CASE WHEN NOT same THEN sim END) AS neg_sim
  FROM best GROUP BY 1
)
SELECT anchor_id, pos_id, pos_sim, neg_id, neg_sim,
       pos_sim - neg_sim AS margin
FROM trip
WHERE pos_id IS NOT NULL AND neg_id IS NOT NULL
ORDER BY anchor_id
"""


SQL_EMB_HARD_NEGATIVES = _hard_negatives_oracle_sql()


def q_doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment pairs (dedup.py::
    containment_pairs): |A∩B|/|A| catches quote/sub-document
    duplication that symmetric Jaccard scores near zero. Exact
    inverted-index plan (one shingle-keyed shuffle); threshold 0.5 on
    the larger direction."""
    from .operators.dedup import containment_pairs  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.5)


SQL_DOC_CONTAINMENT_PAIRS = r"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 1, 2)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS sh
  FROM (
    SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS w
    FROM documents
  )
), ex AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh
), prs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       CAST(shared AS DOUBLE) / n_a AS containment_a,
       CAST(shared AS DOUBLE) / n_b AS containment_b,
       CAST(shared AS DOUBLE) / (n_a + n_b - shared) AS jaccard
FROM prs
WHERE greatest(CAST(shared AS DOUBLE) / n_a,
               CAST(shared AS DOUBLE) / n_b) >= 0.5
"""


def q_ev_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-guarded temporal split (sampling.py::
    temporal_holdout_split): 10% of USERS held out entirely (cold-start
    eval), the rest split train/valid at the time cutoff — rolled up
    per (split, event_type) with an exact micro-quantized value sum.
    Pure map over events; the md5 user assignment replays in DuckDB."""
    import datetime  # noqa: PLC0415

    from .operators.sampling import temporal_holdout_split  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    cutoff = datetime.datetime(2024, 1, 21, 0, 0, 0)
    return (
        temporal_holdout_split(ev, "user_id", "ts", cutoff, holdout_per_10k=1000)
        .groupBy("split", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 1_000_000).cast("bigint")).alias(
                "value_micro"
            ),
        )
    )


SQL_EV_HOLDOUT_SPLIT = """
WITH tagged AS (
  SELECT event_type, value,
         CASE
           WHEN CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000 < 1000
             THEN 'test'
           WHEN ts < TIMESTAMP '2024-01-21 00:00:00' THEN 'train'
           ELSE 'valid'
         END AS split
  FROM events
)
SELECT split, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micro
FROM tagged GROUP BY 1, 2
"""



def q_emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ retrieval (similarity.py::ivfpq_topk): coarse-quantizer
    list pruning + product-quantized RESIDUAL scoring by integer-micro
    asymmetric distance — the FAISS-style composition at the top of
    the repo's ANN ladder. Oracled by the driver-side reference
    (oracles/lsh_ref.py::ivfpq_topk_reference — shared IVF fit, md5
    codebook sample, Spark-faithful HALF_UP micro rounding); scores
    are exact integers, so the check has zero float tolerance."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.ivfpq_topk(emb, qv, k=10, n_lists=16, nprobe=4, m=4, n_codes=16)


def q_graph_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (graph.py::label_propagation, 4
    synchronous rounds, ties → smallest label) over the supplier
    co-occurrence graph — the community-granularity companion to
    connected components / k-core. The oracle unrolls the vote rounds
    as MATERIALIZED CTEs (the k-means/k-core trade), so the iterative
    algorithm is fully hash-checked."""
    from .operators.graph import label_propagation  # noqa: PLC0415

    los = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = los.select("o", F.col("s").alias("src"))
    b = los.select("o", F.col("s").alias("dst"))
    edges = (
        a.join(b, "o")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return label_propagation(edges, rounds=4)


def lpa_oracle_sql(rounds: int = 4) -> str:
    sql = """
WITH los AS (
  SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem
), und AS (
  SELECT DISTINCT a.s AS src, b.s AS dst
  FROM los a JOIN los b ON a.o = b.o AND a.s < b.s
), e0 AS MATERIALIZED (
  SELECT src, dst FROM und UNION SELECT dst, src FROM und
), l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS label FROM e0
)"""
    for r in range(rounds):
        sql += f""",
v{r} AS MATERIALIZED (
  SELECT e.src AS node, l.label, COUNT(*) AS n
  FROM e0 e JOIN l{r} l ON e.dst = l.node
  GROUP BY 1, 2
), l{r + 1} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY n DESC, label ASC) AS rn
    FROM v{r}
  ) WHERE rn = 1
)"""
    sql += f"\nSELECT node, label AS community FROM l{rounds}"
    return sql


SQL_GRAPH_LPA = lpa_oracle_sql(4)



def q_doc_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-index maintenance (dedup.py::incremental_minhash_pairs):
    the corpus is split 80/20 into an already-signed index
    (portable_signatures) and an arriving delta batch; the operator
    emits exactly the near-dup pairs the delta introduces (≥1 delta
    member) without re-pairing corpus×corpus. The oracle runs the FULL
    portable-LSH pipeline over the whole corpus and keeps the
    delta-touching pairs — hash-matching it proves the delta algebra:
    pairs(corpus ∪ Δ) = pairs(corpus) ∪ this."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    delta = docs.filter(F.col("doc_id") % 10 >= 8)
    sigs = dedup.portable_signatures(corpus)
    return dedup.incremental_minhash_pairs(sigs, delta, threshold=0.5)


SQL_DOC_MINHASH_INCR = SQL_DOC_MINHASH_PORTABLE.replace(
    "WHERE est_jaccard >= 0.5",
    "WHERE est_jaccard >= 0.5 AND (id_a % 10 >= 8 OR id_b % 10 >= 8)",
)


def q_doc_minhash_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-epoch face of the STREAMING dedup-index maintenance
    (streaming/dedup_stream.py::process_dedup_batch): epoch 0 delivers
    the 80% corpus (building the bucketed signature index), epoch 1
    delivers the 20% delta, and epoch 1's emitted pairs must be
    EXACTLY ``incremental_minhash_pairs(corpus, delta)`` — registered
    against the SAME oracle as ``doc_minhash_incremental`` (the
    ``doc_span_stream`` precedent), so the streaming code path itself
    — the r11 bucketed index chain read below the epoch id, the
    delta-sided band join, the idempotent per-epoch pair log — is
    driver-checked, not just pytest-pinned.

    Side effect: (re)writes ``minhash_stream_<sf-tag>/`` under the
    session warehouse each call (cleared up front). Two concurrent
    runs against the SAME sf_dir would race — run same-sf sweeps
    sequentially."""
    from .streaming import fsio  # noqa: PLC0415
    from .streaming.dedup_stream import process_dedup_batch  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    delta = docs.filter(F.col("doc_id") % 10 >= 8)
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    root = os.path.join(re.sub(r"^file:/*", "/", wh), f"minhash_stream_{tag}")
    fsio.delete(spark, root)
    process_dedup_batch(corpus, 0, root, threshold=0.5)
    process_dedup_batch(delta, 1, root, threshold=0.5)
    return spark.read.parquet(f"{root}/pairs/batch_1")


def q_doc_minhash_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed twin of ``doc_minhash_incremental``
    (dedup.py::incremental_minhash_pairs_indexed): the SAME 80/20
    corpus/delta split and the SAME emitted pair set, but the corpus
    side is a MATERIALIZED parquet index BUCKETED BY (band, bucket)
    (dedup.py::write_banded_signature_index) so it joins with NO
    Exchange — the write-once/probe-many deployment shape, plan-pinned
    in tests/test_round5_ops.py and timed at held match density in
    tools/synth_probe.py (delta latency flat in corpus size). The
    oracle is the plain variant's generated SQL: identical output from
    the indexed path is exactly the claim under test.

    Side effect: (re)writes the bucketed table
    ``minhash_idx_<sf-tag>`` in the session warehouse each call (the
    lazy result reads it, so it cannot be dropped here). Two
    concurrent runs against the SAME sf_dir would race the overwrite —
    run same-sf sweeps sequentially."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 < 8)
    delta = docs.filter(F.col("doc_id") % 10 >= 8)
    sigs = dedup.portable_signatures(corpus)
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    table = f"minhash_idx_{tag}"
    # location hygiene: a PREVIOUS session's managed table survives as
    # a warehouse directory the fresh session's catalog doesn't know,
    # and saveAsTable then fails with LOCATION_ALREADY_EXISTS. Drop
    # both the catalog entry and any orphaned location. (A production
    # deployment has a persistent metastore, where plain overwrite
    # works; this is local-warehouse lifecycle only.)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    loc = os.path.join(re.sub(r"^file:/*", "/", wh), table)
    if os.path.isdir(loc):
        import shutil  # noqa: PLC0415

        shutil.rmtree(loc, ignore_errors=True)
    dedup.write_banded_signature_index(sigs, table)
    return dedup.incremental_minhash_pairs_indexed(
        spark, table, delta, threshold=0.5
    )



def q_ev_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autoregressive (history → next-action) example construction
    (temporal.py::next_event_examples, history=3): per-user LAG
    context over one keyed window, labels filtered to purchases — the
    sequential-recommender dataset build. Unique-id tiebreak makes the
    emitted corpus bit-reproducible; the oracle replays the identical
    window."""
    from .operators.temporal import next_event_examples  # noqa: PLC0415

    ev = _t(spark, sf_dir, "events")
    return next_event_examples(ev).filter(F.col("label") == "purchase")


SQL_EV_NEXT_EVENT = """
WITH lagged AS (
  SELECT event_id, user_id, event_type,
         lag(event_type, 3) OVER w AS h3,
         lag(event_type, 2) OVER w AS h2,
         lag(event_type, 1) OVER w AS h1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
)
SELECT event_id, user_id,
       concat_ws('>', h3, h2, h1) AS context,
       event_type AS label
FROM lagged
WHERE h3 IS NOT NULL AND h2 IS NOT NULL AND h1 IS NOT NULL
  AND event_type = 'purchase'
"""



def q_doc_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (similarity.py::
    rrf_fuse): the BM25 lexical ranking (text.py::bm25_scores, same
    3-term query as doc_bm25_topk) and the embedding-cosine semantic
    ranking (min-vec_id query, vec_id ≡ doc_id) fused by
    Σ 1/(60+rank) — the calibration-free way to merge rankers. Ranks
    come from distributed_prefix_sum on each FULL scored list (never a
    single-partition window, never a huge-k TakeOrdered); contributions
    are nano-quantized so the fused scores are exact integers. Top-20,
    ties → doc_id."""
    from .operators.scale import distributed_prefix_sum  # noqa: PLC0415
    from .operators.similarity import rrf_fuse  # noqa: PLC0415
    from .operators.text import bm25_scores  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    # ONE segmented prefix-sum chain instead of two (r15, guide §2.4):
    # the two scored lists union under a ranker tag and rank through a
    # single range exchange + offsets window + broadcast join; within a
    # tag the order columns of the other tag are constant-NULL, so each
    # ranking's (score desc, doc_id asc) order — and therefore every
    # rank — is unchanged. Halves the chain's stages (1 range exchange,
    # 1 totals agg, 1 offsets window, 1 broadcast join instead of 2 of
    # each); same bytes through the exchange.
    lex = bm25_scores(docs, ["spark", "window", "customer"]).select(
        "doc_id",
        F.lit(0).alias("_rk"),
        "score_micro",
        F.lit(None).cast("double").alias("cs"),
        F.lit(1).cast("bigint").alias("_one"),
    )
    qv = _query_vector(spark, sf_dir)
    q = F.array(*[F.lit(float(x)) for x in qv])
    sem = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.lit(1).alias("_rk"),
        F.lit(None).cast("bigint").alias("score_micro"),
        similarity.cosine(F.col("embedding"), q).alias("cs"),
        F.lit(1).cast("bigint").alias("_one"),
    )
    ranked = distributed_prefix_sum(
        lex.unionByName(sem),
        [
            F.col("_rk").asc(),
            F.col("score_micro").desc(),
            F.col("cs").desc(),
            F.col("doc_id").asc(),
        ],
        "_one",
        out_col="rank",
        segment_cols=["_rk"],
    ).select("doc_id", "rank")
    # one frame holding both rankings' rows fuses identically to the
    # two-frame union rrf_fuse would build itself
    return rrf_fuse([ranked]).limit(20)


SQL_DOC_RRF = _BM25_CTES + r""",  lexagg AS (
  SELECT doc_id, CAST(SUM(score_micro) AS BIGINT) AS score_micro
  FROM contrib GROUP BY 1
), lexrank AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score_micro DESC, doc_id ASC) AS rank
  FROM lexagg
), q AS (
  SELECT embedding AS qv FROM embeddings
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
), sem AS (
  SELECT vec_id AS doc_id,
         list_sum(list_transform(range(1, len(embedding) + 1),
            i -> embedding[i]::DOUBLE * qv[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
              i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
              i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))) AS cs
  FROM embeddings, q
), semrank AS (
  SELECT doc_id, row_number() OVER (ORDER BY cs DESC, doc_id ASC) AS rank
  FROM sem
), contribs AS (
  SELECT doc_id,
         CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) AS c FROM lexrank
  UNION ALL
  SELECT doc_id,
         CAST(round(1000000000.0 / (60 + rank)) AS BIGINT) FROM semrank
)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_nano,
       CAST(COUNT(*) AS BIGINT) AS n_rankers
FROM contribs GROUP BY 1
ORDER BY rrf_nano DESC, doc_id ASC LIMIT 20
"""



def q_orders_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct customers per order priority via Spark's bitmap
    aggregates (bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_count — the roaring-style surface
    added in Spark 3.5): keys fold into fixed-width bitmap buckets that
    merge associatively, so the distinct is exact WITHOUT shuffling raw
    key sets — partials are bitmaps, re-aggregatable like the KMV/HLL
    sketches but lossless. The oracle is plain COUNT(DISTINCT)."""
    from .operators.scale import bitmap_distinct  # noqa: PLC0415

    o = _t(spark, sf_dir, "orders")
    return bitmap_distinct(o, "o_custkey", ["o_orderpriority"]).withColumnRenamed(
        "n_distinct", "n_customers"
    )


SQL_ORDERS_BITMAP_DISTINCT = """
-- bucket = ceil(k/32768) for k>0, 0 for k=0 (Spark's
-- bitmap_bucket_number layout, derived empirically and pinned here)
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(DISTINCT CASE WHEN o_custkey = 0 THEN 0
                                ELSE (o_custkey - 1) // 32768 + 1 END)
            AS BIGINT) AS n_buckets
FROM orders GROUP BY 1
"""



def q_doc_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical curation pipeline END TO END as one report —
    quality gate → exact dedup → quality-ranked near-dup survivorship —
    with corpus size and token volume after each stage (the
    before/after accounting every curation run ships with). Composes
    the already-oracled pieces (with_quality_score, exact_dedup,
    exact_jaccard_pairs → connected_components → survivor rank) over
    the SAME frames, and the oracle replays the whole funnel, so the
    cross-stage WIRING is what this query verifies. Σdf² pair-graph
    cost class → correctness-gated, out of the bench headline
    (doc_keep_best precedent)."""
    from .operators.dedup import exact_dedup, exact_jaccard_pairs  # noqa: PLC0415
    from .operators.graph import connected_components  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    # with_quality_score projects to (doc_id, ratios...) — join the
    # score back onto the text/token frame (broadcast-able id join)
    scores = text.with_quality_score(docs).select("doc_id", "quality_score")
    base = docs.select(
        "doc_id", "text", F.size(text.tokens(F.col("text"))).alias("n_tok")
    ).join(scores, "doc_id")
    s1 = base.filter(F.col("quality_score") >= 0.65)
    # no persist: query fns run repeatedly in shared sessions
    # (check_oracle / lint / bench) and a per-invocation persist with no
    # unpersist path accumulates cached frames; the ~3x recompute of the
    # dedup subtree is the price of a side-effect-free query fn
    s2 = exact_dedup(s1)
    pairs = exact_jaccard_pairs(s2, threshold=0.4)
    comp = connected_components(pairs, src="id_a", dst="id_b")
    members = s2.join(comp, s2.doc_id == comp.node, "left").select(
        s2.doc_id,
        F.coalesce(comp.component, s2.doc_id).alias("cluster_id"),
        s2.quality_score,
        s2.n_tok,
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc_nulls_last(), F.col("doc_id").asc()
    )
    s3 = (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "n_tok")
    )

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("bigint").alias("total_tokens"),
        )

    return (
        stage("0_raw", base)
        .unionByName(stage("1_quality", s1))
        .unionByName(stage("2_exact_dedup", s2))
        .unionByName(stage("3_near_dedup", s3))
    )


SQL_DOC_CURATION_REPORT = r"""
WITH RECURSIVE qb AS (
  SELECT doc_id, text,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) AS n_upper,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) AS n_tok_d,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
              x -> lower(x) IN ('the','and','of','to','is'))) AS DOUBLE) AS stop_hits
  FROM documents
), base AS (
  SELECT doc_id, text, CAST(n_tok_d AS BIGINT) AS n_tok,
         0.4 * least(n / 500.0, 1.0)
           + 0.3 * (1.0 - CASE WHEN n > 0 THEN n_punct / n ELSE 0.0 END)
           + 0.2 * (1.0 - CASE WHEN n > 0 THEN n_upper / n ELSE 0.0 END)
           + 0.1 * (CASE WHEN n_tok_d > 0 THEN stop_hits / n_tok_d ELSE 0.0 END)
           AS quality_score
  FROM qb
), s1 AS (
  SELECT * FROM base WHERE quality_score >= 0.65
), s2 AS (
  SELECT * FROM s1 WHERE doc_id IN (
    SELECT MIN(doc_id) FROM s1 GROUP BY md5(text)
  )
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(w) - 1, 2)),
           i -> concat_ws(' ', w[i], w[i+1], w[i+2])
         )) AS sh
  FROM (
    SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS w
    FROM s2
  )
), ex AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh
), prs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS shared
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT id_a, id_b FROM prs
  WHERE CAST(shared AS DOUBLE) / (n_a + n_b - shared) >= 0.4
), sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach AS (
  SELECT src AS node, src AS lab FROM sym
  UNION
  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.node
), comp AS (
  SELECT node, MIN(lab) AS component FROM reach GROUP BY node
), ranked AS (
  SELECT s2.doc_id, s2.n_tok,
         row_number() OVER (
           PARTITION BY coalesce(c.component, s2.doc_id)
           ORDER BY s2.quality_score DESC NULLS LAST, s2.doc_id ASC
         ) AS rn
  FROM s2 LEFT JOIN comp c ON s2.doc_id = c.node
), s3 AS (
  SELECT doc_id, n_tok FROM ranked WHERE rn = 1
)
SELECT '0_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS total_tokens FROM base
UNION ALL
SELECT '1_quality', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s1
UNION ALL
SELECT '2_exact_dedup', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s2
UNION ALL
SELECT '3_near_dedup', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s3
"""



def q_emb_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random-projection prefilter retrieval
    (similarity.random_projection_topk): micro-quantized vectors folded
    through a plan-constant ±1 sign matrix (portable affine Mersenne-31
    hashes — the sketch/LSH family) to 8 int64 components, squared-L2
    prefilter to 64 candidates, exact cosine rerank to top-20. The
    dimensionality-cut member of the compressed-retrieval family
    (int8 = precision, matryoshka = prefix dims, PQ = codebook);
    integer-exact through the prefilter, so DuckDB replays it
    bit-for-bit.

    Runs the Arrow/numpy twin (random_projection_topk_pandas) — the
    default-to-throughput pattern (semantic_dedup, kmeans): the
    prefilter is exact int64 arithmetic in both kernels, so the twin
    and the interpreted-HOF reference (random_projection_topk, pinned
    equal by tests/test_round7_ops.py) satisfy the SAME oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.random_projection_topk_pandas(
        emb, qv, k=20, r_dims=8, candidates=64
    )


def q_emb_rp_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed twin of ``emb_rp_topk``
    (similarity.write_rp_index / rp_topk_indexed): the SAME prefilter +
    rerank result, but the ±1-sign projection AND the validity envelope
    are evaluated ONCE at index build and materialized as an
    ``rp_proj array<bigint>`` column next to the vectors — the
    "project once, probe many" deployment the one-shot operator's
    docstring promises (VERDICT r7 #3), delivered like the family's
    other index (write_banded_signature_index). The
    probe projects only the query (driver-side exact ints) and scores
    the stored r-dim ints — no quantization, no sign fold, no validity
    pass at probe time (plan-pinned in tests/test_round8_ops.py: no
    ``floor`` in the probe plan; ``rp_proj`` read from the scan). The
    oracle is the one-shot variant's generated SQL: identical output
    from the indexed path is exactly the claim under test.

    Side effect: (re)writes ``rp_index_<sf-tag>/`` under the session
    warehouse each call (the lazy result reads it, so it cannot be
    dropped here — the doc_minhash_indexed pattern). Two concurrent
    runs against the SAME sf_dir would race the overwrite — run
    same-sf sweeps sequentially."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    path = os.path.join(re.sub(r"^file:/*", "/", wh), f"rp_index_{tag}")
    similarity.write_rp_index(emb, path, dims=len(qv), r_dims=8)
    return similarity.rp_topk_indexed(spark, path, qv, k=20, candidates=64)


def q_emb_rp_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched KNN join over the materialized RP index
    (similarity.rp_knn_join_indexed): top-10 neighbours for EACH of the
    4 smallest valid vec_ids in one pass — the multi-query deployment
    shape of ``emb_rp_indexed`` (mining/eval runs probe thousands of
    queries, not one). The corpus cost is shared across queries: one
    narrow ``(id, rp_proj)`` scan scores every query per Arrow batch
    and emits only local top-candidates (≤ batches·q·c rows, never
    n·q), then a candidate-sized window + pushed-``In`` vector rerank.
    Per query the result is IDENTICAL to a ``rp_topk_indexed`` loop
    (pinned in tests/test_round8_ops.py); the oracle replays the whole
    pipeline per query with the same generated-SQL machinery as
    ``emb_rp_topk``.

    Side effect: (re)writes ``rp_knn_index_<sf-tag>/`` under the
    session warehouse each call (the emb_rp_indexed pattern — own
    path, so concurrent same-sf runs of the two queries don't race
    each other's overwrite)."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = len(_query_vector(spark, sf_dir))
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    path = os.path.join(re.sub(r"^file:/*", "/", wh), f"rp_knn_index_{tag}")
    similarity.write_rp_index(emb, path, dims=dims, r_dims=8)
    queries = (
        similarity._rp_valid_rows(emb, dims, 8, "embedding")
        .orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return similarity.rp_knn_join_indexed(
        spark, path, queries, k=10, candidates=64
    )


def q_emb_rp_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed-index face of ``emb_rp_knn_join``
    (streaming/rp_stream.py): the RP index is built from the 80%
    base (``write_rp_index``), the 20% delta arrives as a streaming
    append epoch (``process_rp_batch`` — validity + the SAME Arrow
    projection kernel, so appended and built projections are
    bit-identical), and a query batch is answered through
    ``process_rp_query_batch`` over the combined index. Registered
    against the SAME generated oracle as ``emb_rp_knn_join`` (the
    ``doc_span_stream`` precedent): identical per-query results from
    the appended index ARE the claim — the streaming append path,
    the meta-guarded projection, and the idempotent per-epoch query
    log all driver-checked.

    Side effect: (re)writes ``rp_stream_<sf-tag>/`` under the session
    warehouse each call (cleared up front). Two concurrent runs
    against the SAME sf_dir would race — run same-sf sweeps
    sequentially."""
    from .streaming import fsio  # noqa: PLC0415
    from .streaming.rp_stream import (  # noqa: PLC0415
        process_rp_batch,
        process_rp_query_batch,
    )

    emb = _t(spark, sf_dir, "embeddings")
    dims = len(_query_vector(spark, sf_dir))
    base = emb.filter(F.col("vec_id") % 10 < 8)
    delta = emb.filter(F.col("vec_id") % 10 >= 8)
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    path = os.path.join(re.sub(r"^file:/*", "/", wh), f"rp_stream_{tag}")
    fsio.delete(spark, path)
    similarity.write_rp_index(base, path, dims=dims, r_dims=8)
    process_rp_batch(delta, 0, path)  # appends vectors/batch=1
    queries = (
        similarity._rp_valid_rows(emb, dims, 8, "embedding")  # noqa: SLF001
        .orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    process_rp_query_batch(
        queries, 0, path, f"{path}/knn", k=10, candidates=64
    )
    return spark.read.parquet(f"{path}/knn/batch=0")


def _rp_knn_oracle_sql(
    dims: int = 64, r_dims: int = 8, candidates: int = 64, k: int = 10,
    nq: int = 4,
) -> str:
    """DuckDB replay of q_emb_rp_knn_join — the per-query
    generalization of :func:`_rp_oracle_sql`: same sign matrix,
    validity envelope, floor-micro quantization, and tiebreaks, but
    queries are the ``nq`` smallest valid vec_ids and both the
    candidate cut and the final top-k are per-query windows."""
    from .operators.similarity import _rp_max_abs  # noqa: PLC0415
    from .operators.sketch import portable_hash_params  # noqa: PLC0415

    params = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(portable_hash_params(r_dims))
    )
    max_abs = repr(_rp_max_abs(dims, r_dims))
    return f"""
WITH valid AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {dims}
    AND coalesce(list_bool_and(list_transform(embedding,
          x -> x IS NOT NULL
               AND abs(x::DOUBLE) <= '{max_abs}'::DOUBLE)), false)
),
qs AS (
  SELECT vec_id AS query_id, embedding AS qv FROM valid
  ORDER BY vec_id ASC LIMIT {nq}
),
params(j, a, b) AS (VALUES {params}),
dim AS (SELECT i FROM range({dims}) t(i)),
signs AS (
  SELECT p.j, d.i,
         ((p.a * (d.i + 1) + p.b) % 2147483647) % 2 * 2 - 1 AS s
  FROM params p CROSS JOIN dim d
),
vm AS (
  SELECT e.vec_id, d.i,
         CAST(floor(e.embedding[d.i + 1]::DOUBLE * 1000000.0 + 0.5)
              AS BIGINT) AS mic
  FROM valid e CROSS JOIN dim d
),
qm AS (
  SELECT q.query_id, d.i,
         CAST(floor(q.qv[d.i + 1]::DOUBLE * 1000000.0 + 0.5)
              AS BIGINT) AS mic
  FROM qs q CROSS JOIN dim d
),
pv AS (
  SELECT vm.vec_id, s.j, SUM(vm.mic * s.s) AS p
  FROM vm JOIN signs s ON vm.i = s.i GROUP BY 1, 2
),
pq AS (
  SELECT qm.query_id, s.j, SUM(qm.mic * s.s) AS p
  FROM qm JOIN signs s ON qm.i = s.i GROUP BY 1, 2
),
approx AS (
  SELECT pq.query_id, pv.vec_id,
         CAST(SUM((pv.p - pq.p) * (pv.p - pq.p)) AS BIGINT) AS ad
  FROM pv JOIN pq ON pv.j = pq.j GROUP BY 1, 2
),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (
             PARTITION BY query_id ORDER BY ad ASC, vec_id ASC) AS rn
    FROM approx) WHERE rn <= {candidates}
),
scored AS (
  SELECT c.query_id, e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> e.embedding[i]::DOUBLE * qs.qv[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, len(qs.qv) + 1),
              i -> qs.qv[i]::DOUBLE * qs.qv[i]::DOUBLE)))) AS cosine_sim
  FROM embeddings e
  JOIN cand c ON e.vec_id = c.vec_id
  JOIN qs ON qs.query_id = c.query_id
)
SELECT query_id, vec_id, cosine_sim FROM (
  SELECT scored.*,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY cosine_sim DESC, vec_id ASC) AS rn
  FROM scored) WHERE rn <= {k}
ORDER BY query_id ASC, cosine_sim DESC, vec_id ASC
"""


def _rp_oracle_sql(
    dims: int = 64, r_dims: int = 8, candidates: int = 64, k: int = 20
) -> str:
    """DuckDB replay of q_emb_rp_topk: regenerates the ±1 sign matrix
    from the same affine params, applies the SAME validity filter as
    _rp_valid_rows (NULL / ragged / NaN / ±Inf / out-of-envelope rows
    excluded — the |x| ≤ max_abs comparison is false for NaN and +Inf
    under DuckDB's NaN-is-greatest ordering exactly as under Spark's,
    and the bound is the identical double via its repr), projects
    corpus and query with the same floor-micro quantization,
    prefilters by integer squared-L2 with the same (approx asc,
    id asc) tiebreak, and reranks with the SQL_EMB_TOPK cosine
    formula."""
    from .operators.similarity import _rp_max_abs  # noqa: PLC0415
    from .operators.sketch import portable_hash_params  # noqa: PLC0415

    params = ", ".join(
        f"({j}, {a}, {b})"
        for j, (a, b) in enumerate(portable_hash_params(r_dims))
    )
    max_abs = repr(_rp_max_abs(dims, r_dims))
    return f"""
WITH q AS (
  SELECT embedding AS qv FROM embeddings
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
),
valid AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) = {dims}
    AND coalesce(list_bool_and(list_transform(embedding,
          x -> x IS NOT NULL
               AND abs(x::DOUBLE) <= '{max_abs}'::DOUBLE)), false)
),
params(j, a, b) AS (VALUES {params}),
dim AS (SELECT i FROM range({dims}) t(i)),
signs AS (
  SELECT p.j, d.i,
         ((p.a * (d.i + 1) + p.b) % 2147483647) % 2 * 2 - 1 AS s
  FROM params p CROSS JOIN dim d
),
vm AS (
  SELECT e.vec_id, d.i,
         CAST(floor(e.embedding[d.i + 1]::DOUBLE * 1000000.0 + 0.5)
              AS BIGINT) AS mic
  FROM valid e CROSS JOIN dim d
),
qm AS (
  SELECT d.i,
         CAST(floor(q.qv[d.i + 1]::DOUBLE * 1000000.0 + 0.5)
              AS BIGINT) AS mic
  FROM q CROSS JOIN dim d
),
pv AS (
  SELECT vm.vec_id, s.j, SUM(vm.mic * s.s) AS p
  FROM vm JOIN signs s ON vm.i = s.i GROUP BY 1, 2
),
pq AS (
  SELECT s.j, SUM(qm.mic * s.s) AS p
  FROM qm JOIN signs s ON qm.i = s.i GROUP BY 1
),
approx AS (
  SELECT pv.vec_id,
         CAST(SUM((pv.p - pq.p) * (pv.p - pq.p)) AS BIGINT) AS ad
  FROM pv JOIN pq USING (j) GROUP BY 1
),
cand AS (
  SELECT vec_id FROM approx ORDER BY ad ASC, vec_id ASC LIMIT {candidates}
),
scored AS (
  SELECT e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> e.embedding[i]::DOUBLE * qv[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
              i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))) AS cosine_sim
  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q
)
SELECT vec_id, cosine_sim FROM scored
ORDER BY cosine_sim DESC, vec_id ASC LIMIT {k}
"""


def q_emb_rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine retrieval evaluation (similarity.rp_recall_report):
    recall@20 of the RP-prefilter retrieval vs exact cosine over the
    same validity-filtered corpus — one declarative plan, 1-row
    integer report. The oracle composes the full RP replay
    (_rp_oracle_sql) with an exact-baseline CTE and counts the
    intersection, so the recall number itself is hash-checked."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vector(spark, sf_dir)
    return similarity.rp_recall_report(emb, qv, k=20, r_dims=8, candidates=64)


def _rp_recall_oracle_sql(
    dims: int = 64, r_dims: int = 8, candidates: int = 64, k: int = 20
) -> str:
    """Composes the RP pipeline replay as a CTE (nested WITH) with an
    exact-cosine baseline over the SAME validity filter, then counts
    the id intersection — the recall arithmetic in exact integers."""
    from .operators.similarity import _rp_max_abs  # noqa: PLC0415

    max_abs = repr(_rp_max_abs(dims, r_dims))
    rp_body = _rp_oracle_sql(dims, r_dims, candidates, k)
    return f"""
WITH rp AS ({rp_body}),
exact AS (
  WITH q AS (
    SELECT embedding AS qv FROM embeddings
    WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
  ),
  valid AS (
    SELECT vec_id, embedding FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) = {dims}
      AND coalesce(list_bool_and(list_transform(embedding,
            x -> x IS NOT NULL
                 AND abs(x::DOUBLE) <= '{max_abs}'::DOUBLE)), false)
  )
  SELECT e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> e.embedding[i]::DOUBLE * qv[i]::DOUBLE))
         / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)))
            * sqrt(list_sum(list_transform(range(1, len(qv) + 1),
              i -> qv[i]::DOUBLE * qv[i]::DOUBLE)))) AS c
  FROM valid e CROSS JOIN q
  ORDER BY c DESC, e.vec_id ASC LIMIT {k}
)
SELECT CAST({k} AS BIGINT) AS k,
       CAST(n_hits AS BIGINT) AS n_hits,
       CAST((n_hits * 1000000) // {k} AS BIGINT) AS recall_micro
FROM (SELECT COUNT(*) AS n_hits FROM rp JOIN exact USING (vec_id)) t
"""


SQL_EMB_RP_RECALL = _rp_recall_oracle_sql()


def q_source_drift_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face of the streaming corpus-drift monitor
    (streaming/drift_stream.py::score_drift_frame): freeze a baseline
    bag model on the content-keyed half of the corpus, then score the
    OTHER half per source — integer llr_micro (Σ n_b·λ_b over the
    four micro-quantized lns, the DSIR algebra) plus llr_per_token.
    The oracle replays the split, the baseline fit, every micro-ln,
    and the per-token rounding, so the drift numbers themselves are
    hash-checked — the one r8 capability previously pinned only by
    pytest (VERDICT r8 #2).

    Side effect: (re)writes ``drift_baseline_<sf-tag>/`` under the
    session warehouse each call (the doc_nb_indexed saved-artifact
    pattern — the query exercises the real persisted-baseline path).
    Two concurrent runs against the SAME sf_dir would race the
    overwrite — run same-sf sweeps sequentially."""
    from .operators.sampling import hash_bucket  # noqa: PLC0415
    from .streaming.drift_stream import (  # noqa: PLC0415
        score_drift_frame,
        write_drift_baseline,
    )

    docs = _t(spark, sf_dir, "documents")
    is_base = hash_bucket(F.col("text")) < 5000
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    path = os.path.join(re.sub(r"^file:/*", "/", wh), f"drift_baseline_{tag}")
    write_drift_baseline(docs.filter(is_base), path)
    return score_drift_frame(spark, path, docs.filter(~is_base)).orderBy(
        "source"
    )


SQL_SOURCE_DRIFT_LLR = r"""
WITH d AS (
  SELECT source, text,
         (CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 10000) < 5000
           AS is_base
  FROM documents
), base AS (
  SELECT CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % 256 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS base_cnt
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM d WHERE is_base)
  GROUP BY 1
), btot AS (SELECT SUM(base_cnt) AS base_total FROM base),
gb AS (
  SELECT source,
         CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % 256 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM (SELECT source,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM d WHERE NOT is_base)
  GROUP BY 1, 2
), gtot AS (SELECT source, SUM(nb) AS tg FROM gb GROUP BY 1),
lam AS (
  SELECT g.source, g.nb,
         CAST(round(ln(g.nb + 1.0) * 1000000) AS BIGINT)
       - CAST(round(ln(t.tg + 256.0) * 1000000) AS BIGINT)
       - CAST(round(ln(COALESCE(b.base_cnt, 0) + 1.0) * 1000000) AS BIGINT)
       + CAST(round(ln(bt.base_total + 256.0) * 1000000) AS BIGINT)
           AS lam_micro
  FROM gb g LEFT JOIN base b USING (bucket)
  JOIN gtot t USING (source) CROSS JOIN btot bt
), agg AS (
  SELECT source, CAST(SUM(nb * lam_micro) AS BIGINT) AS llr_micro
  FROM lam GROUP BY 1
)
SELECT a.source, CAST(t.tg AS BIGINT) AS n_tokens, a.llr_micro,
       CAST(round(a.llr_micro::DOUBLE / t.tg::DOUBLE) AS BIGINT)
         AS llr_per_token_micro
FROM agg a JOIN gtot t USING (source)
ORDER BY source
"""


def q_doc_novelty_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty/outlier scoring against a frozen corpus
    baseline (streaming/drift_stream.py::score_novelty_frame) — the
    document-grained twin of ``source_drift_llr`` and the score an
    ingestion filter actually cuts on: freeze the bag model on the
    content-keyed half of the corpus, then give EVERY other document
    its integer llr_micro + llr_per_token_micro (micro-quantized lns,
    the DSIR algebra). Unlike the source face, the per-group totals
    here are corpus-sized, so the operator joins them keyed instead of
    broadcasting (the scale distinction under test alongside the
    numbers). Oracle replays the split, fit, every micro-ln, and the
    per-token rounding per document.

    Side effect: (re)writes ``novelty_baseline_<sf-tag>/`` under the
    session warehouse (its OWN artifact — never racing
    ``source_drift_llr``'s dir in a sequential sweep)."""
    from .operators.sampling import hash_bucket  # noqa: PLC0415
    from .streaming.drift_stream import (  # noqa: PLC0415
        score_novelty_frame,
        write_drift_baseline,
    )

    docs = _t(spark, sf_dir, "documents")
    is_base = hash_bucket(F.col("text")) < 5000
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    path = os.path.join(re.sub(r"^file:/*", "/", wh), f"novelty_baseline_{tag}")
    write_drift_baseline(docs.filter(is_base), path)
    return score_novelty_frame(spark, path, docs.filter(~is_base)).orderBy(
        "doc_id"
    )


SQL_DOC_NOVELTY_LLR = r"""
WITH d AS (
  SELECT doc_id, text,
         (CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 10000) < 5000
           AS is_base
  FROM documents
), base AS (
  SELECT CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % 256 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS base_cnt
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM d WHERE is_base)
  GROUP BY 1
), btot AS (SELECT SUM(base_cnt) AS base_total FROM base),
gb AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % 256 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM d WHERE NOT is_base)
  GROUP BY 1, 2
), gtot AS (SELECT doc_id, SUM(nb) AS tg FROM gb GROUP BY 1),
lam AS (
  SELECT g.doc_id, g.nb,
         CAST(round(ln(g.nb + 1.0) * 1000000) AS BIGINT)
       - CAST(round(ln(t.tg + 256.0) * 1000000) AS BIGINT)
       - CAST(round(ln(COALESCE(b.base_cnt, 0) + 1.0) * 1000000) AS BIGINT)
       + CAST(round(ln(bt.base_total + 256.0) * 1000000) AS BIGINT)
           AS lam_micro
  FROM gb g LEFT JOIN base b USING (bucket)
  JOIN gtot t USING (doc_id) CROSS JOIN btot bt
), agg AS (
  SELECT doc_id, CAST(SUM(nb * lam_micro) AS BIGINT) AS llr_micro
  FROM lam GROUP BY 1
)
SELECT a.doc_id, CAST(t.tg AS BIGINT) AS n_tokens, a.llr_micro,
       CAST(round(a.llr_micro::DOUBLE / t.tg::DOUBLE) AS BIGINT)
         AS llr_per_token_micro
FROM agg a JOIN gtot t USING (doc_id)
ORDER BY doc_id
"""


def q_doc_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-budget mixture assembly
    (sampling.py::token_budget_mix): 20 sources at equal 500 bp shares
    of a 12 000-token budget → 600 tokens per source, each source's
    smallest content-ordered document prefix reaching its budget
    (greedy take-until-reached). The two-level histogram cut (bucket
    classification + one fine window over the single boundary bucket
    per source) must select EXACTLY the rows the oracle's direct
    per-source running-sum window selects — the equivalence IS the
    claim."""
    from .operators.sampling import token_budget_mix  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return token_budget_mix(
        docs, _TOKEN_MIX_SHARES, budget_tokens=12_000
    ).orderBy("source", "doc_id")


_TOKEN_MIX_SHARES = {f"src{i}": 500 for i in range(20)}


def _token_mix_oracle_sql(
    shares: dict[str, int], budget_tokens: int
) -> str:
    """Direct replay: per-source running token sum over the SAME
    content order (bucket, md5, id); select rows whose strict-prefix
    total is under the integer source budget."""
    budgets = ", ".join(
        f"('{s}', {(budget_tokens * bp) // 10_000})"
        for s, bp in sorted(shares.items())
    )
    return rf"""
WITH budgets(source, budget) AS (VALUES {budgets}),
d AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tokens,
         CAST(('0x' || substring(md5(text), 1, 15)) AS BIGINT) % 10000
           AS bkt,
         md5(text) AS h
  FROM documents
  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND text IS NOT NULL
), sel AS (
  SELECT d.doc_id, d.source, d.n_tokens, b.budget,
         COALESCE(SUM(d.n_tokens) OVER (
           PARTITION BY d.source ORDER BY d.bkt, d.h, d.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM d JOIN budgets b USING (source)
)
SELECT doc_id, source, n_tokens FROM sel WHERE before < budget
ORDER BY source, doc_id
"""


SQL_DOC_TOKEN_BUDGET_MIX = _token_mix_oracle_sql(_TOKEN_MIX_SHARES, 12_000)


def q_doc_budget_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-epoch face of the STREAMING token-budget admission
    controller (streaming/budget_stream.py::process_budget_batch): the
    whole corpus delivered as epoch 0 against full budgets must admit
    EXACTLY the batch assembler's cut — registered against the SAME
    oracle as ``doc_token_budget_mix`` (the ``doc_span_stream``
    precedent; absolute budgets 600 = floor(12000·500/10000) per
    source, the share arithmetic ``token_budget_mix`` itself runs),
    so the streaming code path — fsio state discovery, the
    remaining-budget fold, the epoch-idempotent admitted/state writes
    — is driver-checked, not just pytest-pinned.

    Side effect: (re)writes ``budget_stream_<sf-tag>/`` under the
    session warehouse each call (cleared up front). Two concurrent
    runs against the SAME sf_dir would race — run same-sf sweeps
    sequentially."""
    from .streaming import fsio  # noqa: PLC0415
    from .streaming.budget_stream import process_budget_batch  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    budgets = {s: (12_000 * bp) // 10_000 for s, bp in _TOKEN_MIX_SHARES.items()}
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", os.path.basename(sf_dir.rstrip("/")))
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
    )
    root = os.path.join(re.sub(r"^file:/*", "/", wh), f"budget_stream_{tag}")
    fsio.delete(spark, root)
    process_budget_batch(docs, 0, root, budgets)
    return spark.read.parquet(f"{root}/admitted/batch=0").orderBy(
        "source", "doc_id"
    )


def q_doc_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source rank + CCNet head/middle/tail tiering
    (scale.py::grouped_exact_rank): every document ranked within its
    source by (n_chars asc, doc_id asc) and labeled by the 30/40/30
    integer percentile cuts — per-group ranking WITHOUT the
    one-task-per-group window (value-histogram bins + a fine window
    over ~1/nbins of each group). The oracle replays the rank with a
    direct per-source row_number window — the histogram ≡ direct-window
    equivalence is the checked claim."""
    from .operators.scale import grouped_exact_rank  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")
    return grouped_exact_rank(
        docs, "source", "n_chars", "doc_id", tiers_bp=(3000, 4000)
    ).orderBy("source", "rank")


SQL_DOC_QUALITY_TIERS = r"""
WITH d AS (
  SELECT doc_id, source, n_chars FROM documents
  WHERE doc_id IS NOT NULL AND source IS NOT NULL AND n_chars IS NOT NULL
), r AS (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars, doc_id) AS BIGINT) AS rank,
         CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
  FROM d
)
SELECT doc_id, source, n_chars, rank, n,
       CASE WHEN rank * 10000 <= n * 3000 THEN 'head'
            WHEN rank * 10000 <= n * 7000 THEN 'middle'
            ELSE 'tail' END AS tier
FROM r
ORDER BY source, rank
"""


def q_emb_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-side benchmark decontamination
    (similarity.py::semantic_contamination): the ``vec_id % 13 == 0``
    slice plays the benchmark, the rest the train corpus; every train
    vector ≥ 0.1 cosine to a bucket-shared benchmark vector is flagged
    with its best match. The hyperplanes are seeded plan constants, so
    the oracle replays signatures, banding, the broadcast-side join,
    the threshold, and the per-train argmax exactly."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semantic_contamination(
        emb.filter(F.col("vec_id") % 13 != 0),
        emb.filter(F.col("vec_id") % 13 == 0),
        threshold=0.1,
        n_planes=24,
        bands=3,
    ).orderBy("train_id")


def _contamination_oracle_sql(
    threshold: float = 0.1, n_planes: int = 24, bands: int = 3, dims: int = 64
) -> str:
    from .operators.similarity import _planes  # noqa: PLC0415

    planes = _planes(n_planes, dims)
    plane_lit = (
        "["
        + ", ".join("[" + ", ".join(repr(v) for v in p) + "]" for p in planes)
        + "]"
    )
    bits = n_planes // bands
    mask = (1 << bits) - 1
    bands_lit = "[" + ", ".join(str(b) for b in range(bands)) + "]"
    sig_expr = (
        f"CAST(list_sum(list_transform(range(1, {n_planes + 1}), p -> "
        f"CASE WHEN list_sum(list_transform(range(1, {dims + 1}), "
        f"i -> e.embedding[i]::DOUBLE * planes[p][i])) >= 0 "
        f"THEN (CAST(1 AS BIGINT) << ({n_planes} - p)) ELSE 0 END)) AS BIGINT)"
    )
    return f"""
WITH pl AS (SELECT {plane_lit} AS planes),
sigs AS (
  SELECT e.vec_id, e.embedding,
         sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> e.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE))) AS nrm,
         {sig_expr} AS sig
  FROM embeddings e, pl
  WHERE e.vec_id IS NOT NULL
    AND e.embedding IS NOT NULL
    AND len(e.embedding) = {dims}
    AND NOT COALESCE(list_bool_or(list_transform(e.embedding,
          x -> x IS NULL OR isnan(x::DOUBLE)
               OR abs(x::DOUBLE) = 'infinity'::DOUBLE)), FALSE)
    AND COALESCE(list_bool_or(list_transform(e.embedding,
          x -> x::DOUBLE <> 0.0)), FALSE)
),
bb AS (
  SELECT vec_id, embedding, nrm, band,
         (sig >> (band * {bits})) & {mask} AS bucket
  FROM sigs, unnest({bands_lit}) AS u(band)
),
cand AS (
  SELECT DISTINCT t.vec_id AS train_id, b.vec_id AS eval_id,
         list_sum(list_transform(range(1, len(t.embedding) + 1),
            i -> t.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
           / (t.nrm * b.nrm) AS cosine_sim
  FROM bb t JOIN bb b ON t.band = b.band AND t.bucket = b.bucket
  WHERE t.vec_id % 13 <> 0 AND b.vec_id % 13 = 0
)
SELECT train_id, eval_id, cosine_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY train_id
                               ORDER BY cosine_sim DESC, eval_id ASC) AS rn
  FROM cand WHERE cosine_sim >= {threshold!r}
) WHERE rn = 1
ORDER BY train_id
"""


SQL_EMB_CONTAMINATION = _contamination_oracle_sql()


REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    # -- tier 1: fixed in round 2 (errored/hash-failed in round 1) --
    "ev_tumbling_counts": (q_ev_tumbling, SQL_EV_TUMBLING),
    "ev_sliding_counts": (q_ev_sliding, SQL_EV_SLIDING),
    "ev_sessionize": (q_ev_sessionize, SQL_EV_SESSIONIZE),
    "ev_json_props": (q_ev_json_props, SQL_EV_JSON),
    "ev_user_totals": (q_ev_user_totals, SQL_EV_USER_TOTALS),
    "q1_pricing_summary": (q_q1_pricing_summary, SQL_Q1),
    "emb_centroids": (q_emb_centroids, SQL_EMB_CENTROIDS),
    # -- tier 2: registered in round 1, never driver-checked yet --
    "approx_distinct_parts": (q_approx_distinct_parts, SQL_APPROX_DISTINCT),
    "q2_min_cost_supplier": (q_q2_min_cost_supplier, SQL_Q2),
    "q4_order_priority": (q_q4_order_priority, SQL_Q4),
    "q7_volume_shipping": (q_q7_volume_shipping, SQL_Q7),
    "q8_market_share": (q_q8_market_share, SQL_Q8),
    "q9_product_profit": (q_q9_product_profit, SQL_Q9),
    "q12_late_lines": (q_q12_late_lines, SQL_Q12),
    "q13_customer_distribution": (q_q13_customer_distribution, SQL_Q13),
    "q15_top_supplier": (q_q15_top_supplier, SQL_Q15),
    "q16_supplier_variety": (q_q16_supplier_variety, SQL_Q16),
    "q17_small_quantity": (q_q17_small_quantity, SQL_Q17),
    "q19_disjunctive_revenue": (q_q19_disjunctive_revenue, SQL_Q19),
    "q20_part_share_suppliers": (q_q20_part_share_suppliers, SQL_Q20),
    "q21_waiting_supplier": (q_q21_waiting_supplier, SQL_Q21),
    "q22_idle_rich_customers": (q_q22_idle_rich_customers, SQL_Q22),
    "ev_asof_join": (q_ev_asof_join, SQL_EV_ASOF),
    "ev_band_join": (q_ev_band_join, SQL_EV_BAND),
    "ev_attribution_join": (q_ev_attribution_join, SQL_EV_ATTRIBUTION),
    "doc_hash_split": (q_doc_hash_split, SQL_DOC_HASH_SPLIT),
    "doc_stratified_sample": (q_doc_stratified_sample, SQL_DOC_STRATIFIED_SAMPLE),
    "doc_domain_quota": (q_doc_domain_quota, SQL_DOC_DOMAIN_QUOTA),
    "q11_important_suppliers": (q_q11_important_suppliers, SQL_Q11),
    "cube_revenue": (q_cube_revenue, SQL_CUBE_REVENUE),
    "doc_cc_islands": (q_doc_cc_islands, SQL_DOC_CC_ISLANDS),
    "doc_near_dup_clusters": (q_doc_near_dup_clusters, SQL_DOC_NEAR_DUP_CLUSTERS),
    "doc_vocab_topk": (q_doc_vocab_topk, SQL_DOC_VOCAB_TOPK),
    "emb_quantized_topk": (q_emb_quantized_topk, SQL_EMB_QUANTIZED_TOPK),
    "conditional_agg": (q_conditional_agg, SQL_CONDITIONAL_AGG),
    "array_agg_stats": (q_array_agg_stats, SQL_ARRAY_AGG),
    "ev_value_zscore_outliers": (q_ev_value_zscore_outliers, SQL_EV_ZSCORE),
    "m1_union_ragged": (q_m1_union_ragged, SQL_M1_UNION_RAGGED),
    "doc_scrub_text": (q_doc_scrub_text, SQL_DOC_SCRUB),
    "doc_weighted_sample": (q_doc_weighted_sample, SQL_DOC_WEIGHTED_SAMPLE),
    "dq_audit": (q_dq_audit, SQL_DQ_AUDIT),
    "doc_bigram_topk": (q_doc_bigram_topk, SQL_DOC_BIGRAM_TOPK),
    "ev_funnel": (q_ev_funnel, SQL_EV_FUNNEL),
    "ev_window_frames": (q_ev_window_frames, SQL_EV_WINDOW_FRAMES),
    "kmv_sketch_rollup": (q_kmv_sketch_rollup, SQL_KMV_ROLLUP),
    "emb_knn_join": (q_emb_knn_join, SQL_EMB_KNN_JOIN),
    "mode_median_per_group": (q_mode_median_per_group, SQL_MODE_MEDIAN),
    "unpivot_nation_metrics": (q_unpivot_nation_metrics, SQL_UNPIVOT),
    "date_functions": (q_date_functions, SQL_DATE_FUNCTIONS),
    "scd2_customer_orders": (q_scd2_customer_orders, SQL_SCD2),
    "mm_resize": (q_mm_resize, _sql_mm_resize),
    # -- tier 2b: new in round 2 (locally verified; first driver row
    #    lands when they rotate into the window next round) --
    "doc_repetition_signals": (q_doc_repetition_signals, SQL_DOC_REPETITION),
    "doc_span_dedup": (q_doc_span_dedup, SQL_DOC_SPAN_DEDUP),
    "doc_contamination": (q_doc_contamination, SQL_DOC_CONTAMINATION),
    "doc_bigram_lm": (q_doc_bigram_lm, SQL_DOC_BIGRAM_LM),
    "doc_bm25_topk": (q_doc_bm25_topk, SQL_DOC_BM25),
    "emb_kmeans": (q_emb_kmeans, SQL_EMB_KMEANS),
    "emb_kmeans_pandas": (q_emb_kmeans, SQL_EMB_KMEANS),
    "graph_pagerank": (q_graph_pagerank, SQL_GRAPH_PAGERANK),
    "ev_resample_hourly": (q_ev_resample_hourly, SQL_EV_RESAMPLE),
    "ev_retention_cohorts": (q_ev_retention_cohorts, SQL_EV_RETENTION),
    "doc_curation_pipeline": (q_doc_curation_pipeline, SQL_DOC_CURATION),
    "quantile_sketch_by_priority": (q_quantile_sketch_by_priority, SQL_QUANTILE_SKETCH),
    "sql_segment_revenue": (q_sql_segment_revenue, SQL_SQL_SEGMENT_REVENUE),
    "ev_interval_join_binned": (q_ev_interval_join_binned, SQL_EV_INTERVAL_BINNED),
    "neg_sampling": (q_neg_sampling, SQL_NEG_SAMPLING),
    "doc_minhash_portable": (q_doc_minhash_portable, SQL_DOC_MINHASH_PORTABLE),
    "doc_pack_sequences": (q_doc_pack_sequences, SQL_DOC_PACK),
    "doc_chunk_windows": (q_doc_chunk_windows, SQL_DOC_CHUNKS),
    "doc_bpe_token_stats": (q_doc_bpe_token_stats, SQL_DOC_BPE_TOKENS),
    "mm_audio_windows": (q_mm_audio_windows, SQL_MM_AUDIO_WINDOWS),
    "salted_supplier_volume": (q_salted_supplier_volume, SQL_SALTED_SUPPLIER_VOLUME),
    "salted_join_segments": (q_salted_join_segment_counts, SQL_SALTED_JOIN_SEGMENTS),
    "doc_cms_heavy_hitters": (q_doc_cms_heavy_hitters, SQL_DOC_CMS),
    "emb_semantic_dedup": (q_emb_semantic_dedup, SQL_EMB_SEMANTIC_DEDUP),
    "incremental_order_stats": (q_incremental_order_stats, SQL_INCREMENTAL_ORDER_STATS),
    "bloom_pruned_join": (q_bloom_pruned_join, SQL_BLOOM_PRUNED_JOIN),
    # -- tier 3: green in round 1 --
    "p1_projection": (q_p1_projection, SQL_P1),
    "p2_label": (q_p2_label, SQL_P2),
    "p3_filter": (q_p3_filter, SQL_P3),
    "p5_p6_cast_default": (q_p5_p6_cast_default, SQL_P5_P6),
    "e1_e2_case": (q_e1_e2_case, SQL_E1_E2),
    "e5_e6_row_json": (q_e5_e6_row_json, SQL_E5_E6),
    "j1_lookup": (q_j1_lookup, SQL_J1),
    "j2_left_existence": (q_j2_left_existence, SQL_J2),
    "j4_latest_enriched": (q_j4_latest_enriched, SQL_J4),
    "a1_top1_per_key": (q_a1_top1, SQL_A1),
    "a2_next_id": (q_a2_next_id, SQL_A2),
    "a3_existence_counts": (q_a3_existence, SQL_A3),
    "q3_shipping_priority": (q_q3_shipping_priority, SQL_Q3),
    "q5_local_volume": (q_q5_local_volume, SQL_Q5),
    "q10_returned_revenue": (q_q10_returned_revenue, SQL_Q10),
    "doc_exact_dedup": (q_doc_exact_dedup, SQL_DOC_EXACT_DEDUP),
    "doc_token_stats": (q_doc_token_stats, SQL_DOC_TOKEN_STATS),
    "doc_quality_score": (q_doc_quality, SQL_DOC_QUALITY),
    "doc_lang_id": (q_doc_lang_id, SQL_DOC_LANG_ID),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "doc_jaccard_adjacent": (q_doc_jaccard_adjacent, SQL_DOC_JACCARD_ADJ),
    "doc_minhash_pairs": (q_doc_minhash_pairs, sql_doc_minhash_pairs),
    "doc_simhash_pairs": (q_doc_simhash_pairs, sql_doc_simhash_pairs),
    "emb_topk_cosine": (q_emb_topk_cosine, SQL_EMB_TOPK),
    "emb_topk_cosine_pandas": (q_emb_topk_cosine_pandas, SQL_EMB_TOPK_PANDAS),
    "emb_ann_topk": (q_emb_ann_topk, SQL_EMB_ANN_TOPK),
    "emb_mmr_rerank": (q_emb_mmr_rerank, SQL_EMB_MMR_RERANK),
    "emb_ivf_topk": (q_emb_ivf_topk, sql_emb_ivf_topk),
    "emb_near_pairs": (q_emb_near_pairs, SQL_EMB_NEAR_PAIRS),
    "mm_featurize": (q_mm_featurize, SQL_MM_FEATURIZE),
    "mm_frame_sample": (q_mm_frame_sample, SQL_MM_FRAME_SAMPLE),
    "q6_forecast_revenue": (q_q6_forecast_revenue, SQL_Q6),
    "q14_promo_share": (q_q14_promo_share, SQL_Q14),
    "q18_large_orders": (q_q18_large_orders, SQL_Q18),
    "rollup_revenue": (q_rollup_revenue, SQL_ROLLUP),
    "pivot_order_priority": (q_pivot_order_priority, SQL_PIVOT),
    "window_running_spend": (q_window_running_spend, SQL_WINDOW_RUNNING),
    "anti_join_idle_customers": (q_anti_join_idle_customers, SQL_ANTI_JOIN),
    "distinct_part_types": (q_distinct_part_types, SQL_DISTINCT_AGG),
    "set_ops_custkeys": (q_intersect_custkeys, SQL_SET_OPS),
    "scalar_subquery_pricey_parts": (q_scalar_subquery_pricey_parts, SQL_SCALAR_SUBQ),
    "orders_by_month": (q_orders_by_month, SQL_ORDERS_BY_MONTH),
    "quantity_percentiles": (q_quantity_percentiles, SQL_PERCENTILES),
    "string_functions": (q_string_functions, SQL_STRING_FUNCS),
    # -- round-3 wave --
    "ev_multi_touch": (q_ev_multi_touch, SQL_EV_MULTI_TOUCH),
    "cdc_orders_diff": (q_cdc_orders_diff, SQL_CDC_ORDERS_DIFF),
    "graph_triangles": (q_graph_triangles, SQL_GRAPH_TRIANGLES),
    "doc_char_entropy": (q_doc_char_entropy, SQL_DOC_CHAR_ENTROPY),
    "ev_mad_outliers": (q_ev_mad_outliers, SQL_EV_MAD_OUTLIERS),
    "pareto_customers": (q_pareto_customers, SQL_PARETO_CUSTOMERS),
    "price_histogram": (q_price_histogram, SQL_PRICE_HISTOGRAM),
    "ev_variant_props": (q_ev_variant_props, SQL_EV_VARIANT_PROPS),
    "doc_term_vectors": (q_doc_term_vectors, SQL_DOC_TERM_VECTORS),
    "zorder_key": (q_zorder_key, SQL_ZORDER_KEY),
    "sql_recursive_months": (q_sql_recursive_months, SQL_RECURSIVE_MONTHS),
    "sql_pipe_returns": (q_sql_pipe_returns, SQL_PIPE_RETURNS),
    "collated_distinct_words": (q_collated_distinct_words, SQL_COLLATED_WORDS),
    "doc_feature_hashing": (q_doc_feature_hashing, SQL_DOC_FEATURE_HASHING),
    "doc_tfidf_topk": (q_doc_tfidf_topk, SQL_DOC_TFIDF_TOPK),
    "part_fuzzy_pairs": (q_part_fuzzy_pairs, SQL_PART_FUZZY_PAIRS),
    "window_suite": (q_window_suite, SQL_WINDOW_SUITE),
    "emb_matryoshka_topk": (q_emb_matryoshka_topk, SQL_EMB_MATRYOSHKA),
    "emb_pq_topk": (q_emb_pq_topk, SQL_EMB_PQ_TOPK),
    "doc_keep_best": (q_doc_keep_best, SQL_DOC_KEEP_BEST),
    "emb_pq_topk_pandas": (q_emb_pq_topk_pandas, SQL_EMB_PQ_TOPK),
    "doc_length_batches": (q_doc_length_batches, SQL_DOC_LENGTH_BATCHES),
    "key_skew_report": (q_key_skew_report, SQL_KEY_SKEW_REPORT),
    "compaction_plan": (q_compaction_plan, SQL_COMPACTION_PLAN),
    "doc_collapse_runs": (q_doc_collapse_runs, SQL_DOC_COLLAPSE_RUNS),
    "orders_merge_upsert": (q_orders_merge_upsert, SQL_ORDERS_MERGE_UPSERT),
    "doc_exact_split": (q_doc_exact_split, SQL_DOC_EXACT_SPLIT),
    "ev_winsorized": (q_ev_winsorized, SQL_EV_WINSORIZED),
    "ev_rollup_pyramid": (q_ev_rollup_pyramid, SQL_EV_ROLLUP_PYRAMID),
    "orders_profile": (q_orders_profile, SQL_ORDERS_PROFILE),
    "ivm_join_delta": (q_ivm_join_delta, SQL_IVM_JOIN_DELTA),
    "graph_kcore": (q_graph_kcore, SQL_GRAPH_KCORE),
    "vocab_zipf_fit": (q_vocab_zipf_fit, SQL_VOCAB_ZIPF_FIT),
    "doc_mixture_sample": (q_doc_mixture_sample, SQL_DOC_MIXTURE_SAMPLE),
    "doc_pmi_collocations": (q_doc_pmi_collocations, SQL_DOC_PMI),
    "vocab_bpe_merges": (q_vocab_bpe_merges, SQL_VOCAB_BPE_MERGES),
    "doc_shard_schedule": (q_doc_shard_schedule, SQL_DOC_SHARD_SCHEDULE),
    "doc_bpe_encode": (q_doc_bpe_encode, SQL_DOC_BPE_ENCODE),
    "doc_bpe_indexed": (q_doc_bpe_indexed, SQL_DOC_BPE_ENCODE),
    "ev_session_transitions": (q_ev_session_transitions, SQL_EV_SESSION_TRANSITIONS),
    "emb_dim_stats": (q_emb_dim_stats, SQL_EMB_DIM_STATS),
    "doc_simhash_portable": (q_doc_simhash_portable, SQL_DOC_SIMHASH_PORTABLE),
    "emb_ivf_portable": (q_emb_ivf_portable, SQL_EMB_IVF_PORTABLE),
    "ev_attribution_left": (q_ev_attribution_left, SQL_EV_ATTRIBUTION_LEFT),
    "dq_expectations": (q_dq_expectations, SQL_DQ_EXPECTATIONS),
    "source_vocab_overlap": (q_source_vocab_overlap, SQL_SOURCE_VOCAB_OVERLAP),
    "source_keyness": (q_source_keyness, SQL_SOURCE_KEYNESS),
    "doc_weighted_reservoir": (q_doc_weighted_reservoir, SQL_DOC_WEIGHTED_RESERVOIR),
    "doc_dsir_sample": (q_doc_dsir_sample, SQL_DOC_DSIR_SAMPLE),
    "doc_nb_confusion": (q_doc_nb_confusion, SQL_DOC_NB_CONFUSION),
    "doc_nb_indexed": (q_doc_nb_indexed, SQL_DOC_NB_INDEXED),
    "cogroup_reconcile": (q_cogroup_reconcile, SQL_COGROUP_RECONCILE),
    "mm_arrow_bytes": (q_mm_arrow_bytes, SQL_MM_ARROW_BYTES),
    "source_length_stats": (q_source_length_stats, SQL_SOURCE_LENGTH_STATS),
    "price_histogram_equidepth": (
        q_price_histogram_equidepth,
        SQL_PRICE_HISTOGRAM_EQUIDEPTH,
    ),
    "basket_type_lift": (q_basket_type_lift, SQL_BASKET_TYPE_LIFT),
    "supplier_nation_share": (q_supplier_nation_share, SQL_SUPPLIER_NATION_SHARE),
    "grouping_sets_revenue": (q_grouping_sets_revenue, SQL_GROUPING_SETS_REVENUE),
    "ansi_try_math": (q_ansi_try_math, SQL_ANSI_TRY_MATH),
    # round 5: contrastive mining, containment dedup, holdout splits
    "emb_hard_negatives": (q_emb_hard_negatives, SQL_EMB_HARD_NEGATIVES),
    "doc_containment_pairs": (q_doc_containment_pairs, SQL_DOC_CONTAINMENT_PAIRS),
    "ev_holdout_split": (q_ev_holdout_split, SQL_EV_HOLDOUT_SPLIT),
    "emb_ivfpq_topk": (q_emb_ivfpq_topk, sql_emb_ivfpq_topk),
    "graph_lpa": (q_graph_lpa, SQL_GRAPH_LPA),
    "doc_minhash_incremental": (q_doc_minhash_incremental, SQL_DOC_MINHASH_INCR),
    "doc_minhash_indexed": (q_doc_minhash_indexed, SQL_DOC_MINHASH_INCR),
    "ev_next_event": (q_ev_next_event, SQL_EV_NEXT_EVENT),
    "doc_rrf_retrieval": (q_doc_rrf_retrieval, SQL_DOC_RRF),
    "orders_bitmap_distinct": (q_orders_bitmap_distinct, SQL_ORDERS_BITMAP_DISTINCT),
    "doc_curation_report": (q_doc_curation_report, SQL_DOC_CURATION_REPORT),
    # -- round 7 --
    "emb_rp_topk": (q_emb_rp_topk, _rp_oracle_sql),
    # -- round 8 --
    "emb_rp_indexed": (q_emb_rp_indexed, _rp_oracle_sql),
    "doc_islands_window": (q_doc_islands_window, SQL_DOC_CC_ISLANDS),
    "emb_rp_knn_join": (q_emb_rp_knn_join, _rp_knn_oracle_sql),
    "emb_rp_recall": (q_emb_rp_recall, SQL_EMB_RP_RECALL),
    # -- round 9 --
    "source_drift_llr": (q_source_drift_llr, SQL_SOURCE_DRIFT_LLR),
    "doc_token_budget_mix": (q_doc_token_budget_mix, SQL_DOC_TOKEN_BUDGET_MIX),
    "doc_quality_tiers": (q_doc_quality_tiers, SQL_DOC_QUALITY_TIERS),
    "emb_contamination": (q_emb_contamination, SQL_EMB_CONTAMINATION),
    "doc_cluster_split": (q_doc_cluster_split, SQL_DOC_CLUSTER_SPLIT),
    "doc_stratified_scalable": (
        q_doc_stratified_scalable,
        SQL_DOC_STRATIFIED_SCALABLE,
    ),
    # -- round 10 --
    "bpe_merges_local": (q_bpe_merges_local, SQL_VOCAB_BPE_MERGES),
    "doc_span_rewrite": (q_doc_span_rewrite, SQL_DOC_SPAN_REWRITE),
    "doc_novelty_llr": (q_doc_novelty_llr, SQL_DOC_NOVELTY_LLR),
    "source_dup_matrix": (q_source_dup_matrix, SQL_SOURCE_DUP_MATRIX),
    "doc_span_stream": (q_doc_span_stream, SQL_DOC_SPAN_REWRITE),
    # -- round 11 --
    "source_dup_stream": (q_source_dup_stream, SQL_SOURCE_DUP_MATRIX),
    "doc_minhash_stream": (q_doc_minhash_stream, SQL_DOC_MINHASH_INCR),
    "doc_budget_stream": (q_doc_budget_stream, SQL_DOC_TOKEN_BUDGET_MIX),
    "emb_rp_stream": (q_emb_rp_stream, _rp_knn_oracle_sql),
}


#: Round-14 verification priority — GENERATED by tools/retier.py
#: (diff base: the r13 round commit 3a70dec). Tier 0 is empty (the
#: registry stays FROZEN for a second freshness round — no new
#: registrations). Tier 1: the 5 faces transitively consuming the
#: round's diff — the bucketed same-id replay write-aside + orphan GC
#: (upsert_keyed_buckets/prune_bucketed_state → the *_stream faces),
#: the snapshot pointer's aside-name resolution (_current_dir /
#: upsert_batch), and the widened drift missing-file classifier
#: (_is_missing_file_error → drift/novelty). All 5 were r13-attested;
#: re-attesting changed code outranks stale-green refresh. Tier 2
#: fills the 45 remaining slots oldest-first: ALL 41 r9 rows (the
#: whole tail VERDICT r13 #1 flagged — TPC-H q* faces, ev_* batch
#: faces, vocab/bpe family) + the 4 oldest r10 rows; after this round
#: the oldest driver row anywhere is r10 (the verdict's done-bar),
#: keeping the ceil(211/50) = 5-round staleness bound with a round to
#: spare.
#: Regenerate: python tools/retier.py
_PRIORITY_R14 = [
    # tier 1 — implementation diff-reachable this round
    "emb_rp_knn_join",
    "source_drift_llr",
    "doc_novelty_llr",
    "doc_minhash_stream",
    "emb_rp_stream",
    # tier 2 — oldest-green driver rows, round-robin back-fill
    "ev_tumbling_counts",  # last row r9
    "ev_sliding_counts",  # last row r9
    "ev_sessionize",  # last row r9
    "ev_json_props",  # last row r9
    "q1_pricing_summary",  # last row r9
    "emb_centroids",  # last row r9
    "approx_distinct_parts",  # last row r9
    "q2_min_cost_supplier",  # last row r9
    "q4_order_priority",  # last row r9
    "q7_volume_shipping",  # last row r9
    "q8_market_share",  # last row r9
    "q9_product_profit",  # last row r9
    "q12_late_lines",  # last row r9
    "q13_customer_distribution",  # last row r9
    "q15_top_supplier",  # last row r9
    "q16_supplier_variety",  # last row r9
    "q17_small_quantity",  # last row r9
    "doc_exact_split",  # last row r9
    "ev_rollup_pyramid",  # last row r9
    "orders_profile",  # last row r9
    "ivm_join_delta",  # last row r9
    "vocab_zipf_fit",  # last row r9
    "doc_mixture_sample",  # last row r9
    "doc_pmi_collocations",  # last row r9
    "vocab_bpe_merges",  # last row r9
    "doc_bpe_encode",  # last row r9
    "doc_bpe_indexed",  # last row r9
    "ev_session_transitions",  # last row r9
    "emb_dim_stats",  # last row r9
    "dq_expectations",  # last row r9
    "source_vocab_overlap",  # last row r9
    "doc_weighted_reservoir",  # last row r9
    "doc_dsir_sample",  # last row r9
    "doc_nb_indexed",  # last row r9
    "mm_arrow_bytes",  # last row r9
    "price_histogram_equidepth",  # last row r9
    "basket_type_lift",  # last row r9
    "supplier_nation_share",  # last row r9
    "grouping_sets_revenue",  # last row r9
    "ansi_try_math",  # last row r9
    "doc_token_budget_mix",  # last row r9
    "ev_user_totals",  # last row r10
    "q19_disjunctive_revenue",  # last row r10
    "q20_part_share_suppliers",  # last row r10
    "q21_waiting_supplier",  # last row r10
]


def _ordered_registry() -> dict[str, tuple[QueryFn, str | None]]:
    out = {name: REGISTRY[name] for name in _PRIORITY_R14 if name in REGISTRY}
    out.update({name: v for name, v in REGISTRY.items() if name not in out})
    return out


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    """Oracle SQL per query. Entries may register either a literal SQL
    string or a zero-arg callable returning one (reference oracles
    computed from the fixture at call time, e.g. mm_resize's digest
    table); a callable returning None degrades to rows-only."""
    out: dict[str, str] = {}
    for name, (_, sql) in _ordered_registry().items():
        if callable(sql):
            sql = sql()
        if sql is not None:
            out[name] = sql
    return out
