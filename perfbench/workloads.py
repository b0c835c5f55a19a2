"""The benchmark's workloads: inputs, timed loops and output checks.

Both are closed loops with one client on ``local[nproc]``.

- ``lifecycle``: ``plans.pipeline.run_intent`` calls against a seeded
  20k-row ``user_subscriptions`` JSON table and the 3-row plans table,
  every result predicted by :mod:`refmodel`.
- ``batch``: registered queries, noop sink. The relational ones read a
  fact-only 8x key-shifted replica of the sf0.1 star tables; traced,
  execution and shuffle take most of their time. The LLM-corpus ones
  read the sf0.1 documents and embeddings; traced, about half their
  time is the build layer (driver-side eager jobs) and about a tenth
  Python workers. ``--trace 1`` prints the split per query.

Every run pays a fixed JVM start and JIT warm-up, so the relational
and corpus queries share one workload: two batch workloads would pay
it twice within the same time budget. On ``batch`` the seed permutes
the query order; the inputs are the fixed star tables of
:mod:`datagen`, so the committed expected outputs in ``expected.json``
apply to every seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import datagen
import refmodel
import spans as tr

STAR_SF = 0.1
X8_REPS = 8
X8_OFFSET = 1_000_000_000

#: the replicated fact family → the keys shifted per replica. l_partkey
#: and l_suppkey stay unshifted so part/supplier joins keep matching.
X8_FACTS = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "customer": ["c_custkey"],
    "events": ["event_id", "user_id"],
}
X8_DIMS = ["part", "supplier", "nation", "region"]

#: relational queries on the 8x replica → the fact tables they read (only
#: those are replicated). One per relational-side operator module that
#: lifecycle does not time: temporal (asof) and scale (pareto's
#: distributed prefix sum).
X8_QUERIES = {"ev_asof_join": ["events"], "pareto_customers": ["orders"]}

#: corpus queries covering the corpus-side operator modules:
#: similarity/text/scale (rrf), graph (cc_islands), clustering (kmeans,
#: pandas UDF), packing/sampling/dedup (pack_sequences), multimodal
#: (mm_featurize), sketch (cms_heavy_hitters). Traced, cc_islands and
#: kmeans spend 66-75% of their wall time in the build layer, kmeans and
#: mm_featurize half in Python workers; the other three are mostly small
#: executions (~65-70%) after a ~30% build.
CORPUS_QUERIES = [
    "doc_rrf_retrieval",
    "doc_cc_islands",
    "emb_kmeans",
    "doc_pack_sequences",
    "mm_featurize",
    "doc_cms_heavy_hitters",
]

LIFE_ROWS = 20_000
LIFE_USERS = 10_000
#: intent mix in percent, and the percentage of change/cancel calls aimed
#: at users with no active subscription (the reference's error path)
LIFE_MIX = {"view": 60, "create": 15, "change": 15, "cancel": 10}
LIFE_MISS = 10
#: untimed intents in setup: one period of the mix, a miss included
LIFE_WARM = 20
PLAN_NAMES = ["Free", "Pro", "Team"]


@dataclass
class Op:
    """One timed operation (an intent or a query)."""

    name: str
    kind: str
    wall_s: float


@dataclass
class Phase:
    ops: list[Op] = field(default_factory=list)
    elapsed_s: float = 0.0
    passes: int = 0
    errors: list[str] = field(default_factory=list)

    def add(self, op: Op, err: str | None) -> None:
        self.ops.append(op)
        if err:
            self.errors.append(f"{op.name}: {err}")


def star_dir(cache: str, sf: float) -> str:
    return os.path.join(cache, f"star_v1_sf{sf}")


def ensure_star(cache: str, sf: float, fingerprint: dict | None) -> str:
    """Generate the star tables once per checkout (atomic rename), and
    check them against the committed fingerprint when one is given."""
    out = star_dir(cache, sf)
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.write_star(tmp, sf)
    if fingerprint is not None:
        got = table_fingerprints(tmp)
        if got != fingerprint:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(f"generated sf{sf} tables differ from expected.json")
    os.rename(tmp, out)
    return out


def table_fingerprints(d: str) -> dict[str, list]:
    """Row count and order-insensitive content hash of every table."""
    import duckdb

    con = duckdb.connect()
    out = {}
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            n, h = con.execute(
                f"SELECT count(*), sum(hash(t)::hugeint) FROM '{d}/{name}' t"
            ).fetchone()
            out[name[: -len(".parquet")]] = [int(n), str(h)]
    con.close()
    return out


def build_x8(base: str, out: str, facts: list[str]) -> None:
    """Fact-only 8x replica of ``facts``: replica r shifts the keyed
    columns by r * 10^9 and is written as row group r of the fact file;
    dimension files are copied unchanged."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    for t in X8_DIMS:
        shutil.copy(f"{base}/{t}.parquet", f"{out}/{t}.parquet")
    for t in facts:
        keys = X8_FACTS[t]
        table = pq.read_table(f"{base}/{t}.parquet")
        with pq.ParquetWriter(f"{out}/{t}.parquet", table.schema) as w:
            for r in range(X8_REPS):
                rep = table
                for k in keys:
                    i = rep.schema.get_field_index(k)
                    rep = rep.set_column(i, k, pc.add(rep[k], r * X8_OFFSET))
                w.write_table(rep)
    for t in (*facts, *X8_DIMS):
        want = pq.ParquetFile(f"{base}/{t}.parquet").metadata.num_rows
        want *= X8_REPS if t in facts else 1
        if pq.ParquetFile(f"{out}/{t}.parquet").metadata.num_rows != want:
            raise RuntimeError(f"x8 replica of {t}: expected {want} rows")


def x8_facts() -> list[str]:
    return sorted({t for ts in X8_QUERIES.values() for t in ts})


# --------------------------------------------------------------------------
# output digests


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a pandas frame: columns sorted by
    name, every cell rendered with ``str`` (the oracle checker's
    canonical form), rows hashed and summed mod 2^64."""
    import numpy as np
    import pandas as pd

    cols = sorted(pdf.columns)
    canon = pdf[cols].astype(str)
    canon.columns = cols
    h = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
    total = int(h.sum(dtype=np.uint64))
    head = hashlib.sha256(("\x1f".join(cols) + f"#{len(pdf)}#{total}").encode())
    return head.hexdigest()[:32]


def oracle_expectation(con, sql: str) -> dict:
    pdf = con.execute(sql).df()
    return {"rows": len(pdf), "digest": frame_digest(pdf)}


def check_output(spark_pdf, want: dict) -> str | None:
    if len(spark_pdf) != want["rows"]:
        return f"rows {len(spark_pdf)} != {want['rows']}"
    if want.get("digest") and frame_digest(spark_pdf) != want["digest"]:
        return "digest differs from the DuckDB oracle"
    return None


# --------------------------------------------------------------------------
# batch workloads


class Batch:
    """A sequence of registered queries, noop sink, seed-permuted order."""

    def __init__(self, seed: int):
        self.queries = [*X8_QUERIES, *CORPUS_QUERIES]
        random.Random(seed).shuffle(self.queries)
        self.input_dir: dict[str, str] = {}

    def prepare(self, cache: str, run_dir: str) -> None:
        base = star_dir(cache, STAR_SF)
        x8 = os.path.join(run_dir, "x8")
        build_x8(base, x8, x8_facts())
        self.input_dir = {q: x8 if q in X8_QUERIES else base for q in self.queries}

    def run_one(self, spark, q: str, rec: tr.Recorder | None) -> tuple[Op, str | None]:
        from airflow_subscription_etl_spark import queries

        fn = queries.REGISTRY[q][0]
        err = None
        t0 = time.perf_counter()
        try:
            if rec is None:
                fn(spark, self.input_dir[q]).write.format("noop").mode("overwrite").save()
            else:
                with rec.span("op", q):
                    with rec.span("queries", q):
                        df = fn(spark, self.input_dir[q])
                    with rec.span("spark.plan", q):
                        df._jdf.queryExecution().executedPlan()
                    with rec.span("spark.exec", q):
                        df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — a failing query is counted, not fatal
            err = f"{type(e).__name__}: {str(e)[:200]}"
        return Op(q, "query", time.perf_counter() - t0), err

    def timed(self, spark, seconds: float, rec: tr.Recorder | None) -> Phase:
        """Whole sweeps of the query list while another fits in ``seconds``
        (at least one)."""
        ph = Phase()
        t0 = time.perf_counter()
        while True:
            s0 = time.perf_counter()
            for q in self.queries:
                ph.add(*self.run_one(spark, q, rec))
            ph.passes += 1
            sweep = time.perf_counter() - s0
            if time.perf_counter() - t0 + sweep > seconds:
                break
        ph.elapsed_s = time.perf_counter() - t0
        return ph

    def warm(self, spark, expected: dict) -> list[str]:
        """Two untimed passes on the timed inputs: the first checks every
        output, the second runs the timed path. Returns the mismatches and
        failures. After a warm pass at sf0.001 the first real-scale run of
        each plan ran ~50% slower than steady state, and after one pass at
        scale the next ran ~30% slower (JIT and codegen at volume)."""
        from airflow_subscription_etl_spark.queries import REGISTRY

        errors = []
        for q in self.queries:
            pdf = REGISTRY[q][0](spark, self.input_dir[q]).toPandas()
            err = check_output(pdf, expected[q])
            if err:
                errors.append(f"{q}: {err}")
        for q in self.queries:
            op, err = self.run_one(spark, q, None)
            if err:
                errors.append(f"{q}: {err}")
        return errors

    def verify(self) -> list[str]:
        return []


# --------------------------------------------------------------------------
# lifecycle workload


class IntentStream:
    """Seeded intents whose mix tracks :data:`LIFE_MIX` in every prefix.

    Each intent is the kind furthest below its target count (ties in
    :data:`LIFE_MIX` order), and the k-th change/cancel call is a miss
    when that brings the misses to ``round(k * LIFE_MISS / 100)``, the
    share nearest 10% that k calls allow. :meth:`restart` begins the
    kind sequence anew, so every timed phase runs the same sequence.
    The seed picks users and plans."""

    def __init__(self, seed: int, model: refmodel.SubscriptionModel):
        self.rng = random.Random(seed)
        self.model = model
        self.restart()

    def restart(self) -> None:
        self.counts = dict.fromkeys(LIFE_MIX, 0)
        self.misses = 0

    def _user(self, active: bool) -> int:
        while True:
            u = self.rng.randint(1, LIFE_USERS)
            if (self.model.latest_active(u) is not None) == active:
                return u

    def next(self) -> dict:
        n = sum(self.counts.values()) + 1
        k = max(LIFE_MIX, key=lambda x: LIFE_MIX[x] * n - 100 * self.counts[x])
        self.counts[k] += 1
        if k in ("change", "cancel"):
            calls = self.counts["change"] + self.counts["cancel"]
            miss = (calls * LIFE_MISS + 50) // 100 > self.misses
            self.misses += miss
            user = self._user(active=not miss)
        else:
            user = self.rng.randint(1, LIFE_USERS)
        conf = {"user_id": user, "intent": k}
        if k in ("create", "change"):
            conf["selected_plan_name"] = self.rng.choice(PLAN_NAMES)
        return conf


class Lifecycle:
    def __init__(self, seed: int):
        self.seed = seed
        self.model: refmodel.SubscriptionModel | None = None
        self.stream: IntentStream | None = None
        self.plans_path = self.subs_path = ""
        self.write_bytes = 0
        self.rows_rewritten = 0
        self.writes = 0

    def prepare(self, cache: str, run_dir: str) -> None:
        d = os.path.join(run_dir, "lifecycle")
        os.makedirs(d, exist_ok=True)
        rows = datagen.subscription_rows(LIFE_ROWS, LIFE_USERS, self.seed)
        self.plans_path = os.path.join(d, "plans.json")
        self.subs_path = os.path.join(d, "user_subscriptions.json")
        datagen.write_json(self.plans_path, datagen.PLANS)
        datagen.write_json(self.subs_path, rows)
        self.model = refmodel.SubscriptionModel(datagen.PLANS, rows)
        self.stream = IntentStream(self.seed, self.model)

    def warm(self, spark, expected: dict) -> list[str]:
        """The first :data:`LIFE_WARM` intents of the stream, untimed, on
        the timed table: every intent path, the error path included. On
        a tiny table the first timed phase still ran 10-20% slower than
        the next (JIT at volume). Returns the mismatches."""
        errors = []
        for _ in range(LIFE_WARM):
            op, err = self.run_one(spark, self.stream.next(), None)
            if err:
                errors.append(f"{op.name}: {err}")
        return errors

    def run_one(self, spark, conf: dict, rec: tr.Recorder | None) -> tuple[Op, str | None]:
        from airflow_subscription_etl_spark.plans import pipeline
        from airflow_subscription_etl_spark.sources.io import JSON_SINK_MAX_ROWS

        want = self.model.apply(conf)
        if len(self.model.rows) >= JSON_SINK_MAX_ROWS:
            raise RuntimeError("lifecycle table reached JSON_SINK_MAX_ROWS")
        # a miss is its own operation, kept out of the write medians
        if want.error is not None:
            name, kind = f"{conf['intent']}_miss", "error"
        else:
            name, kind = conf["intent"], "view" if conf["intent"] == "view" else "write"
        res = err = None
        t0 = time.perf_counter()
        try:
            if rec is None:
                res = pipeline.run_intent(spark, conf, self.plans_path, self.subs_path)
            else:
                with rec.span("op", name):
                    res = pipeline.run_intent(
                        spark, conf, self.plans_path, self.subs_path
                    )
        except Exception as e:  # noqa: BLE001 — a mismatch is counted, not fatal
            err = e
        wall = time.perf_counter() - t0
        diff = refmodel.check(want, res, err)
        if want.writes and diff is None:
            self.writes += 1
            self.write_bytes += os.path.getsize(self.subs_path)
            self.rows_rewritten += len(self.model.rows)
        return Op(name, kind, wall), diff

    def timed(self, spark, seconds: float, rec: tr.Recorder | None) -> Phase:
        ph = Phase()
        self.stream.restart()
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds:
            ph.add(*self.run_one(spark, self.stream.next(), rec))
        ph.elapsed_s = time.perf_counter() - t0
        ph.passes = len(ph.ops)
        return ph

    def verify(self) -> list[str]:
        """The JSON file must hold exactly the model's table."""
        with open(self.subs_path) as f:
            got = json.load(f)
        key = lambda r: r["subscription_id"]  # noqa: E731
        if sorted(got, key=key) != sorted(self.model.rows, key=key):
            return ["user_subscriptions.json differs from the reference model"]
        return []


WORKLOADS = {"lifecycle": Lifecycle, "batch": Batch}
