"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see ``workloads.py``):
``lifecycle`` and ``batch``. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries run context (calibration anchor, source-tree digest, phase
times, per-operation medians, errors).

``--trace 0`` reports the end-to-end metrics:

- ``setup_s``: session start + workload input build + warm-up. On
  ``lifecycle`` the warm-up is the stream's first 20 intents, on the
  timed table; on ``batch`` it is two passes of every query on the
  timed inputs, the first of which checks each output. The star tables are generated once per
  checkout into ``perfbench/.cache`` and are not part of it.
- ``ops_per_s``: operations (intents or queries) completed per second
  over the timed phase: intents for ``--seconds``, or whole query sweeps
  while another fits in ``--seconds`` (at least one).
- ``op_geomean_s``: geometric mean, over the same phase's operations, of
  the median time of each operation's name (query, or intent kind).
  A change or cancel aimed at a user with no active subscription (the
  reference's error path) is its own name, ``change_miss`` or
  ``cancel_miss``; the context line gives the count of each name.

``--trace 1`` reports the per-layer metrics instead. After the untimed
phase above it runs the timed loop twice more: untraced, as the warm
reference for ``trace.overhead_ratio``, then with every layer function
wrapped in a span (``spans.py``). The Spark event log is on for the
whole traced run. Layer seconds, calls, jobs and bytes are per pass:
one sweep of the query list on ``batch``, one intent on ``lifecycle``.
The context line adds, per query or intent kind, its traced medians
of wall, build/plan/exec (or run_intent) time, jobs, executor and
Python-worker time and shuffle volume. A traced run is incorrect when
the layer spans of any operation cover less than 95% of its wall time.

Outputs are checked on every run: batch queries against the row counts
and DuckDB-oracle digests in ``expected.json`` (written by
``make_expected.py``), lifecycle results and the final JSON table
against the pure-Python reference model in ``refmodel.py``.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans as tr  # noqa: E402
import workloads as wl  # noqa: E402

PKG = "airflow_subscription_etl_spark"
CACHE = os.path.join(HERE, ".cache")
OUT = os.path.join(HERE, "out")
#: the layer spans of an operation must cover this share of its wall time
MIN_COVERAGE = 0.95
PR_SET_CHILD_SUBREAPER = 36


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def become_subreaper() -> None:
    """Have orphaned descendants (Spark's Python workers, once their JVM
    exits) reparent to this process, so ``stop_processes`` can reap them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:  # the process or thread has just ended
        pass
    return out


def _descendants(pid: int) -> list[int]:
    todo, seen = _children(pid), []
    while todo:
        c = todo.pop()
        seen.append(c)
        todo += _children(c)
    return seen


def _reap_all(deadline: float) -> bool:
    """Wait for every child of this process until ``deadline``; True when
    none is left."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            if time.monotonic() > deadline:
                return False
            time.sleep(0.05)


def stop_processes(timeout_s: float = 30.0) -> None:
    """Stop the Spark JVM and every other process this run started, and
    wait until each has ended. The JVM exits on EOF on its stdin; what is
    still alive after ``timeout_s`` is killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
    if _reap_all(time.monotonic() + timeout_s):
        return
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if _reap_all(time.monotonic() + 10.0):
            return


def configure_env(root: str, scratch: str) -> None:
    """Keep every Spark/Python temp file inside the checkout, let Spark's
    Python workers import the library, and pin parallelism to nproc."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={scratch} -Dderby.system.home={scratch}"
    )
    if root not in sys.path:
        sys.path.insert(0, root)


def spark_conf(scratch: str, event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
    }
    if event_dir:
        conf.update(tr.event_log_conf(event_dir))
    return conf


def tree_digest(root: str) -> str:
    """Digest of the library sources measured (a benchmark checkout need
    not be a git tree)."""
    h = hashlib.sha256()
    pkg = os.path.join(root, PKG)
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def rss_peak_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(x.split()[1]) for x in f if x.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + py_kb) / 1024.0


def medians_by_name(ops: list[wl.Op]) -> dict[str, float]:
    """Median time per operation name (query, or intent kind)."""
    per: dict[str, list[float]] = {}
    for op in ops:
        per.setdefault(op.name, []).append(op.wall_s)
    return {k: statistics.median(v) for k, v in per.items()}


def end_to_end(ph: wl.Phase, setup_s: float) -> dict[str, float]:
    med = medians_by_name(ph.ops)
    return {
        "setup_s": setup_s,
        "ops_per_s": len(ph.ops) / ph.elapsed_s,
        "op_geomean_s": statistics.geometric_mean(med[op.name] for op in ph.ops),
    }


def run(args, root: str, scratch: str, expected: dict, units: dict) -> tuple[dict, dict]:
    configure_env(root, scratch)
    event_dir = os.path.join(scratch, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    t0 = time.perf_counter()
    from airflow_subscription_etl_spark import session

    spark = session.get_spark("perfbench", extra_conf=spark_conf(scratch, event_dir))
    session_s = time.perf_counter() - t0
    w = wl.WORKLOADS[args.workload](args.seed)
    phases = {"session": session_s}

    def mark(name: str) -> None:
        phases[name] = time.perf_counter() - t0 - sum(phases.values())

    try:
        w.prepare(CACHE, scratch)
        mark("prepare")
        errors = w.warm(spark, expected.get(args.workload, {}))
        mark("warm")
        setup_s = time.perf_counter() - t0
        base = w.timed(spark, args.seconds, None)
        mark("timed")
        traced = rec = None
        phases_run = [base]
        if args.trace:
            # a second untraced phase, as warm as the traced one, is the
            # reference for trace.overhead_ratio
            reference = w.timed(spark, args.seconds, None)
            rec = tr.Recorder()
            restore = tr.instrument(rec)
            try:
                traced = w.timed(spark, args.seconds, rec)
            finally:
                restore()
            phases_run += [reference, traced]
        # every failed op and every failed output check is one error
        errors += [e for ph in phases_run for e in ph.errors]
        if rec is not None:
            errors += [
                f"{rec.spans[sid].name}: child spans cover {c:.3f} of its wall time"
                for sid, c in tr.child_coverage(rec, "op").items()
                if c < MIN_COVERAGE
            ]
        mark("trace_phases")
        errors += w.verify()
        mark("verify")
        rss = rss_peak_mb(spark) if args.trace else None
        context = {"workload": args.workload, "seed": args.seed, "tree": tree_digest(root)}
        context["calibration_sec"] = _calibration(spark)
    finally:
        spark.stop()
    mark("stop")
    context["phases_s"] = {k: round(v, 2) for k, v in phases.items()}
    attempted = sum(len(ph.ops) for ph in phases_run)
    failed = min(attempted, len(errors))
    metrics = end_to_end(base, setup_s)
    if args.trace:
        jobs = tr.fold_event_log(tr.find_event_log(event_dir))
        metrics = per_layer(w, base, reference, traced, rec, jobs, session_s, failed / attempted)
        metrics["rss_peak_mb"] = rss
        context["traced_op_median"] = op_split(rec, tr.jobs_by_span(jobs))
        os.makedirs(OUT, exist_ok=True)
        rec.dump(os.path.join(OUT, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    context["op_median_s"] = {k: round(v, 3) for k, v in medians_by_name(base.ops).items()}
    context["op_count"] = {k: sum(op.name == k for op in base.ops) for k in context["op_median_s"]}
    context["errors"] = errors[:20]
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, context


def _calibration(spark) -> float:
    """``bench.calibration_sec``: the host anchor bench.py records."""
    import bench

    return bench.calibration_sec(spark)


# --------------------------------------------------------------------------
# per-layer metrics


def per_layer(w, base, reference, traced, rec, jobs, session_s, failed_ratio) -> dict[str, float]:
    spans = rec.spans
    by_span = tr.jobs_by_span(jobs)
    parent = {s.sid: s.parent for s in spans}
    layer = {s.sid: s.layer for s in spans}

    def under(sid: int, lay: str, name: str | None = None) -> bool:
        while sid is not None:
            if layer[sid] == lay and (name is None or spans[sid].name == name):
                return True
            sid = parent[sid]
        return False

    units = traced.passes
    m: dict[str, float] = {}

    def sel(lay, name=None):
        return [s for s in spans if s.layer == lay and (name is None or s.name == name)]

    def njobs(ss):
        return sum(len(by_span.get(s.sid, [])) for s in ss)

    def jobs_under(lay, name=None):
        return [j for sid, js in by_span.items() if under(sid, lay, name) for j in js]

    m["session.get_spark_s"] = session_s
    rs = sel("sources", "read_star_table")
    m["sources.read_star_table.calls"] = len(rs) / units
    m["sources.read_star_table.s"] = sum(s.dur for s in rs) / units
    m["sources.read_star_table.jobs"] = njobs(rs) / units
    rj = sel("sources", "read_json_table")
    m["sources.read_json.calls"] = len(rj) / units
    m["sources.read_json.s"] = sum(s.dur for s in rj) / units
    wj = sel("sources", "write_json_table")
    m["sources.write_json.s"] = sum(s.dur for s in wj) / units
    m["sources.write_json.jobs"] = njobs(wj) / units
    writes = getattr(w, "writes", 0)
    m["sources.write_json.bytes_per_intent"] = w.write_bytes / writes if writes else 0.0
    m["sources.write_json.amplification"] = w.rows_rewritten / writes if writes else 0.0
    q = sel("queries")
    m["queries.build_s"] = sum(s.dur for s in q) / units
    m["queries.build_jobs"] = len(jobs_under("queries")) / units
    for mod in tr.OPERATOR_MODULES:
        ss = sel(f"operators.{mod}")
        m[f"operators.{mod}.self_s"] = sum(s.self_s for s in ss) / units
        m[f"operators.{mod}.jobs"] = njobs(ss) / units
    ri = sel("pipeline", "run_intent")
    m["pipeline.run_intent.self_s"] = sum(s.self_s for s in ri) / units
    m["pipeline.jobs_per_intent"] = len(jobs_under("pipeline")) / len(ri) if ri else 0.0
    views = [op.wall_s for op in base.ops if op.kind == "view"]
    wr = [op.wall_s for op in base.ops if op.kind == "write"]
    m["pipeline.view_p50_s"] = statistics.median(views) if views else 0.0
    m["pipeline.write_p50_s"] = statistics.median(wr) if wr else 0.0
    m["spark.plan_s"] = sum(s.dur for s in sel("spark.plan")) / units
    m["spark.exec_s"] = sum(s.dur for s in sel("spark.exec")) / units
    js = jobs_under("op")
    m["spark.jobs"] = len(js) / units
    m["spark.stages"] = sum(len(j.stages) for j in js) / units
    for key, attr in (
        ("tasks", "tasks"),
        ("executor_run_s", "run_s"),
        ("executor_cpu_s", "cpu_s"),
        ("gc_s", "gc_s"),
        ("task_overhead_s", "overhead_s"),
        ("input_bytes", "input_bytes"),
        ("shuffle_read_bytes", "shuffle_read_bytes"),
        ("shuffle_write_bytes", "shuffle_write_bytes"),
        ("spill_bytes", "spill_bytes"),
        ("python_worker_s", "python_s"),
        ("failed_tasks", "failed_tasks"),
    ):
        m[f"spark.{key}"] = sum(getattr(j, attr) for j in js) / units
    m["trace.overhead_ratio"] = _matched_ratio(reference.ops, traced.ops)
    m["trace.span_coverage_min"] = min(tr.child_coverage(rec, "op").values())
    m["failed_ratio"] = failed_ratio
    return m


def op_split(rec, by_span) -> dict[str, dict[str, float]]:
    """Per operation name, the median over its traced runs of: wall time,
    time in each layer of its direct child spans, time in ``sources``
    spans, and the Spark jobs, executor and Python-worker time and
    shuffle bytes under it. Shows where each query or intent spends."""
    spans = rec.spans
    top: dict[int, int] = {}
    for s in spans:  # parents precede children
        if s.layer == "op":
            top[s.sid] = s.sid
        elif s.parent in top:
            top[s.sid] = top[s.parent]
    zero = {"jobs": 0, "executor_run_s": 0.0, "python_worker_s": 0.0, "shuffle_mb": 0.0}
    rows = {sid: {"wall_s": spans[sid].dur, **zero} for sid, t in top.items() if sid == t}
    for s in spans:
        if s.sid not in top or s.layer == "op":
            continue
        row = rows[top[s.sid]]
        if s.parent == top[s.sid]:
            row[f"{s.layer}_s"] = row.get(f"{s.layer}_s", 0.0) + s.dur
        if s.layer == "sources":
            row["sources_s"] = row.get("sources_s", 0.0) + s.dur
    for sid, js in by_span.items():
        if sid in top:
            row = rows[top[sid]]
            for j in js:
                row["jobs"] += 1
                row["executor_run_s"] += j.run_s
                row["python_worker_s"] += j.python_s
                row["shuffle_mb"] += (j.shuffle_read_bytes + j.shuffle_write_bytes) / 2**20
    by_name: dict[str, list[dict[str, float]]] = {}
    for sid, row in rows.items():
        by_name.setdefault(spans[sid].name, []).append(row)
    return {
        name: {
            k: round(statistics.median(r.get(k, 0.0) for r in rs), 3)
            for k in sorted({k for r in rs for k in r})
        }
        for name, rs in by_name.items()
    }


def _matched_ratio(base_ops, traced_ops) -> float:
    """Traced over untraced time, matched per operation name (query or
    intent kind) and weighted by the untraced phase's mix."""
    b, t = medians_by_name(base_ops), medians_by_name(traced_ops)
    weight = {k: sum(op.name == k for op in base_ops) for k in b if k in t}
    return sum(weight[k] * t[k] for k in weight) / sum(weight[k] * b[k] for k in weight)


def _units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {root}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    os.makedirs(CACHE, exist_ok=True)
    wl.ensure_star(CACHE, wl.STAR_SF, expected["inputs"][f"sf{wl.STAR_SF}"])
    become_subreaper()
    scratch = tempfile.mkdtemp(prefix="run_", dir=CACHE)
    try:
        result, context = run(args, root, scratch, expected, _units())
    finally:
        stop_processes()
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
