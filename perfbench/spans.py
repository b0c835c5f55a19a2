"""Span recorder, runtime instrumentation and Spark event-log folding.

Spans are taken from outside the library: :func:`instrument` replaces,
for the duration of a traced run, every public function that the
engine's modules bind (``session``, ``sources.io``, ``plans.pipeline``,
``operators.*``) with a wrapper that opens a span around the call. The
library itself is never edited, and :func:`instrument` returns the undo.

Each span sets the thread-local ``spark.jobGroup.id`` to its own id and
restores the previous value on exit, so every Spark job launched while
the span is innermost carries that id in the event log.
:func:`fold_event_log` reads the uncompressed, non-rolling JSON event
log and folds job, stage and task metrics onto the spans.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "airflow_subscription_etl_spark"

OPERATOR_MODULES = (
    "relational",
    "mutations",
    "temporal",
    "scale",
    "sketch",
    "sampling",
    "dedup",
    "similarity",
    "text",
    "clustering",
    "graph",
    "packing",
    "multimodal",
)

#: layer name → (module, public functions to wrap; None = all public)
LAYERS: dict[str, tuple[str, tuple[str, ...] | None]] = {
    "session": ("session", ("get_spark",)),
    "sources": ("sources.io", ("read_star_table", "read_json_table", "write_json_table")),
    "pipeline": ("plans.pipeline", ("run_intent",)),
    **{f"operators.{m}": (f"operators.{m}", None) for m in OPERATOR_MODULES},
}

#: modules whose namespaces bind the wrapped names (``from x import f``)
BINDERS = (
    "",
    "session",
    "queries",
    "plans",
    "plans.pipeline",
    "sources.io",
    *(f"operators.{m}" for m in OPERATOR_MODULES),
)

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    child_s: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


@dataclass
class Recorder:
    """In-memory span store; written out only when the run ends."""

    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)

    def _sc(self):
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), parent.sid if parent else None, layer, name, 0.0)
        self.spans.append(s)
        self.stack.append(s)
        sc = self._sc()
        prev = sc.getLocalProperty(GROUP_KEY) if sc is not None else None
        if sc is not None:
            sc.setLocalProperty(GROUP_KEY, f"pb{s.sid}")
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                parent.child_s += s.dur
            sc = self._sc()
            if sc is not None:
                sc.setLocalProperty(GROUP_KEY, prev)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def child_coverage(rec: Recorder, layer: str) -> dict[int, float]:
    """Span id → share of its wall time covered by its direct children,
    for every span of ``layer``."""
    return {s.sid: s.child_s / s.dur for s in rec.spans if s.layer == layer}


def _wrap(rec: Recorder, layer: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with rec.span(layer, fn.__name__):
            return fn(*args, **kwargs)

    return traced


def _public_functions(mod, names):
    for name, obj in vars(mod).items():
        if names is not None and name not in names:
            continue
        if name.startswith("_") or not inspect.isfunction(obj):
            continue
        # skip functions bound from elsewhere and UDF objects (pickled to
        # Python workers, which must see the plain library function)
        if obj.__module__ != mod.__name__ or hasattr(obj, "evalType"):
            continue
        yield name, obj


def instrument(rec: Recorder):
    """Wrap every layer function and rebind it in every binder module.
    Returns a callable that restores the original bindings."""
    wrapped: dict[int, object] = {}
    for layer, (modname, names) in LAYERS.items():
        mod = importlib.import_module(f"{PKG}.{modname}")
        for _, fn in _public_functions(mod, names):
            wrapped[id(fn)] = _wrap(rec, layer, fn)
    undo: list[tuple[object, str, object]] = []
    for b in BINDERS:
        mod = importlib.import_module(f"{PKG}.{b}" if b else PKG)
        for name, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None:
                undo.append((mod, name, obj))
                setattr(mod, name, w)

    def restore() -> None:
        for mod, name, obj in undo:
            setattr(mod, name, obj)

    return restore


# --------------------------------------------------------------------------
# event log


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Confs for a traced session. Spark 4.1 defaults to zstd-compressed
    rolling logs; this folder reads plain JSON lines only."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class JobStats:
    group: str | None
    stages: set = field(default_factory=set)
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    overhead_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_s: float = 0.0


#: the Arrow/pandas Python exec SQL metric holding worker run time (ms)
_PY_RUN_METRIC = "time to run Python workers"


def fold_event_log(path: str) -> dict[int, JobStats]:
    """Job id → stats, folded from one uncompressed JSON event log."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = JobStats(props.get(GROUP_KEY))
                jobs[ev["Job ID"]] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                _fold_task(jobs[jid], ev)
    return jobs


def _fold_task(j: JobStats, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    j.stages.add(ev["Stage ID"])
    j.tasks += 1
    j.failed_tasks += bool(info.get("Failed"))
    run_ms = m.get("Executor Run Time", 0)
    j.run_s += run_ms / 1e3
    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    j.gc_s += m.get("JVM GC Time", 0) / 1e3
    wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    j.overhead_s += max(wall_ms - run_ms, 0) / 1e3
    j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    j.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    j.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables") or []:
        if acc.get("Name") == _PY_RUN_METRIC:
            j.python_s += float(acc.get("Update") or 0) / 1e3


def find_event_log(log_dir: str) -> str:
    """The single finished application log in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def jobs_by_span(jobs: dict[int, JobStats]) -> dict[int, list[JobStats]]:
    out: dict[int, list[JobStats]] = defaultdict(list)
    for j in jobs.values():
        if j.group and j.group.startswith("pb"):
            out[int(j.group[2:])].append(j)
    return out
