"""The library surface stays caller-driven: every public top-level
function of the package has a caller outside ``tests/``, unless it is
allowlisted below with the reason it stays.

Callers are found by an AST scan, by name: a reference is a name, an
attribute, an imported name or an identifier-shaped string constant
(``perfbench/spans.py`` names its traced functions in string tuples)
anywhere in the package, ``dags/``, ``tools/``, ``perfbench/``,
``bench.py`` or ``__spark_entry__.py`` — outside the function's own
body. Matching by bare name can only over-count callers, so a failure
here is never a false alarm.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "airflow_subscription_etl_spark"
CALLER_ROOTS = (
    PKG,
    ROOT / "dags",
    ROOT / "tools",
    ROOT / "perfbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
)

_REFERENCE = "reference kernel the tests compare its Arrow/numpy twin against"
_STREAM = "streaming face (ROADMAP direction 3)"
_STREAM_STATE = "state maintenance of a streaming face (ROADMAP direction 3)"
_DEMO = "scale/sketch demo, not yet reviewed for deletion"

#: module-qualified name (relative to the package) → why it stays
ALLOWED_TEST_ONLY = {
    "operators.clustering.assign_clusters": _REFERENCE,
    "operators.similarity.pq_encode": (
        "reference encoder test_pq checks pq_topk's codes against"
    ),
    "operators.similarity.random_projection_topk": _REFERENCE,
    "oracles.xxh64.spark_xxhash64": (
        "pure-Python oracle the xxhash64 tests pin Spark's hash to"
    ),
    "cache.pinned_count": "introspection the cache-pinning tests assert on",
    "operators.scale.write_bucketed": _DEMO,
    "operators.scale.zorder_repartition": _DEMO,
    "operators.similarity.centroid_per_label": _DEMO,
    "operators.sketch.cms_merge": _DEMO,
    "streaming.budget_stream.start_budget_admission": _STREAM,
    "streaming.budget_stream.prune_budget_state": _STREAM_STATE,
    "streaming.dedup_stream.start_dedup_index_sink": _STREAM,
    "streaming.dedup_stream.read_all_pairs": _STREAM_STATE,
    "streaming.drift_stream.start_drift_monitor": _STREAM,
    "streaming.drift_stream.start_novelty_monitor": _STREAM,
    "streaming.drift_stream.refresh_drift_baseline": _STREAM_STATE,
    "streaming.events.read_events_stream": _STREAM,
    "streaming.events.enrich_stream_with_dim": _STREAM,
    "streaming.events.tws_user_totals": _STREAM,
    "streaming.rp_stream.start_rp_index_append": _STREAM,
    "streaming.rp_stream.start_rp_knn_stream": _STREAM,
    "streaming.rp_stream.compact_rp_index": _STREAM_STATE,
    "streaming.source_matrix_stream.start_source_matrix_stream": _STREAM,
    "streaming.source_matrix_stream.prune_source_matrix_state": _STREAM_STATE,
    "streaming.span_stream.start_span_dedup_stream": _STREAM,
    "streaming.span_stream.prune_span_state": _STREAM_STATE,
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _scan() -> tuple[dict[str, str], set[str]]:
    """(qualified name → bare name of every public top-level package
    function, every name referenced outside tests and outside the
    referencing function's own body)."""
    public: dict[str, str] = {}
    refs: set[str] = set()
    for root in CALLER_ROOTS:
        files = [root] if root.is_file() else sorted(root.rglob("*.py"))
        for f in files:
            if "tests" in f.relative_to(ROOT).parts:
                continue
            in_pkg = PKG in f.parents
            mod = ".".join(f.relative_to(PKG).with_suffix("").parts) if in_pkg else ""
            for node in ast.parse(f.read_text()).body:
                if (
                    in_pkg
                    and isinstance(node, ast.FunctionDef)
                    and not node.name.startswith("_")
                ):
                    public[f"{mod}.{node.name}"] = node.name
                    refs |= _names(node) - {node.name}
                else:
                    refs |= _names(node)
    return public, refs


def test_every_public_function_has_a_caller_outside_tests():
    public, refs = _scan()
    uncalled = sorted(q for q, name in public.items() if name not in refs)
    unexplained = [q for q in uncalled if q not in ALLOWED_TEST_ONLY]
    assert not unexplained, (
        f"public functions with no caller outside tests/: {unexplained} — "
        "delete them with their tests, or allowlist them with a reason"
    )
    stale = sorted(set(ALLOWED_TEST_ONLY) - set(uncalled))
    assert not stale, (
        f"allowlisted functions that are gone or now have a caller: {stale}"
    )
