"""Round-7 fixes: the r6 verdict's evidence-pipeline items (bench.py).
Each test pins the exact failure mode described, so a regression
re-introducing it is loud. The ADVICE r6 ``_round_like_spark``
boundary guard is pinned in tests/test_clustering.py."""

from __future__ import annotations

import ast
import pathlib

import bench

ROOT = pathlib.Path(__file__).resolve().parent.parent

# --- bench.py: steady-slice headline + 4th-pass median (ADVICE r6 +
# verdict #6) ----------------------------------------------------------------


def test_summarize_two_agreeing_passes_min():
    assert bench.summarize_passes([1.0, 1.05]) == (1.0, 0.05)


def test_summarize_adjudicated_min_excludes_pass0():
    """ADVICE r6: when the adjudication pass ran, pass 0 (cache
    warm-up) must not supply the headline min — min and spread must
    come from the SAME steady slice."""
    timing, spread = bench.summarize_passes([0.5, 1.0, 1.02])
    assert timing == 1.0  # NOT the anomalous 0.5 warm-up pass
    assert spread == 0.02


def test_summarize_four_passes_reports_steady_median():
    """Verdict r6 #6: steady spread >0.30 after the 3rd pass → a 4th
    runs and the headline is the MEDIAN of steady passes, which one
    anomalously fast pass can't anoint."""
    timing, spread = bench.summarize_passes([1.0, 0.5, 1.0, 0.9])
    assert timing == 0.9
    assert spread == 1.0


def test_bench_stdout_line_stays_compact():
    """BENCH_r06.json had parsed=null: the inline spread dict pushed
    the machine-JSON stdout line past the driver's bounded tail
    capture — and by r8 the grown `queries` dict alone did the same,
    so VERDICT r12 #1 moved per-query timings out of the line entirely
    (the original r7 assertion that `queries` stays IN the line is
    superseded; tests/test_bench_policy.py pins the byte budget). The
    machine line is now built by the pure `machine_line()` whose dict
    literal must never re-grow any per-query dict."""
    tree = ast.parse((ROOT / "bench.py").read_text())
    fn = next(
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "machine_line"
    )
    out_keys: set[str] = set()
    for node in ast.walk(fn):
        if (
            isinstance(node, ast.AnnAssign)
            and isinstance(node.target, ast.Name)
            and node.target.id == "out"
            and isinstance(node.value, ast.Dict)
        ) or (
            isinstance(node, ast.Assign)
            and any(
                isinstance(t, ast.Name) and t.id == "out" for t in node.targets
            )
            and isinstance(node.value, ast.Dict)
        ):
            out_keys = {
                k.value for k in node.value.keys if isinstance(k, ast.Constant)
            }
    assert out_keys, "machine_line must build the line as a dict literal"
    for heavy in ("queries", "spread", "passes"):
        assert heavy not in out_keys
    # the per-query evidence must go to the detail file instead, and
    # the line must NAME that file so a judge can follow it
    assert "detail" in out_keys
    src = (ROOT / "bench.py").read_text()
    assert "BENCH_DETAIL.json" in src
    # runs_per_query numeric again (ADVICE r6): find the literal
    assert '"runs_per_query": 2,' in src
