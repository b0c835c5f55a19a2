"""Process hygiene of the entry point: nothing a run starts outlives it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stop_processes_reaps_orphaned_grandchildren(tmp_path):
    # the shell exits at once and orphans its `sleep`, as a JVM that exits
    # orphans Spark's Python workers; the subreaper must still end it
    script = textwrap.dedent(
        """
        import os, subprocess, sys, time
        sys.path.insert(0, sys.argv[1])
        import run
        run.become_subreaper()
        subprocess.Popen(["sh", "-c", "sleep 60 & echo $!"], stdout=open("pid", "w")).wait()
        orphan = int(open("pid").read())
        assert orphan in run._children(os.getpid())
        t0 = time.monotonic()
        run.stop_processes(timeout_s=0.5)
        assert time.monotonic() - t0 < 10
        assert run._children(os.getpid()) == []
        assert not os.path.exists(f"/proc/{orphan}")
        print("ok")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script, BENCH],
        capture_output=True,
        text=True,
        timeout=60,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
