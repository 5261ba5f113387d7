"""The benchmark's own self-test (perfbench/selftest.py): its spec checks,
its output checks and a small smoke run of every workload, untraced and
traced. The workloads drive ValidationEngine.validate and synth.dims, so a
change to the engine that breaks the benchmark fails here."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_selftest():
    out = subprocess.run(
        [sys.executable, "perfbench/selftest.py"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1500,
    )
    assert out.returncode == 0, out.stdout[-3000:] + out.stderr[-3000:]
