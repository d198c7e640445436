"""The benchmark's own self-test, run as part of the suite.

``perfbench/selftest.py`` runs every workload at the tiny input size,
untraced and traced, checks each declared metric and the DuckDB oracle,
and checks that an injected wrong answer is caught.  A program change
that breaks what the benchmark relies on (a parser regression on its
``.updates`` logs, a renamed entry point, a wrong fold) fails here.
"""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_selftest_passes():
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "selftest.py")],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-4000:]
