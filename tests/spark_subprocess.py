"""Run a PySpark script in its own driver process.

Fault-injection tests need a ``local[2,2]`` master (one retry per task),
which the suite's shared session cannot give. Each such test passes its
script here: it runs under the interpreter running the tests, with the
repo root on ``PYTHONPATH``, and must print its result as JSON on its last
stdout line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_script(script: str, *args: str, timeout: float = 600):
    """→ the JSON value the last stdout line of ``script`` holds; asserts
    the process exited 0 (the assert message is the tail of its stderr)."""
    proc = subprocess.run(
        [sys.executable, "-c", script, *args],
        capture_output=True, text=True, timeout=timeout,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])
