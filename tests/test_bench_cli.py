"""bench.py's command line: ``--help`` and unknown flags exit before
any Spark work and leave BENCH_LOCAL.json as it was."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LOCAL = os.path.join(ROOT, "BENCH_LOCAL.json")


def _snapshot():
    if not os.path.exists(LOCAL):
        return None
    with open(LOCAL, "rb") as fh:
        return os.stat(LOCAL).st_mtime_ns, fh.read()


@pytest.mark.parametrize(
    "argv, code, expect",
    [
        (["--help"], 0, "--isolate"),
        (["--bogus"], 2, "unrecognized arguments: --bogus"),
    ],
)
def test_bench_cli_exits_without_running(argv, code, expect):
    before = _snapshot()
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py"), *argv],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == code, out.stderr
    assert expect in out.stdout + out.stderr
    assert "SparkSession" not in out.stdout + out.stderr
    assert _snapshot() == before
