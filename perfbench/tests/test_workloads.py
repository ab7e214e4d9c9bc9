"""The figures the end-to-end metrics are made of: CPU seconds of the
process tree, and the typical pass and operation over per-operation
samples."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import workloads  # noqa: E402

# burns 0.3 s of CPU, says so, then waits for stdin to close
BURN = (
    "import sys, time\n"
    "t = time.process_time()\n"
    "while time.process_time() - t < 0.3: pass\n"
    "print(flush=True)\n"
    "sys.stdin.read()\n"
)


def test_work_cpu_counts_children_live_and_waited_for():
    before = workloads.work_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    try:
        child.stdout.readline()  # blocks without using CPU
        live = workloads.work_cpu_s() - before
    finally:
        child.communicate(b"")
    assert live >= 0.25  # ticks of 10 ms, sampled
    assert workloads.work_cpu_s() - before >= 0.25


def test_typical_pass_and_operation():
    per_op = {"a": [1.0, 9.0, 2.0], "b": [4.0, 4.0, 40.0]}
    # one slow sample in each operation is dropped
    assert workloads.typical_pass(per_op) == 6.0
    assert workloads.typical(per_op) == pytest.approx(8**0.5)
    assert workloads.typical({"a": [0.0]}) == 0.0
