"""CPU accounting of the process tree (the round_cpu_s metric)."""

from __future__ import annotations

import subprocess
import sys

from crawlbench.host import tree_cpu_s


def test_tree_cpu_s_counts_a_reaped_child():
    before = tree_cpu_s()
    # busy for ~0.2 s in a child process that has ended by the second read
    subprocess.run(
        [sys.executable, "-c", "x = 0\nfor i in range(4_000_000): x += i"], check=True
    )
    assert tree_cpu_s() - before >= 0.1


def test_tree_cpu_s_never_decreases():
    readings = [tree_cpu_s() for _ in range(5)]
    assert readings == sorted(readings)
