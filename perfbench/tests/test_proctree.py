"""Process-tree memory: a spawned child sharing its parent's address
space is not counted twice."""

import os
import subprocess
import sys

import proctree


def test_shared_address_space_counted_once():
    stats = {
        10: (1, 6_000, 600),  # the JVM, child of the root
        11: (10, 6_000, 600),  # JVM child before exec: same mm
        12: (10, 100, 50),  # worker daemon
        13: (12, 120, 40),  # a forked worker that has diverged
    }
    assert proctree.resident_pages(stats) == 690


def test_tree_sees_a_child_and_its_cpu():
    child = subprocess.Popen(
        [sys.executable, "-c", "x = bytearray(80_000_000); [sum(range(10**6)) for _ in range(30)]; input()"],
        stdin=subprocess.PIPE,
    )
    try:
        pid = os.getpid()
        for _ in range(200):
            if proctree.tree_rss_mb(pid) > 80 and proctree.tree_cpu_s(pid) > 0.1:
                break
            subprocess.run(["sleep", "0.05"])
        assert child.pid in proctree.descendants(pid)
        assert proctree.tree_rss_mb(pid) > 80
        assert proctree.tree_cpu_s(pid) > 0.1
    finally:
        child.communicate(b"\n", timeout=30)
    assert child.returncode == 0
