import time

import pytest

from kgbench import stats


def test_median():
    assert stats.median([1.0, 2.0, 3.0, 4.0, 100.0]) == 3.0
    assert stats.median([4.0, 1.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_tree_rss_counts_this_process():
    import os

    assert stats.tree_rss_bytes(os.getpid()) > 1 << 20


def test_peak_rss_samples_while_the_block_runs():
    with stats.PeakRss(interval_s=0.01) as rss:
        blob = bytearray(64 << 20)  # zero-filled, so resident
        time.sleep(0.05)
    assert len(blob) and rss.peak_bytes > 64 << 20
    assert not rss._thread.is_alive()


def test_tree_pids_finds_a_grandchild():
    import os
    import subprocess
    import sys

    child = subprocess.Popen([sys.executable, "-c",
                              "import subprocess, sys; subprocess.run(["
                              "sys.executable, '-c', 'import time; "
                              "time.sleep(30)'])"])
    try:
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            pids = stats.tree_pids(os.getpid())
            if len(pids) >= 3:
                break
            time.sleep(0.05)
        assert pids[0] == os.getpid()
        assert child.pid in pids and len(pids) >= 3
    finally:
        for pid in stats.tree_pids(child.pid)[::-1]:
            os.kill(pid, 9)
        child.wait()
