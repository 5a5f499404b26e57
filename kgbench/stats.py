"""Sample aggregation and process-tree memory sampling."""
from __future__ import annotations

import os
import statistics
import threading
from typing import Dict, List, Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# peak RSS of this process and every descendant (driver, JVM, Python workers)
# ---------------------------------------------------------------------------

def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # process exited between listdir and open
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _resident_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/comm") as f:
        comm = f.read().strip()
    if comm == "java":
        # shares nothing with the tree; smaps_rollup would walk its whole
        # heap (tens of ms per read)
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_pids(root: int) -> List[int]:
    """``root`` and every process below it."""
    kids = _children_map()
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        stack.extend(kids.get(pid, ()))
    return pids


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and its descendants.

    Python processes count their proportional set size (a page shared by k
    processes counts 1/k in each): the Python workers are forked from one
    daemon and share its pages, so plain RSS would count those pages once
    per live worker, and the number of live workers varies run to run."""
    total = 0
    for pid in tree_pids(root):
        try:
            total += _resident_bytes(pid)
        except OSError:  # process exited while being read
            continue
    return total


class PeakRss:
    """Samples the process tree's resident memory in a background thread
    while the ``with`` block runs; ``peak_bytes`` is the largest sample."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        # one last sample so a short block still records its end state
        self._sample()

    def _sample(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)
