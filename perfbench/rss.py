"""Peak resident memory of this process and all its descendants (the
driver JVM and its Python workers), sampled from /proc.

Each Python process counts its proportional set size (PSS): a page
shared by n processes counts 1/n in each. Python workers are forked
from one daemon and share most of their pages with it, so summing plain
RSS would count those pages once per idle worker and make the figure
depend on how many workers happen to be alive.

The JVM counts its RSS, which the kernel keeps as a counter. It shares
almost no pages with another process, so its PSS is about the same,
but computing PSS walks its whole address space: about 18 ms of CPU per
sample on a 1 GB heap, time taken from the program being measured.
"""

from __future__ import annotations

import os
import threading

from procs import descendants


def _field_kb(path: str, field: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(field):
                return int(line.split()[1])
    return 0


def _mem_bytes(pid: str) -> int:
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() == "java":
            return _field_kb(f"/proc/{pid}/status", "VmRSS:") * 1024
    return _field_kb(f"/proc/{pid}/smaps_rollup", "Pss:") * 1024


def _tree_bytes(root: int) -> int:
    total = 0
    for pid in [root] + [p for p, _ in descendants(root)]:
        try:
            total += _mem_bytes(str(pid))
        except OSError:
            pass  # exited since the scan
    return total


class PeakRss:
    """Samples the process tree's total memory (see above) every
    `interval` seconds; one sample costs about 15 ms of CPU."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_bytes(me))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
