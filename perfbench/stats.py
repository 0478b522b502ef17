"""Order statistics and process-tree memory for the benchmark."""

from __future__ import annotations

import os
import threading
from typing import Dict, List, Sequence, Tuple

MIN_BEYOND = 10  # a tail percentile needs this many samples above it


def median(xs: Sequence[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def tail(xs: Sequence[float]) -> Tuple[float, float, int]:
    """The highest percentile with at least ``MIN_BEYOND`` samples beyond
    it: ``(value, percentile, sample count)``.

    By nearest rank, the sample of rank ``k`` (1-based, ascending) is the
    ``100 * k / n`` percentile and has ``n - k`` samples beyond it, so the
    answer is rank ``n - MIN_BEYOND``."""
    n = len(xs)
    if n <= MIN_BEYOND:
        raise ValueError(
            f"a tail percentile needs more than {MIN_BEYOND} samples, got {n}"
        )
    k = n - MIN_BEYOND
    return sorted(xs)[k - 1], 100.0 * k / n, n


# --- process tree memory (from /proc; psutil is not installed) -------------


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> List[int]:
    """Every live process below ``pid``."""
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as fh:
            for line in fh:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb(pid: int) -> int:
    return rss_kb(pid) + sum(rss_kb(p) for p in descendants(pid))


class PeakRss:
    """Samples the RSS summed over this process and all its descendants
    (driver, JVM, Python workers) on a background thread; :meth:`take_mb`
    returns the largest sum seen since its last call. Use as a context
    manager."""

    def __init__(self, interval: float = 0.2):
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._lock = threading.Lock()
        self._peak_kb = 0

    def _sample(self) -> None:
        kb = tree_rss_kb(os.getpid())
        with self._lock:
            self._peak_kb = max(self._peak_kb, kb)

    def take_mb(self) -> float:
        """The peak since the last call, in MB, from a window that ends
        with a sample taken now; the next window starts here."""
        self._sample()
        with self._lock:
            kb, self._peak_kb = self._peak_kb, 0
        return kb / 1024.0

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
