"""Resident memory of this process and everything it started.

The driver, the JVM it launches and the Python workers the JVM forks
form one process tree; :class:`PeakRss` sums their resident memory from
``/proc`` every ``interval`` seconds on a background thread and keeps
the maximum, of the sum and of each part (driver, JVM, Python workers)
on its own. Each process counts its proportional set size (PSS): its
resident pages, with a page shared by n processes counted 1/n in each.
Plain RSS would count a forked child's copy-on-write pages twice (the
JVM forks briefly to run shell commands, which doubles its RSS for a
moment), and the workers forked from one daemon share pages too.
"""
from __future__ import annotations

import os
import threading
from contextlib import contextmanager
from pathlib import Path


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:  # the process ended while we looked
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d.name))
    return kids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # the process ended while we looked
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Every live process below root in the process tree."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:  # the process ended while we looked
        return ""


def tree_pss(root: int) -> dict[str, int]:
    """PSS bytes of root and every process below it, by part: root (the
    driver), the JVM, and the rest (the Python workers the JVM forks)."""
    parts = {"driver": _pss_bytes(root), "jvm": 0, "workers": 0}
    for pid in descendants(root):
        parts["jvm" if _comm(pid) == "java" else "workers"] += _pss_bytes(pid)
    return parts


class PeakRss:
    """``with PeakRss() as p: ...`` then ``p.peak_mb`` and
    ``p.part_peaks_mb``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.root = os.getpid()
        self.peak = 0
        self.part_peaks: dict[str, int] = {}
        self._stop = threading.Event()
        self._active = threading.Event()
        self._active.set()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._active.is_set():
                parts = tree_pss(self.root)
                self.peak = max(self.peak, sum(parts.values()))
                for k, v in parts.items():
                    self.part_peaks[k] = max(self.part_peaks.get(k, 0), v)
            self._stop.wait(self.interval)

    @contextmanager
    def paused(self):
        """Leave what runs inside out of the peak."""
        self._active.clear()
        try:
            yield
        finally:
            self._active.set()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    @property
    def part_peaks_mb(self) -> dict[str, float]:
        return {k: v / 2**20 for k, v in self.part_peaks.items()}
