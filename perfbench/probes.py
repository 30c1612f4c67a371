"""Host probes: contention record and process-tree memory.

* ``contention()`` — core count, load average and a short spin probe
  (best of several fixed pure-Python loops). Taken before and after a
  run; a run whose spin times disagree by more than ``SPIN_TOLERANCE``
  is flagged as contended, because something else took the CPU.
* ``RssSampler`` — samples the resident set of this process and all its
  descendants (the Spark JVM and its Python workers) from
  ``/proc`` and keeps the peak, also folding in each live process's own
  high-water mark when stopped.
"""

from __future__ import annotations

import os
import threading
import time

SPIN_TOLERANCE = 0.25


def _spin_ms(loops: int = 200_000, repeats: int = 15) -> float:
    """Best-of-``repeats`` time of a fixed loop (the first pass warms up)."""
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        x = 0
        for i in range(loops):
            x += i
        best = min(best, time.perf_counter() - t0)
    return best * 1000.0


def contention() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "spin_ms": _spin_ms(),
    }


def contended(before: dict, after: dict) -> bool:
    a, b = before["spin_ms"], after["spin_ms"]
    return max(a, b) / min(a, b) - 1.0 > SPIN_TOLERANCE


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Background sampler of the process tree's summed resident set."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        return sum(_status_kb(p, "VmRSS") for p in _tree(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        hwm = sum(_status_kb(p, "VmHWM") for p in _tree(os.getpid()))
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_kb = max(self.peak_kb, hwm)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
