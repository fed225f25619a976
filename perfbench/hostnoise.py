"""Host-noise record for one benchmark run (Linux /proc).

Recorded, never gated: CPU steal over the run, the CPU time and peak PSS
of this process tree (the Python driver, the JVM it launched and Spark's
Python workers), and calibration probes the caller runs at start and end.
"""

from __future__ import annotations

import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """Host-wide CPU steal so far (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def calib_py_seconds() -> float:
    """Single-thread interpreter probe in the manner of bench.py's cpu_calib."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * 2654435761) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _stat(pid: int) -> tuple[int, float] | None:
    """(parent pid, user+system CPU seconds) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _CLK_TCK


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class TreeSampler:
    """Samples this process tree once a second on a background thread.

    CPU is kept per pid at its last sample, so a worker that exits between
    samples loses at most one second of its CPU time."""

    def __init__(self, interval_s: float = 1.0):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="tree-sampler", daemon=True)
        self._lock = threading.Lock()
        self._cpu: dict[int, float] = {}
        self.peak_pss_mb = 0.0
        self._steal0 = steal_seconds()

    def __enter__(self) -> TreeSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _tree(self) -> dict[int, float]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit() and (st := _stat(int(name))) is not None:
                stats[int(name)] = st
        root = os.getpid()
        tree = {root}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in stats.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return {pid: stats[pid][1] for pid in tree if pid in stats}

    def sample(self) -> None:
        cpu = self._tree()
        pss = sum(_pss_mb(pid) for pid in cpu)
        with self._lock:
            self._cpu.update(cpu)
            self.peak_pss_mb = max(self.peak_pss_mb, pss)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def record(self) -> dict[str, float]:
        """Final sample, then the run's totals."""
        self.sample()
        with self._lock:
            return {
                "host.steal_s": steal_seconds() - self._steal0,
                "process.cpu_s": sum(self._cpu.values()),
                "process.peak_pss_mb": self.peak_pss_mb,
            }
