"""Host-noise disclosure and process memory for the engine benchmark:
hypervisor steal and interval times with it taken out, load average,
effective cores from a fixed calibration, and the peak resident memory of
the driver's Python process and JVM."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu ticks: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float | None:
    """Percent of non-idle guest time the hypervisor took between two
    :func:`cpu_ticks` snapshots; a VM's loadavg can read idle while its
    vCPUs are starved, and steal is the only guest-visible witness."""
    d = [y - x for x, y in zip(before, after)]
    busy = sum(d) - d[3] - d[4]
    return d[7] / busy * 100.0 if busy > 0 else None


def unstolen_s(wall_s: float, before: list[int], after: list[int]) -> float:
    """``wall_s`` less the hypervisor's share of it: wall x (1 - steal
    share of the busy ticks between the two snapshots). A stolen tick is
    one a vCPU wanted to run and the host gave to another guest, so a
    block whose steal share is s took 1 / (1 - s) times the wall it takes
    on a host of its own."""
    return wall_s * (1.0 - (steal_pct(before, after) or 0.0) / 100.0)


class Interval:
    """Times a block: ``wall_s`` as it passed, ``unstolen_s`` with the
    host's steal taken out. On a shared host steal moves between 1% and
    35% from one minute to the next and stretches every wall with it,
    whatever the program does; the benchmark reports unstolen times."""

    def __enter__(self) -> "Interval":
        self._ticks = cpu_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self.unstolen_s = unstolen_s(self.wall_s, self._ticks, cpu_ticks())


#: iterations of the calibration loop (about 0.15 s of one core)
CALIB_ITERS = 2_500_000
_CALIB_CODE = f"x = 0\nfor i in range({CALIB_ITERS}):\n    x += i\n"


def _loops_wall(n: int) -> float:
    """Wall time of ``n`` interpreters each running the calibration loop at
    once (plain child processes: no shared-memory semaphores)."""
    t0 = time.perf_counter()
    procs = [
        subprocess.Popen([sys.executable, "-I", "-S", "-c", _CALIB_CODE])
        for _ in range(n)
    ]
    for p in procs:
        if p.wait() != 0:
            raise RuntimeError(f"calibration loop exited with {p.returncode}")
    return time.perf_counter() - t0


def calibrate(n_procs: int) -> dict:
    """Serial and ``n_procs``-way times of a fixed pure-Python loop;
    ``effective_cores = n_procs x serial / parallel`` is the parallel
    capacity the host delivers right now (a co-scheduled guest can halve
    it with no steal and full single-thread speed)."""
    serial = _loops_wall(1)
    parallel = _loops_wall(n_procs)
    return {
        "calib_serial_s": serial,
        "calib_parallel_s": parallel,
        "effective_cores": n_procs * serial / parallel,
    }


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, ValueError, IndexError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class PeakRss:
    """Samples the summed resident memory of ``pids`` (the driver's Python
    process and its JVM) from ``/proc`` while active; ``peak_mb`` is the
    largest sum seen. Short-lived children the JVM forks are left out on
    purpose: until they exec they show the JVM's own pages as theirs."""

    INTERVAL_S = 0.02

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.pids))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
