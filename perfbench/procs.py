"""The benchmark's own process tree, read from /proc: its memory, the
host's steal time, and an orderly stop of the Spark JVM."""

from __future__ import annotations

import os
import signal
import threading
import time

TICK = os.sysconf("SC_CLK_TCK")


class TreeRss:
    """Peak resident memory (PSS) of this process and all its descendants
    (the JVM and the Python workers), sampled from /proc while armed.
    The subtree under ``exclude`` (the benchmark's checker) is left out."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.exclude: int | None = None
        self.peak_kb = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample_kb(self) -> int:
        pids = descendants()
        if self.exclude is not None:
            pids -= descendants(self.exclude)
        return sum(pss_kb(pid) for pid in pids)

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._armed.is_set():
                self.peak_kb = max(self.peak_kb, self.sample_kb())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def arm(self) -> None:
        """Start a new peak: only samples from now on count."""
        self.peak_kb = self.sample_kb()
        self._armed.set()

    def disarm(self) -> float:
        """Stop sampling; returns the peak since ``arm`` in MB."""
        self._armed.clear()
        self.peak_kb = max(self.peak_kb, self.sample_kb())
        return self.peak_kb / 1024


def descendants(root: int | None = None) -> set[int]:
    """Pids of ``root`` (default: this process) and every live descendant."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    me, out = root or os.getpid(), set()
    for pid in parent:
        p = pid
        while p not in (0, 1, me) and p in parent:
            p = parent[p]
        if p == me:
            out.add(pid)
    return out


def pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers count once in total, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    """True while ``pid`` runs; a zombie (ended, not yet reaped) counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_processes(timeout: float = 30) -> None:
    """Stop the Spark JVM this process launched, then wait until it and its
    Python workers have ended; kill whatever is left at the timeout."""
    from pyspark import SparkContext

    pids = descendants() - {os.getpid()}
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
    deadline = time.time() + timeout
    while time.time() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, signal.SIGKILL)
    for p in pids:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def steal_seconds() -> float:
    """CPU seconds the hypervisor has taken from this machine since boot,
    summed over all CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / TICK
